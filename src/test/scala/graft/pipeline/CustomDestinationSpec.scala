package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.incremental.Incremental

/** Local-mode observation points for the executor-side push sink —
  * statics shared with the task threads (same JVM under local[*]). */
object CustomDestinationSpec {
  val pushedRows = new AtomicLong(0L)
  val groupSizes = new ConcurrentLinkedQueue[Integer]()
}

class CustomDestinationSpec extends SparkSpec {
  import spark.implicits._

  private def newPipeline() =
    new Pipeline("cds", Files.createTempDirectory("graft-cds").toString, spark)

  test("direct naming, dlt-column strip, and append-only sink calls") {
    val p = newPipeline()
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("Key Col", "v")
    var seen = Vector.empty[(String, Seq[String], Long)]
    val dest = CustomDestination { (frame, t) =>
      seen :+= ((t.name, frame.columns.toSeq, frame.count()))
    }
    p.runTo(Seq(Resource("My RAW Table", df)), dest, "1")
    assert(seen.map(_._1) === Vector("My RAW Table"),
      "direct naming must keep the resource name verbatim")
    assert(seen.head._2 === Seq("Key Col", "v"),
      "_dlt_* stripped, user columns verbatim under direct naming")
    assert(seen.head._3 === 3L)
    // ledger + registry stay local
    assert(p.dataset.loadIds === Seq("1"))
  }

  test("skipDltColumns=false hands the system columns through") {
    val p = newPipeline()
    var cols: Seq[String] = Nil
    val dest = new CustomDestination {
      override def skipDltColumns: Boolean = false
      def sinkFrame(df: org.apache.spark.sql.DataFrame, t: SinkTable): Unit =
        cols = df.columns.toSeq
    }
    p.runTo(Seq(Resource("t", Seq((1, "x")).toDF("a", "b"))), dest, "1")
    assert(cols.contains("_dlt_id") && cols.contains("_dlt_load_id"))
  }

  test("maxTableNesting=0 keeps nested data as JSON — no child tables") {
    val p = newPipeline()
    val nested = Seq((1L, Seq("x", "y"), ("in", 5)), (2L, Seq("z"), ("out", 6)))
      .toDF("id", "tags", "obj")
    var tables = Vector.empty[String]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    val dest = CustomDestination { (df, t) =>
      tables :+= t.name; if (t.name == "items") schema = Some(df.schema)
    }
    p.runTo(Seq(Resource("items", nested)), dest, "1")
    assert(tables === Vector("items"), s"no child tables, got $tables")
    val s = schema.get
    assert(s("tags").dataType.typeName === "string",
      "a list past the nesting cap must serialize to JSON, not explode")
    assert(s("obj").dataType.typeName === "string")
    // a destination with nesting allowed DOES fan out child tables
    var deep = Vector.empty[String]
    val deepDest = new CustomDestination {
      override def maxTableNesting: Int = 10
      def sinkFrame(df: org.apache.spark.sql.DataFrame, t: SinkTable): Unit =
        deep :+= t.name
    }
    newPipeline().runTo(Seq(Resource("items", nested)), deepDest, "1")
    // the direct convention's child-path separator is `▶` (direct.py)
    assert(deep.sorted === Vector("items", "items▶tags"))
  }

  test("pushing mode delivers every row in executor-side groups <= batchSize") {
    CustomDestinationSpec.pushedRows.set(0L)
    CustomDestinationSpec.groupSizes.clear()
    val p = newPipeline()
    val df = (1 to 97).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(5)
    val dest = CustomDestination.pushing(10) { (rows, t) =>
      CustomDestinationSpec.pushedRows.addAndGet(rows.length.toLong)
      CustomDestinationSpec.groupSizes.add(rows.length)
    }
    p.runTo(Seq(Resource("pushed", df)), dest, "1")
    assert(CustomDestinationSpec.pushedRows.get() === 97L)
    val sizes = {
      val it = CustomDestinationSpec.groupSizes.iterator()
      val b = Vector.newBuilder[Int]
      while (it.hasNext) b += it.next().intValue()
      b.result()
    }
    assert(sizes.forall(s => s >= 1 && s <= 10), s"group sizes: $sizes")
  }

  test("incremental cursor advances per runTo and survives a failing sink") {
    val p = newPipeline()
    val events = (1L to 20L).map(i => (i, s"u$i")).toDF("event_id", "user")
    val cfg = Incremental.Config(cursorColumn = "event_id",
      primaryKey = Seq("event_id"))
    def res(f: org.apache.spark.sql.Column) =
      Resource("ev", events.filter(f)).withIncremental(cfg)
    var got = Vector.empty[Long]
    val dest = CustomDestination { (df, _) =>
      got ++= df.select("event_id").as[Long](newLongEncoder).collect()
    }
    p.runTo(Seq(res(col("event_id") <= 10)), dest, "1")
    p.runTo(Seq(res(col("event_id") >= 10)), dest, "2") // overlap at 10
    assert(got.sorted === (1L to 20L).toVector,
      "boundary row must arrive exactly once across the overlap")
    // a sink that throws must NOT advance the cursor: the same window
    // re-delivers on retry
    val p2 = newPipeline()
    var attempt = 0
    var second = Vector.empty[Long]
    val flaky = CustomDestination { (df, _) =>
      attempt += 1
      if (attempt == 1) sys.error("sink down")
      second ++= df.select("event_id").as[Long](newLongEncoder).collect()
    }
    def res2(f: org.apache.spark.sql.Column) =
      Resource("ev", events.filter(f)).withIncremental(cfg)
    intercept[RuntimeException] {
      p2.runTo(Seq(res2(col("event_id") <= 10)), flaky, "1")
    }
    p2.runTo(Seq(res2(col("event_id") <= 10)), flaky, "2")
    assert(second.sorted === (1L to 10L).toVector,
      "the failed window must re-deliver in full on retry")
  }

  test("store-path gates (contract, drift, dispatch) are rejected, not dropped") {
    val p = newPipeline()
    val df = Seq((1, "x")).toDF("a", "b")
    val dest = CustomDestination { (_, _) => () }
    val drift = intercept[IllegalArgumentException] {
      p.runTo(Seq(Resource("t", df)
        .withDriftCheck("a", maxPsi = 0.1)), dest, "1")
    }
    assert(drift.getMessage.contains("run()"))
    val dispatch = intercept[IllegalArgumentException] {
      p.runTo(Seq(Resource("t", df, dispatchColumn = Some("b"))), dest, "1")
    }
    assert(dispatch.getMessage.contains("dispatch"))
    val contract = intercept[IllegalArgumentException] {
      p.runTo(Seq(Resource("t", df,
        contract = graft.schema.Contracts.Contract(
          tables = graft.schema.Contracts.Freeze))), dest, "1")
    }
    assert(contract.getMessage.contains("contract"))
  }

  test("metrics observe rides the sink action") {
    val p = newPipeline()
    val df = Seq((1, 10.0), (2, 30.0)).toDF("k", "v")
    val dest = CustomDestination { (frame, _) => frame.count(): Unit }
    p.runTo(Seq(Resource("obs", df,
      metrics = Seq("v_sum" -> sum(col("v"))))), dest, "1")
    assert(p.metrics("obs").get("v_sum").contains(40.0))
  }

  test("metrics stay empty when the sink runs no action") {
    val p = newPipeline()
    val df = Seq((1, 10.0), (2, 30.0)).toDF("k", "v")
    val dest = CustomDestination { (_, _) => () }
    p.runTo(Seq(Resource("idle", df,
      metrics = Seq("v_sum" -> sum(col("v"))))), dest, "1")
    assert(p.metrics("idle").isEmpty)
  }

  private def newLongEncoder = org.apache.spark.sql.Encoders.scalaLong
}
