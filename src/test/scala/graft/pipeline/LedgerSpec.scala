package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.{Contracts, TableHints}
import graft.streaming.Streaming
import graft.write.{MergeConfig, Scd2Config}

/** The `_dlt_loads` ledger: one status-0 row per load package, written by
  * the package's owner after its last commit, whatever route the
  * package's resources took (reference load.py:605-624). */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  private def newPipeline() =
    new Pipeline("ledger", Files.createTempDirectory("graft-ledger").toString, spark)

  /** (schema_name, status, schema_version_hash) of every row of `loadId`. */
  private def rows(p: Pipeline, loadId: String): Seq[(String, Int, String)] =
    p.store.readOption("_dlt_loads").toSeq.flatMap(_
      .filter(col("load_id") === loadId)
      .select("schema_name", "status", "schema_version_hash")
      .as[(String, Int, String)].collect().toSeq).sorted

  private def flat(v: String) = Seq((1L, v), (2L, v)).toDF("id", "v")
  private def nested(v: String) =
    Seq((1L, v, Seq(1, 2)), (2L, v, Seq(3))).toDF("id", "v", "items")
  private val byId = MergeConfig(primaryKey = Seq("id"))

  test("a nested merge package writes exactly one ledger row") {
    val p = newPipeline()
    p.run(Seq(Resource("docs", nested("a")).withMerge(byId)), "1")
    assert(rows(p, "1") === Seq(("ledger", 0, p.registry.versionHash)))
  }

  test("an append and a merge resource in one package write one ledger row") {
    val p = newPipeline()
    p.run(Seq(Resource("events", flat("a")),
      Resource("dim", flat("b")).withMerge(byId)), "1")
    val hash = p.registry.versionHash
    assert(hash.nonEmpty)
    assert(rows(p, "1") === Seq((p.name, 0, hash)))
  }

  test("every load route records each package once") {
    def scd2(df: DataFrame, ts: String) = Resource("hist", df,
      hints = TableHints(writeDisposition = "merge"),
      scd2Config = Some(Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = ts)))
    def twice(r: String => Resource)(p: Pipeline): Seq[String] = {
      p.run(Seq(r("a")), "1"); p.run(Seq(r("b")), "2"); Seq("1", "2")
    }
    val routes: Seq[(String, Pipeline => Seq[String])] = Seq(
      "append" -> twice(v => Resource("t", flat(v))),
      "replace" -> twice(v => Resource("t", flat(v),
        hints = TableHints(writeDisposition = "replace"))),
      "flat merge" -> twice(v => Resource("t", flat(v)).withMerge(byId)),
      "chain merge" -> twice(v => Resource("t", nested(v)).withMerge(byId)),
      "scd2 with a child table" -> { p =>
        p.run(Seq(scd2(nested("a"), "2024-01-01 00:00:00")), "1")
        p.run(Seq(scd2(nested("b"), "2024-06-01 00:00:00")), "2")
        Seq("1", "2")
      },
      "table dispatch" -> twice(v => Resource("t",
        Seq((1L, v, "x"), (2L, v, "y")).toDF("id", "v", "k")).withTableDispatch("k")),
      "runParallel" -> { p =>
        p.runParallel(Seq(Resource("x", flat("a")),
          Resource("y", nested("a")).withMerge(byId)), "1")
        Seq("1")
      },
      "runTo" -> { p =>
        p.runTo(Seq(Resource("x", flat("a")), Resource("y", flat("b"))),
          CustomDestination((_, _) => ()), "1")
        Seq("1")
      },
      "intoPipeline" -> { p =>
        val dir = Files.createTempDirectory("graft-ledger-src").toString
        flat("a").coalesce(1).write.mode("append").parquet(dir)
        flat("b").coalesce(1).write.mode("append").parquet(dir)
        Streaming.intoPipeline(p, Streaming.fileStream(spark, dir,
            options = Map("maxFilesPerTrigger" -> "1")),
          (b, _) => Resource("t", b).withMerge(byId))
        // one drain: one stamp, the batch ids after it
        val ids = p.dataset.loadIds
        assert(ids.size === 2 && ids.head.matches("s\\d{16}-000000000000"), ids)
        assert(ids(1) === ids.head.dropRight(1) + "1")
        ids
      })
    routes.foreach { case (route, load) =>
      val p = newPipeline()
      val ids = load(p)
      ids.foreach { id =>
        assert(rows(p, id).map(r => (r._1, r._2)) === Seq((p.name, 0)),
          s"$route, load $id")
      }
      assert(rows(p, ids.last).map(_._3) === Seq(p.registry.versionHash), route)
      assert(p.dataset.loadIds === ids.sorted, route)
    }
  }

  test("two drains into one pipeline record two load ids") {
    val p = newPipeline()
    // a fresh checkpoint per drain: batch ids restart at 0 under each
    def drain(v: String): Unit = {
      val dir = Files.createTempDirectory("graft-ledger-src").toString
      flat(v).coalesce(1).write.mode("append").parquet(dir)
      Streaming.intoPipeline(p, Streaming.fileStream(spark, dir),
        (b, _) => Resource("t", b))
    }
    drain("a")
    drain("b")
    val ids = p.dataset.loadIds
    assert(ids.distinct.size === 2, ids)
    ids.foreach(id => assert(rows(p, id).map(r => (r._1, r._2)) === Seq((p.name, 0)), id))
    assert(p.store.read("t").groupBy("_dlt_load_id").count()
      .select("count").as[Long].collect().toSeq === Seq(2L, 2L))
  }

  test("a drift-quarantined package records one status-0 and one status-2 row") {
    val p = newPipeline()
    def res(df: DataFrame) =
      Resource("m", df).withDriftCheck("v", maxPsi = 0.25, quarantine = true)
    val base = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    p.run(Seq(res(base)), "1")
    val loaded = p.run(Seq(res(base.withColumn("v", col("v") + 80.0))), "2")
    assert(loaded("m") === Seq("m__quarantine"))
    assert(rows(p, "2").map(r => (r._1, r._2)) ===
      Seq((p.name, 0), (s"${p.name}#quarantine", 2)))
  }

  test("a package that fails a freeze contract records no status-0 row") {
    val p = newPipeline()
    p.run(Seq(Resource("t", flat("a"))), "1")
    intercept[Contracts.ContractViolation] {
      p.run(Seq(Resource("ok", flat("b")),
        Resource("t", flat("c").withColumn("x", lit(1)),
          contract = Contracts.Contract(columns = Contracts.Freeze))), "2")
    }
    assert(p.store.exists("ok"), "the first resource committed before the failure")
    assert(rows(p, "2").isEmpty)
    assert(p.dataset.loadIds === Seq("1"))
  }

  test("the ledger is written only by package owners, and streams load through the pipeline") {
    val writers = sourceHits("src/main/scala", """\.recordLoad\(""".r,
      "graft/pipeline/Pipeline.scala", "graft/streaming/Streaming.scala",
      "graft/ext/CorpusAssembly.scala")
    assert(writers.isEmpty, s"ledger rows written outside a package owner: $writers")
    val streamMerges = sourceHits("src/main/scala/graft/streaming",
      """\.(merge|scd2)\(""".r).filter(_.startsWith("Streaming.scala:"))
    assert(streamMerges.isEmpty,
      s"Streaming calls a merge or SCD2 disposition: $streamMerges — use intoPipeline")
    val removed = sourceHits("src", "into(Merge|Scd2)".r)
    assert(removed.isEmpty, s"deleted stream route named: $removed")
  }
}
