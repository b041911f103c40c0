package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.incremental.Incremental
import graft.schema.{Contracts, TableHints, TableReference}
import graft.write.MergeConfig
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def newPipeline() =
    new Pipeline("test", Files.createTempDirectory("graft-pipe").toString, spark)

  test("append pipeline run: normalize + system columns + loads table") {
    val p = newPipeline()
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val written = p.run(Seq(Resource("My Table", df),
      // MapItem (1→1), YieldMapItem (1→N through explode), FilterItem
      Resource("mapped", df).addMap(_.withColumn("v10", $"v" * 10)),
      Resource("yielded", df).addMap(_.withColumn("n", explode(array(lit(1), lit(2))))),
      Resource("filtered", df).addFilter($"v" > 1)), "1")
    assert(written("My Table") == Seq("my_table"))
    val out = p.store.read("my_table")
    assert(out.columns.toSet == Set("k", "v", "_dlt_id", "_dlt_load_id"))
    assert(out.count() == 2)
    assert(p.store.read("mapped").select("v10").as[Int].collect().sorted.toSeq == Seq(10, 20))
    assert(p.store.read("yielded").select("k", "n").as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)))
    assert(p.store.read("filtered").select("k").as[String].collect().toSeq == Seq("b"))
    assert(p.dataset.loadIds == Seq("1"))
  }

  test("merge pipeline run with nested children") {
    val p = newPipeline()
    def res(rows: Seq[(String, String, Seq[Int])]) =
      Resource("docs", rows.toDF("k", "v", "items"))
        .withMerge(MergeConfig(primaryKey = Seq("k")))
    p.run(Seq(res(Seq(("a", "v1", Seq(1, 2)), ("b", "v1", Seq(3))))), "1")
    p.run(Seq(res(Seq(("a", "v2", Seq(9))))), "2")
    val root = p.store.read("docs")
    assert(root.count() == 2)
    assert(root.filter($"k" === "a").select("v").as[String].head() == "v2")
    val items = p.store.read("docs__items")
    assert(items.select("value").as[Long].collect().sorted.toSeq == Seq(3L, 9L))
  }

  test("a second run of a small incremental nested merge costs at most 17 Spark jobs") {
    val p = newPipeline()
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("k"))
    def res(rows: Seq[(Long, String, String, Seq[Int])]) =
      Resource("docs", rows.toDF("cur", "k", "v", "items").coalesce(1))
        .withMerge(MergeConfig(primaryKey = Seq("k"))).withIncremental(cfg)
    p.run(Seq(res((1 to 20).map(i => (1L, s"k$i", "v1", Seq(i, i + 1))))), "1")
    // the delta replaces two keys and adds one
    val (_, jobs) = countJobs(p.run(Seq(res(Seq(
      (2L, "k3", "v2", Seq(30)), (2L, "k7", "v2", Seq(70, 71)),
      (2L, "k21", "v2", Seq(21))))), "2"))
    val root = p.store.read("docs")
    assert(root.count() === 21)
    assert(root.filter($"v" === "v2").select("k").as[String].collect().sorted.toSeq ===
      Seq("k21", "k3", "k7"))
    assert(p.store.read("docs__items").count() === 18 * 2 + 4)
    assert(jobs <= 17, s"the second run ran $jobs Spark jobs")
  }

  test("incremental resource processes each row exactly once across runs") {
    val p = newPipeline()
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("v"))
    def res(rows: Seq[(Long, String)]) =
      Resource("ev", rows.toDF("cur", "v")).withIncremental(cfg)
    p.run(Seq(res(Seq((1L, "a"), (2L, "b")))), "1")
    // overlap: row b at boundary re-delivered, c new at boundary, d beyond
    p.run(Seq(res(Seq((2L, "b"), (2L, "c"), (3L, "d")))), "2")
    val out = p.store.read("ev")
    assert(out.select("v").as[String].collect().sorted.toSeq == Seq("a", "b", "c", "d"))
  }

  test("system-table sync runs no Spark job, and ledger versions stay max+1") {
    val p = newPipeline()
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("v"))
    p.run(Seq(Resource("ev", Seq((1L, "a")).toDF("cur", "v")).withIncremental(cfg)), "1")
    // warm: this instance has seen the schema hash
    val (_, warm) = countJobs(p.run(Nil, "2"))
    assert(warm === 0, s"a warm system-table sync ran $warm Spark jobs")
    // cold: a new instance looks the hash up in `_dlt_version`
    val cold = new Pipeline(p.name, p.root, spark)
    val (_, coldJobs) = countJobs(cold.run(Nil, "3"))
    assert(coldJobs === 0, s"a cold system-table sync ran $coldJobs Spark jobs")
    assert(p.store.read("_dlt_pipeline_state").select("version").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(p.store.read("_dlt_version").count() === 1)
  }

  test("dataset facade: reference join, parent-child join, fromLoads") {
    val p = newPipeline()
    p.run(Seq(Resource("dim", Seq((1L, "x"), (2L, "y")).toDF("id", "label"))), "1")
    p.run(Seq(Resource("fact",
      Seq((10L, 1L, Seq("t1")), (11L, 2L, Seq("t2", "t3"))).toDF("fid", "dim_id", "tags"))), "2")
    p.registry.register("fact", p.store.read("fact").schema,
      TableHints(references = Seq(TableReference(Seq("dim_id"), "dim", Seq("id")))))
    p.registry.register("fact__tags", p.store.read("fact__tags").schema,
      TableHints(parent = Some("fact")))

    val ds = p.dataset
    val joined = ds.table("fact").join("dim").df()
    assert(joined.count() == 2)
    assert(joined.columns.contains("dim__label"))
    assert(joined.filter($"fid" === 10L).select("dim__label").as[String].head() == "x")

    val childJoin = ds.table("fact").join("fact__tags").df()
    assert(childJoin.count() == 3)

    // provenance: child table gains _dlt_load_id from its root
    val withLid = ds.table("fact__tags").withLoadIdCol().df()
    assert(withLid.select("_dlt_load_id").as[String].collect().forall(_ == "2"))
    assert(ds.table("fact").fromLoads(Seq("2")).df().count() == 2)

    // row counts
    val rc = ds.rowCounts()
    assert(rc.filter($"table_name" === "fact__tags").select("row_count").as[Long].head() == 3L)
  }

  test("fromLoads on pipeline child tables walks the parent chain") {
    val p = newPipeline()
    // orders → orders__lines (one row per sku) → orders__lines__tags
    def res(rows: Seq[(Long, String)]) = Resource("orders", rows.toDF("id", "skus")
      .selectExpr("id", "transform(split(skus, ','), " +
        "s -> named_struct('sku', s, 'tags', array(s, upper(s)))) as lines"))
    p.run(Seq(res(Seq((1L, "a,b"), (2L, "c")))), "1")
    p.run(Seq(res(Seq((3L, "d,e")))), "2")
    val ds = p.dataset
    val lines = ds.table("orders__lines").fromLoads(Seq("2")).df()
    assert(lines.select("sku").as[String].collect().sorted.toSeq == Seq("d", "e"))
    val tags = ds.table("orders__lines__tags").fromLoads(Seq("2")).df()
    assert(tags.select("value").as[String].collect().sorted.toSeq == Seq("D", "E", "d", "e"))
  }

  test("tables contract DiscardValue silently skips a new root table") {
    val p = newPipeline()
    val r = Resource("gated", Seq((1, "a")).toDF("id", "v"),
      contract = graft.schema.Contracts.Contract(
        tables = graft.schema.Contracts.DiscardValue))
    // new table + discard contract: the load is a silent no-op, not a crash
    val written = p.run(Seq(r), "1")
    assert(written("gated").isEmpty)
    assert(!p.store.exists("gated"))
    // once the table exists (contract-free first load), the gate opens
    p.run(Seq(Resource("gated", Seq((1, "a")).toDF("id", "v"))), "2")
    p.run(Seq(r), "3")
    assert(p.store.read("gated").count() === 2)
  }

  test("scd2 resource loads nested child tables insert-only") {
    val p = newPipeline()
    def res(rows: Seq[(Long, String, Seq[Int])], ts: String) =
      Resource("dim", rows.toDF("id", "v", "items"),
        hints = graft.schema.TableHints(writeDisposition = "merge"),
        scd2Config = Some(graft.write.Scd2Config(
          trackedColumns = Seq("id", "v"), boundaryTs = ts)))
    p.run(Seq(res(Seq((1L, "a", Seq(1, 2)), (2L, "b", Seq(3))), "2024-01-01 00:00:00")), "1")
    // v changes for id=1 → new active version; its child rows insert;
    // id=2 unchanged → re-sent children are deduped by deterministic id
    p.run(Seq(res(Seq((1L, "a2", Seq(9)), (2L, "b", Seq(3))), "2024-06-01 00:00:00")), "2")
    val root = p.store.read("dim")
    assert(root.filter($"_dlt_valid_to".isNull).count() === 2)
    assert(root.count() === 3) // id=1 has a retired + an active version
    val items = p.store.read("dim__items")
    assert(items.select("value").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 9L))
  }

  test("fresh pipeline restores incremental cursor from _dlt_pipeline_state") {
    val root = Files.createTempDirectory("graft-restore").toString
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("v"))
    def res(rows: Seq[(Long, String)]) =
      Resource("ev", rows.toDF("cur", "v")).withIncremental(cfg)
    val p1 = new Pipeline("test", root, spark)
    p1.run(Seq(res(Seq((1L, "a"), (2L, "b")))), "1")
    // simulate a fresh environment: local state file gone, destination intact
    Files.delete(java.nio.file.Paths.get(s"$root/_state/test.state.json"))
    val p2 = new Pipeline("test", root, spark)
    p2.run(Seq(res(Seq((1L, "a"), (2L, "b"), (3L, "e")))), "2")
    // cursor restored from _dlt_pipeline_state → only the new row loads
    val out = p2.store.read("ev")
    assert(out.select("v").as[String].collect().sorted.toSeq === Seq("a", "b", "e"))
  }

  // a columns=freeze violation on the second load of a nested resource
  // throws after the load pinned its window and fan-out input: the
  // load's scope must still release both
  private def frozenNestedReload(incremental: Boolean): Unit = {
    val p = newPipeline()
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("k"))
    def res(df: org.apache.spark.sql.DataFrame) =
      if (incremental) Resource("docs", df).withIncremental(cfg)
      else Resource("docs", df)
    p.run(Seq(res(Seq((1L, "a", Seq(1, 2))).toDF("cur", "k", "items"))), "1")
    val wider = Seq((2L, "b", Seq(3), "new")).toDF("cur", "k", "items", "x")
    intercept[Contracts.ContractViolation] {
      p.run(Seq(res(wider).copy(
        contract = Contracts.Contract(columns = Contracts.Freeze))), "2")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed load must release every frame it pinned")
  }

  test("frozen-column violation on a nested reload releases its pins") {
    frozenNestedReload(incremental = false)
  }

  test("frozen-column violation on an incremental nested reload releases its pins") {
    frozenNestedReload(incremental = true)
  }

  test("wide boundary: 10k rows on one cursor value, no driver blowup") {
    val p = newPipeline()
    val cfg = Incremental.Config(cursorColumn = "cur", primaryKey = Seq("v"))
    def res(rows: Seq[(Long, String)]) =
      Resource("wb", rows.toDF("cur", "v")).withIncremental(cfg)
    val first = Seq.tabulate(10000)(i => (1L, s"r$i"))
    p.run(Seq(res(first)), "1")
    // state file carries NO hash literals — they live in the store table
    assert(p.states.load("test", "wb/cur").boundaryHashes.isEmpty)
    assert(p.store.read("_dlt_boundary__wb__cur").count() === 10000)
    // full re-delivery + 3 genuinely new rows at/after the boundary
    p.run(Seq(res(first ++ Seq((1L, "n1"), (1L, "n2"), (2L, "n3")))), "2")
    assert(p.store.read("wb").count() === 10003)
  }

  test("row validation: filter mode drops, raise mode fails the load") {
    val p = newPipeline()
    val df = Seq((1, "ok"), (-5, "bad"), (2, "ok2")).toDF("n", "v")
    p.run(Seq(Resource("filtered", df).addValidate(col("n") > 0,
      raiseOnViolation = false)), "1")
    assert(p.store.read("filtered").count() === 2)
    val err = intercept[Exception] {
      p.run(Seq(Resource("strict", df).addValidate(col("n") > 0)), "2")
    }
    assert(err.getMessage.contains("row validation failed") ||
      Option(err.getCause).exists(_.getMessage.contains("row validation failed")))
  }

  test("field validation through Pipeline.run: filter mode drops, raise mode fails the load") {
    import graft.schema.Validation.FieldRule
    val p = newPipeline()
    val rules = Seq(FieldRule("n", dataType = Some(org.apache.spark.sql.types.IntegerType)),
      FieldRule("v", required = true))
    val df = Seq(("1", "ok"), ("x", "bad"), ("2", null)).toDF("n", "v")
    p.run(Seq(Resource("kept", df).addValidateFields(rules, raiseOnViolation = false)), "1")
    assert(p.store.read("kept").select("n", "v").as[(String, String)].collect().toSeq ===
      Seq(("1", "ok")))
    // one violating row, so the failure names it whatever the task order
    val err = intercept[Exception] {
      p.run(Seq(Resource("strict", df.limit(2)).addValidateFields(rules)), "2")
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains(
      """field validation failed: [{"field":"n","expected":"int","value":"x"}]""")),
      messages.mkString("\n"))
    // the failed load wrote no table and no `_dlt_loads` row
    assert(!p.store.exists("strict"))
    assert(p.dataset.loadIds === Seq("1"))
  }

  test("rest pagination honors page and time limits") {
    import graft.sources.Rest
    val endless: Rest.Transport = url => {
      val n = url.split("page=").lift(1).map(_.takeWhile(_.isDigit).toInt).getOrElse(1)
      Rest.Response(s"""[{"id":$n}]""",
        Map("Link" -> s"""<http://api/items?page=${n + 1}>; rel="next""""))
    }
    assert(Rest.fetchPages("http://api/items?page=1", endless,
      Rest.HeaderLink, maxPages = 7).size === 7)
    import scala.concurrent.duration._
    assert(Rest.fetchPages("http://api/items?page=1",
      u => { Thread.sleep(30); endless(u) },
      Rest.HeaderLink, maxTime = Some(50.millis)).size <= 4)
  }

  test("schema registry persists across pipeline instances") {
    val root = Files.createTempDirectory("graft-regp").toString
    val p1 = new Pipeline("test", root, spark)
    p1.run(Seq(Resource("dim", Seq((1L, "x")).toDF("id", "label"))), "1")
    p1.run(Seq(Resource("fact", Seq((10L, 1L)).toDF("fid", "dim_id"))), "2")
    p1.registry.register("fact", p1.store.read("fact").schema,
      TableHints(references = Seq(TableReference(Seq("dim_id"), "dim", Seq("id")))))
    p1.run(Seq(Resource("dim", Seq((2L, "y")).toDF("id", "label"))), "3")
    // a FRESH pipeline resumes hints: the reference-driven join works
    // without re-registering anything
    val p2 = new Pipeline("test", root, spark)
    assert(p2.registry.hints("fact").references.nonEmpty)
    val joined = p2.dataset.table("fact").join("dim").df()
    assert(joined.select("dim__label").as[String].collect().toSeq === Seq("x"))
  }

  test("query passthrough exposes stored tables as views") {
    val p = newPipeline()
    p.run(Seq(Resource("t1", Seq((1, "a")).toDF("id", "v"))), "1")
    val out = p.dataset.query("SELECT COUNT(*) AS n FROM t1")
    assert(out.as[Long].head() == 1L)
  }

  test("dataset.query registers views once per table snapshot, not per call") {
    val p = newPipeline()
    p.run(Seq(Resource("q1", Seq((1, "a")).toDF("id", "v"))), "1")
    val ds = p.dataset
    assert(ds.query("SELECT count(*) AS n FROM q1").as[Long].head() === 1L)
    // same snapshot: a second query must NOT rebuild the view — drop it
    // behind the cache's back and prove the cached plan still serves
    p.spark.catalog.dropTempView("q1")
    intercept[Exception] { ds.query("SELECT count(*) AS n FROM q1").head() }
    // a new commit (new snapshot) re-registers and sees the new rows
    p.run(Seq(Resource("q1", Seq((2, "b")).toDF("id", "v"))), "2")
    assert(ds.query("SELECT count(*) AS n FROM q1").as[Long].head() === 2L)
  }

  test("withRetention sweeps snapshot history as part of each load") {
    val p = newPipeline()
    def res(id: Int) = Resource("t", Seq((id, s"v$id")).toDF("id", "v"))
      .withRetention(keepLast = 2)
    p.run(Seq(res(1)), "1")
    p.run(Seq(res(2)), "2")
    assert(p.store.snapshots("t").size === 2, "within keep-N: no expiry")
    val s2 = p.store.snapshots("t").last
    // a pin taken before further loads survives every riding sweep
    p.store.pinSnapshot("t", s2)
    p.run(Seq(res(3)), "3")
    p.run(Seq(res(4)), "4")
    val left = p.store.snapshots("t")
    assert(left.size === 3,
      s"keep-2 plus the pinned snapshot: $left") // pin + last 2
    assert(left.contains(s2), "the pin must survive the riding sweeps")
    // data unaffected: all four loads landed
    assert(p.store.read("t").count() === 4L)
    // time travel to the pin still works after the sweeps' GC
    assert(p.store.readAt("t", s2).count() === 2L)
    // a resource WITHOUT the hook never sweeps (opt-in only)
    val q = newPipeline()
    (1 to 4).foreach(i =>
      q.run(Seq(Resource("u", Seq((i, "x")).toDF("id", "v"))), s"$i"))
    assert(q.store.snapshots("u").size === 4)
  }
}
