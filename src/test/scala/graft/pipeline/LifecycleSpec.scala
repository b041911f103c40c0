package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.normalize.ModelNormalizer
import graft.schema.{SchemaRegistry, TableHints, TableReference}
import graft.write.TableStore

class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def sample = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")

  test("model normalizer injects system columns and rejects stars/commands") {
    sample.createOrReplaceTempView("model_src")
    val out = ModelNormalizer.normalize(spark,
      "SELECT id, upper(k) AS ku FROM model_src", "77")
    assert(out.columns.toSeq === Seq("id", "ku", "_dlt_load_id", "_dlt_id"))
    assert(out.select("_dlt_load_id").distinct().as[String].collect().toSeq === Seq("77"))
    // deterministic content-hash ids
    val ids = out.orderBy("id").select("_dlt_id").as[String].collect()
    val again = ModelNormalizer.normalize(spark,
      "SELECT id, upper(k) AS ku FROM model_src", "78")
      .orderBy("id").select("_dlt_id").as[String].collect()
    assert(ids.toSeq === again.toSeq)
    intercept[IllegalArgumentException] {
      ModelNormalizer.normalize(spark, "SELECT * FROM model_src", "1")
    }
    intercept[IllegalArgumentException] {
      ModelNormalizer.normalize(spark, "DROP TABLE model_src", "1")
    }
  }

  test("importFiles registers parquet zero-copy and append keeps it live") {
    val data = tmp("lc-data")
    sample.write.parquet(s"$data/f1")
    val store = new TableStore(tmp("lc-store"), spark)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$data/f1"))
      .iterator()
    val parquets = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    store.importFiles("t", parquets)
    assert(store.read("t").count() === 3)
    store.append("t", Seq((4L, "c")).toDF("id", "k"))
    assert(store.read("t").count() === 4)
  }

  test("refresh modes: dropData truncates, dropResources removes chains") {
    val p = new Pipeline("lc", tmp("lc-pipe"), spark)
    val nested = Seq((1L, Seq("x", "y"))).toDF("id", "items")
    p.run(Seq(Resource("orders", nested), Resource("other", sample)), "1")
    assert(p.store.tables.contains("orders__items"))

    p.dropData("orders")
    assert(p.store.read("orders").count() === 0)
    assert(p.store.read("orders__items").count() === 0) // child truncated too
    assert(p.store.read("other").count() === 3) // untouched

    p.dropResources("orders")
    assert(!p.store.exists("orders") && !p.store.exists("orders__items"))
    assert(p.store.exists("other"))

    p.dropSources()
    assert(p.store.tables.isEmpty)
  }

  test("addMetrics observes row counts during the load action") {
    val p = new Pipeline("mx", tmp("lc-mx"), spark)
    p.run(Seq(Resource("t", sample)
      .addMetrics("n" -> count(lit(1)), "mx" -> max(col("id")))), "1")
    assert(p.metrics("t")("n") === 3L)
    assert(p.metrics("t")("mx") === 3L)
  }

  test("table dispatch routes rows to per-value tables") {
    val p = new Pipeline("disp", tmp("lc-disp"), spark)
    val events = Seq((1L, "click"), (2L, "view"), (3L, "click"))
      .toDF("id", "kind")
    val written = p.run(Seq(Resource("ev", events).withTableDispatch("kind")), "1")
    assert(written("ev").toSet === Set("ev_click", "ev_view"))
    assert(p.store.read("ev_click").count() === 2)
    assert(p.store.read("ev_view").count() === 1)
    assert(!p.store.exists("ev"))
  }

  test("system tables: _dlt_version and _dlt_pipeline_state sync per load") {
    val p = new Pipeline("sys", tmp("lc-sys"), spark)
    p.run(Seq(Resource("t", sample)), "1")
    val v1 = p.store.read("_dlt_version")
    assert(v1.count() === 1)
    // unchanged schema → no new version row
    p.run(Seq(Resource("t", sample)), "2")
    assert(p.store.read("_dlt_version").count() === 1)
    // evolved schema → second version row with a different hash
    p.run(Seq(Resource("t", sample.withColumn("extra", lit(1)))), "3")
    val hashes = p.store.read("_dlt_version")
      .select("version_hash").as[String].collect().toSet
    assert(hashes.size === 2)

    // incremental state lands in _dlt_pipeline_state with the load id
    val cfg = graft.incremental.Incremental.Config(
      cursorColumn = "id", primaryKey = Seq("id"))
    p.run(Seq(Resource("inc", sample).withIncremental(cfg)), "4")
    val st = p.store.read("_dlt_pipeline_state")
    assert(st.filter(col("_dlt_load_id") === "4").count() === 1)
    assert(st.select("state").as[String].head().nonEmpty)
  }

  test("registry JSON survives hostile strings in schema metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft-regh").toString
    val reg = new SchemaRegistry("hostile")
    // column names carrying quotes, backslashes, newlines and unicode
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("""a"b\c""",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tab\there",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ünïcode",
        org.apache.spark.sql.types.DoubleType)))
    reg.register("t", schema)
    reg.save(dir)
    val back = SchemaRegistry.load(dir, "hostile").get
    assert(back.get("t").get._1 === schema)
    assert(back.versionHash === reg.versionHash)
  }

  test("schema registry round-trips through disk with engine migrations") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    val reg = new SchemaRegistry("rt")
    reg.register("nation", sample.schema)
    reg.register("customer", sample.schema, TableHints(
      parent = None, writeDisposition = "merge",
      primaryKey = Seq("id"), mergeKey = Seq("k"),
      references = Seq(TableReference(Seq("id"), "nation", Seq("id")))))
    reg.save(dir)

    // v2 round-trip: identical content hash, hints and lineage survive
    val back = SchemaRegistry.load(dir, "rt").get
    assert(back.versionHash === reg.versionHash)
    assert(back.hints("customer").primaryKey === Seq("id"))
    assert(back.hints("customer").references.head.referencedTable === "nation")
    assert(back.lineage === reg.lineage)

    // engine v1 file (no engine_version): migration ladder steps it up
    val p = java.nio.file.Paths.get(dir, "rt.schema.json")
    val v1 = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace(s""""engine_version":${SchemaRegistry.EngineVersion},""", "")
    java.nio.file.Files.write(p, v1.getBytes("UTF-8"))
    val migrated = SchemaRegistry.load(dir, "rt").get
    assert(migrated.versionHash === reg.versionHash)

    // a FUTURE engine version must refuse to load, not mis-read
    java.nio.file.Files.write(p,
      v1.replace("{\"name\"", "{\"engine_version\":99,\"name\"").getBytes("UTF-8"))
    intercept[IllegalStateException] { SchemaRegistry.load(dir, "rt") }
  }
}
