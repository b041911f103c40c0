package graft.write

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-strategy matrix (FIXTURES.md §A3): initial load + overlapping
  * second load → expected final table, per disposition. */
class WriteSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() =
    new TableStore(Files.createTempDirectory("graft-store").toString, spark)

  private def dispo(store: TableStore) = new Dispositions(store, spark)

  private val load1 = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1))
  private val load2 = Seq((2L, "b2", 2), (4L, "d", 2))

  test("append accumulates rows and stamps _dlt_load_id") {
    val store = newStore()
    val d = dispo(store)
    d.append("t", load1.toDF("id", "v", "ver"), "1")
    d.append("t", load2.toDF("id", "v", "ver"), "2")
    val out = store.read("t")
    assert(out.count() == 5)
    assert(out.select("_dlt_load_id").distinct().count() == 2)
  }

  test("time travel reads old snapshots across appends, tombstones and vacuum") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    val s2 = store.snapshots("t").last
    // merge-on-read delete of id=1 + insert of id=4 in one commit
    store.appendWithTombstone("t", Seq((4L, "d")).toDF("id", "v"),
      "id", Seq(Tuple1(1L)).toDF("id"))
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    assert(store.readAt("t", s2).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(2L, 3L, 4L))
    assert(store.snapshots("t").size === 3)
    // vacuum prunes old manifests; the pruned snapshot refuses cleanly
    store.vacuum("t", retainManifests = 1)
    intercept[IllegalArgumentException](store.readAt("t", s1))
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(2L, 3L, 4L))
  }

  test("snapshot retention: keep-N/TTL expiry, pins retain and survive " +
      "vacuum, time travel to pins keeps working") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    store.append("t", Seq((4L, "d")).toDF("id", "v"))
    val all = store.snapshots("t")
    assert(all.size === 3 && all.head === s1)
    // pin validation: unknown snapshot refuses
    intercept[IllegalArgumentException](store.pinSnapshot("t", 99L))
    store.pinSnapshot("t", s1)
    assert(store.pinnedSnapshots("t") === Set(s1))
    // keepLast beyond history + TTL=infinity: nothing expires
    assert(store.applyRetention("t", keepLast = 5)._1.isEmpty)
    assert(store.applyRetention("t", keepLast = 1,
      ttlMs = Some(Long.MaxValue))._1.isEmpty)
    // keep-1 sweep: the middle snapshot expires, the pin survives
    val (removed, remaining) = store.applyRetention("t", keepLast = 1)
    assert(removed === Seq(all(1)))
    assert(remaining === Seq(s1, all.last))
    // pinned snapshot still time-travels after the sweep's GC
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    // a RAW vacuum folds the pins in too (one direct call must be as
    // safe as the policy path)
    store.vacuum("t", retainManifests = 1)
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    // unpin (empty set drops _PINS) + TTL=0 at a future now: expires
    store.unpinSnapshot("t", s1)
    assert(store.pinnedSnapshots("t") === Set.empty[Long])
    val (r2, rem2) = store.applyRetention("t", keepLast = 1,
      ttlMs = Some(0L), now = System.currentTimeMillis() + 60000L)
    assert(r2 === Seq(s1) && rem2 === Seq(all.last))
    intercept[IllegalArgumentException](store.readAt("t", s1))
    // live reads unaffected throughout
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
  }

  test("dataset facade exposes lakehouse snapshot pins and retention") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((2L, "b")).toDF("id", "v"))
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    val ds = new graft.dataset.GraftDataset(store,
      new graft.schema.SchemaRegistry("ret"), spark)
    ds.pinSnapshot("t", s1)
    assert(ds.pinnedSnapshots("t") === Set(s1))
    // name normalization rides the facade like every other entry point
    assert(ds.pinnedSnapshots("T") === Set(s1))
    val (removed, remaining) = ds.retainTable("t", keepLast = 1)
    assert(removed.size === 1 && remaining.contains(s1),
      s"pin must survive the facade sweep: removed=$removed")
    // time travel through the facade to the pinned snapshot still works
    assert(ds.asOf("t", s1).df().select("id").as[Long].collect()
      === Array(1L))
    ds.unpinSnapshot("t", s1)
    assert(ds.pinnedSnapshots("t") === Set.empty[Long])
  }

  test("copyInto gives the destination its own physical bytes and keeps stats") {
    val store = newStore()
    store.overwrite("stg", load1.toDF("id", "v", "ver"), statsFor = Seq("id"))
    store.copyInto("stg", "dest")
    // stats survive the byte copy (no re-scan needed to keep pruning)
    assert(store.segments("dest").forall(_.stats.contains("id")))
    // destination is independent of the source's files: drop the source,
    // the copy still reads (clone would dangle here)
    store.drop("stg")
    assert(store.read("dest").select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    // replace semantics: a second copy fully supersedes the first
    store.overwrite("stg2", load2.toDF("id", "v", "ver"))
    store.copyInto("stg2", "dest")
    assert(store.read("dest").select("id").as[Long].collect().sorted
      === Array(2L, 4L))
    // bare-FILE segments (importFiles registers files, not dirs) copy too
    val dir = Files.createTempDirectory("graft-cif")
    load1.toDF("id", "v", "ver").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("p").toString)
    val one = {
      val s = Files.list(dir.resolve("p"))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    store.importFiles("stg3", Seq(one.toString))
    store.copyInto("stg3", "dest")
    assert(store.read("dest").count() === 3)
  }

  test("clone is zero-copy shallow; adopt moves ownership and drops the source") {
    val store = newStore()
    store.overwrite("src", load1.toDF("id", "v", "ver"), statsFor = Seq("id"))
    // clone: shared files (absolute pointers), snapshot-isolated
    store.clone("src", "c")
    assert(store.segments("c").forall(s =>
      java.nio.file.Paths.get(s.name).isAbsolute))
    store.append("src", Seq((9L, "z", 9)).toDF("id", "v", "ver"))
    assert(store.read("c").count() === 3, "clone must not see later appends")
    // adopt: destination owns the moved segments, source is GONE
    store.overwrite("stg", load2.toDF("id", "v", "ver"), statsFor = Seq("id"))
    store.adopt("stg", "adopted")
    assert(!store.exists("stg"), "adopt must drop the source table")
    assert(store.read("adopted").select("id").as[Long].collect().sorted
      === Array(2L, 4L))
    assert(store.segments("adopted").forall(s =>
      !java.nio.file.Paths.get(s.name).isAbsolute && s.stats.contains("id")))
    // a staging-optimized replace leaves NO staging table registered
    val d = dispo(store)
    d.replace("t", load1.toDF("id", "v", "ver"), "1", ReplaceStrategy.StagingOptimized)
    assert(!store.tables.contains("t__staging"))
  }

  test("replace strategies all end with only the new load") {
    for (s <- Seq(ReplaceStrategy.TruncateAndInsert, ReplaceStrategy.InsertFromStaging,
      ReplaceStrategy.StagingOptimized)) {
      val store = newStore()
      val d = dispo(store)
      d.replace("t", load1.toDF("id", "v", "ver"), "1", s)
      d.replace("t", load2.toDF("id", "v", "ver"), "2", s)
      val out = store.read("t")
      assert(out.count() == 2, s"strategy $s")
      assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L), s"strategy $s")
    }
  }

  test("merge delete-insert replaces matching keys and inserts new ones") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1")
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2")
    val out = store.read("t").orderBy("id")
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b2")
  }

  test("merge dedup keeps the highest dedup_sort row per key") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"), dedupSort = Some("ver"))
    val staged = Seq((1L, "old", 1), (1L, "new", 9), (2L, "x", 1)).toDF("id", "v", "ver")
    d.merge("t", staged, cfg, "1")
    val out = store.read("t").orderBy("id")
    assert(out.count() == 2)
    assert(out.filter($"id" === 1L).select("v").as[String].head() == "new")
    // explicit asc keeps the LOWEST instead (reference TSortOrder)
    val asc = Merge.dedup(staged, cfg.copy(dedupSort = Some("ver asc")))
    assert(asc.filter($"id" === 1L).select("v").as[String].head() == "old")
  }

  test("merge hard_delete removes keys instead of inserting") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"), hardDeleteColumn = Some("deleted"))
    d.merge("t", Seq((1L, "a", false), (2L, "b", false)).toDF("id", "v", "deleted"), cfg, "1")
    d.merge("t", Seq((1L, "gone", true), (3L, "c", false)).toDF("id", "v", "deleted"), cfg, "2")
    val out = store.read("t")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(!out.columns.contains("deleted"))
  }

  test("merge upsert replaces matched and inserts unmatched") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1", MergeStrategy.Upsert)
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2", MergeStrategy.Upsert)
    val out = store.read("t")
    assert(out.count() == 4)
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b2")
  }

  test("merge insert-only never updates existing keys") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1", MergeStrategy.InsertOnly)
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2", MergeStrategy.InsertOnly)
    val out = store.read("t")
    assert(out.count() == 4)
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b") // unchanged
  }

  test("scd2 retires changed rows and keeps history") {
    val store = newStore()
    val d = dispo(store)
    val cfg = Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = "2024-01-01 00:00:00")
    d.scd2("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cfg, "1")
    // second load: id=2 changed, id=1 unchanged, id=3 new
    d.scd2("t", Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"),
      cfg.copy(boundaryTs = "2024-06-01 00:00:00"), "2")
    val out = store.read("t")
    assert(out.count() == 4) // a-active, b-retired, B-active, c-active
    val active = out.filter(col("_dlt_valid_to").isNull)
    assert(active.count() == 3)
    val retired = out.filter(col("_dlt_valid_to").isNotNull)
    assert(retired.select("v").as[String].head() == "b")
    assert(retired.select(date_format(col("_dlt_valid_to"),
      "yyyy-MM-dd").as("d")).as[String].head() == "2024-06-01")
    // unchanged row keeps original valid_from
    assert(active.filter($"id" === 1L)
      .select(date_format(col("_dlt_valid_from"), "yyyy-MM-dd").as("d"))
      .as[String].head() == "2024-01-01")
  }

  test("scd2 with merge key only retires partitions present in staging") {
    val store = newStore()
    val d = dispo(store)
    val cfg = Scd2Config(trackedColumns = Seq("id", "part", "v"),
      boundaryTs = "2024-01-01 00:00:00", mergeKey = Seq("part"))
    d.scd2("t", Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"), cfg, "1")
    // second load only covers partition p1; p2 must stay active though absent
    d.scd2("t", Seq((1L, "p1", "a2")).toDF("id", "part", "v"),
      cfg.copy(boundaryTs = "2024-06-01 00:00:00"), "2")
    val out = store.read("t")
    val active = out.filter(col("_dlt_valid_to").isNull)
    assert(active.filter($"part" === "p2").count() == 1)
    assert(active.filter($"part" === "p1").select("v").as[String].head() == "a2")
    assert(out.filter(col("_dlt_valid_to").isNotNull).count() == 1)
  }

  test("nested chain merge cascades deletes and inserts to children") {
    val store = newStore()
    val cfg = MergeConfig(primaryKey = Seq("k"))

    def mkChain(rows: Seq[(String, String, Seq[Int])], loadId: String): TableChain = {
      import graft.normalize.{NormalizeConfig, Normalizer, RootIdType}
      val df = rows.toDF("k", "v", "items")
      val tables = Normalizer.normalize(df, "root",
        NormalizeConfig(loadId = loadId, rootIdType = RootIdType.KeyHash(Seq("k")),
          propagate = Map("_dlt_id" -> "_dlt_root_id")))
      TableChain("root", tables("root"), Map("root__items" -> tables("root__items")))
    }

    MergeChain.deleteInsert(store, mkChain(Seq(
      ("a", "v1", Seq(1, 2)), ("b", "v1", Seq(3))), "1"), cfg, "1")
    assert(store.read("root").count() == 2)
    assert(store.read("root__items").count() == 3)

    // replace a (now 3 items), keep b, add c (1 item)
    MergeChain.deleteInsert(store, mkChain(Seq(
      ("a", "v2", Seq(7, 8, 9)), ("c", "v1", Seq(5))), "2"), cfg, "2")
    val root = store.read("root")
    assert(root.count() == 3)
    assert(root.filter($"k" === "a").select("v").as[String].head() == "v2")
    val items = store.read("root__items")
    assert(items.count() == 5) // 3 (a) + 1 (b) + 1 (c)
    assert(items.select("value").as[Long].collect().sorted.toSeq == Seq(3L, 5L, 7L, 8L, 9L))
  }

  test("concurrent appends to ONE table lose nothing (per-table lock safety)") {
    val store = newStore()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = (1 to 8).map(i => scala.concurrent.Future {
        store.append("hot", Seq((i, s"w$i")).toDF("id", "w"))
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    // a read-modify-write race on the manifest would drop segments
    assert(store.segments("hot").size === 8)
    assert(store.read("hot").count() === 8)
  }

  test("concurrent writers on DIFFERENT tables interleave safely") {
    val store = newStore()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = (1 to 6).map(i => scala.concurrent.Future {
        val t = s"t$i"
        store.overwrite(t, Seq((i, "a")).toDF("id", "w"))
        store.append(t, Seq((i + 100, "b")).toDF("id", "w"))
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    (1 to 6).foreach { i =>
      assert(store.read(s"t$i").count() === 2, s"table t$i lost a write")
    }
  }

  test("a failing chain load leaves no pinned caches behind") {
    val store = newStore()
    val cfg = MergeConfig(primaryKey = Seq("k"))
    val root1 = Seq(("a", "id_a"), ("b", "id_b")).toDF("k", "_dlt_id")
    MergeChain.deleteInsert(store, TableChain("root", root1,
      Map("root__items" -> Seq(("id_a", 1L)).toDF("_dlt_root_id", "value"))),
      cfg, "1")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    // second load's child lacks _dlt_root_id → the child semi-join throws
    // AFTER the root-id sets are pinned; the finally must release them
    intercept[org.apache.spark.sql.AnalysisException] {
      MergeChain.deleteInsert(store, TableChain("root",
        Seq(("a", "id_a2")).toDF("k", "_dlt_id"),
        Map("root__items" -> Seq(Tuple1(7L)).toDF("value"))), cfg, "2")
    }
    assert(cm.isEmpty, "failed chain load must unpersist its pinned id sets")
  }

  test("driver-side tiny reads round-trip both writer formats, no Spark job") {
    val store = newStore()
    // driver-written segment (TinyParquet, required fields, all 4 cell types)
    import TinyParquet._
    store.appendDriverFile("cfg")(p => TinyParquet.write(p, Seq(Seq(
      "name" -> SCell("a"), "n" -> ICell(7), "snap" -> LCell(42L),
      "frac" -> DCell(0.25)))))
    // Spark-written segment of the same shape (optional fields)
    store.append("cfg", Seq(("b", 8, 43L, 0.5)).toDF("name", "n", "snap", "frac"))
    val rows = store.readDriverRows("cfg").sortBy(_("name").asInstanceOf[String])
    assert(rows === Seq(
      Map("name" -> "a", "n" -> 7, "snap" -> 42L, "frac" -> 0.25),
      Map("name" -> "b", "n" -> 8, "snap" -> 43L, "frac" -> 0.5)))
    // Spark reads the driver-written rows right back (mixed segments unify)
    assert(store.read("cfg").count() === 2)
    // snapshot-pinned read sees the PAST state
    val first = store.snapshots("cfg").head
    assert(store.readDriverRowsAt("cfg", first).map(_("name")) === Seq("a"))
    // overwriteDriverFile replaces the whole segment list
    store.overwriteDriverFile("cfg")(p => TinyParquet.write(p, Seq(Seq(
      "name" -> SCell("c"), "n" -> ICell(9), "snap" -> LCell(44L),
      "frac" -> DCell(1.0)))))
    assert(store.readDriverRows("cfg").map(_("name")) === Seq("c"))
    // tombstone-carrying tables are refused (merge-on-read needs Spark)
    store.append("kv", Seq((1L, "x")).toDF("id", "v"))
    store.appendWithTombstone("kv", Seq((1L, "y")).toDF("id", "v"), "id",
      Seq(Tuple1(1L)).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      store.readDriverRows("kv")
    }
    assert(e.getMessage.contains("tombstones"))
  }

  /** The column-chunk codecs of every parquet file under `dir`, by the
    * file's path relative to `dir`. */
  private def codecsUnder(dir: java.nio.file.Path): Map[String, Set[String]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val files = scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector)
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
      try dir.relativize(f).toString -> reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      finally reader.close()
    }.toMap
  }

  test("every parquet file the store writes is zstd") {
    val root = Files.createTempDirectory("graft-codec")
    val store = new TableStore(root.toString, spark)
    val d = dispo(store)
    val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    store.append("appended", rows)
    // a layout below one split skips the range exchange: force it
    val split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try store.overwrite("ranged", rows, statsFor = Seq("id"), rangeBy = Seq("id"))
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    store.append("folded", rows.filter(col("id") <= 20L))
    store.append("folded", rows.filter(col("id") > 20L))
    store.deleteByIds("folded", "id", Seq(Tuple1(3L)).toDF("id"))
    assert(store.compact("folded", maxSegments = 1))
    store.appendWithTombstone("appended", Seq((41L, "w")).toDF("id", "v"), "id",
      Seq(Tuple1(1L)).toDF("id"))
    val scd = Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = "2024-01-01 00:00:00")
    d.scd2("hist", rows, scd, "1")
    d.scd2("hist", rows.withColumn("v", concat(col("v"), lit("'"))),
      scd.copy(boundaryTs = "2024-02-01 00:00:00"), "2")
    d.recordLoad("2")
    VectorSink.writeIvf(store, "emb", (0L until 32L).map { i =>
      (i, Seq.tabulate(4)(k => math.sin(i * 7 + k).toFloat))
    }.toDF("vec_id", "embedding"), "vec_id", "embedding", nlist = 2)
    val codecs = codecsUnder(root)
    def under(prefix: String) = codecs.keys.filter(_.startsWith(prefix))
    // every file class is present, so the check below is not vacuous
    Seq("appended/data/", "ranged/data/", "folded/data/", "hist/data/",
      "_dlt_loads/", "emb").foreach(t => assert(under(t).nonEmpty, t))
    assert(codecs.keys.exists(_.matches("appended/data/[^/]+-tomb/.*")), codecs.keys)
    assert(store.segments("folded").size === 1 && store.tombstones("folded").isEmpty)
    assert(store.segments("hist").size >= 2, "no closed SCD2 segment")
    val notZstd = codecs.filter(_._2 != Set("ZSTD"))
    assert(notZstd.isEmpty, s"files not (only) zstd: $notZstd")
  }

  test("a store written as snappy reads, takes a tombstone and folds to zstd") {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
    val root = Files.createTempDirectory("graft-snappy")
    val store = new TableStore(root.toString, spark)
    val rows = (1L to 30L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "x")
    store.append("t", rows.filter(col("id") <= 15L), statsFor = Seq("id"))
    store.append("t", rows.filter(col("id") > 15L), statsFor = Seq("id"))
    // rewrite the first segment's files with snappy, as a store written
    // before the codec change holds them
    val seg = root.resolve("t").resolve(store.segments("t").head.name)
    val conf = new org.apache.hadoop.conf.Configuration()
    scala.util.Using.resource(Files.list(seg))(_.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toVector).foreach { f =>
      val tmp = Files.createTempDirectory("graft-snappy-tmp").resolve(f.getFileName)
      val rw = new ParquetRewriter(new RewriteOptions.Builder(conf,
        new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.fs.Path(tmp.toUri))
        .transform(CompressionCodecName.SNAPPY).build())
      try rw.processBlocks() finally rw.close()
      Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    val segCodecs = codecsUnder(seg).values.toSet
    assert(segCodecs === Set(Set("SNAPPY")), "the simulated segment is not snappy")
    def read = store.read("t").orderBy("id").as[(Long, String, Double)].collect().toSeq
    val all = rows.orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(read === all)
    store.deleteByIds("t", "id", Seq(Tuple1(2L), Tuple1(20L)).toDF("id"))
    val kept = all.filterNot(r => r._1 == 2L || r._1 == 20L)
    assert(read === kept)
    assert(store.compact("t", maxSegments = 1))
    assert(read === kept)
    val live = store.segments("t").map(s => root.resolve("t").resolve(s.name))
    assert(live.size === 1 && store.tombstones("t").isEmpty)
    assert(live.flatMap(codecsUnder(_).values).toSet === Set(Set("ZSTD")))
  }

  test("the store's parquet writers are the only ones that pick a codec") {
    // a DataFrame parquet write names no `read` before its `.parquet(`;
    // a destination's own files, Verify's dump and the input fixtures
    // the bundled queries under graft/queries write are not store files
    val writes = sourceHits("src/main/scala", """^(?:(?!read).)*\.parquet\(""".r,
      "graft/write/FilesystemSink.scala", "graft/Verify.scala")
      .filterNot(_.startsWith("graft/queries/"))
    val table = Files.readAllLines(java.nio.file.Paths.get(
      "src/main/scala/graft/write/TableStore.scala")).asScala
    val start = table.indexWhere(_.contains("private def bloomWrite("))
    val end = table.indexWhere(_.trim.startsWith("private def "), start + 1)
    assert(start >= 0 && end > start, "TableStore.bloomWrite not found")
    val outside = writes.filterNot { h =>
      h.startsWith("graft/write/TableStore.scala:") &&
        (start until end).contains(h.split(":")(1).toInt - 1)
    }
    assert(outside.isEmpty,
      s"parquet write(s) outside TableStore.bloomWrite: $outside — write store files through it")
    assert(writes.size === 1, s"bloomWrite's own write not found: $writes")
    val codecs = sourceHits("src/main/scala", "withCompressionCodec".r,
      "graft/write/TinyParquet.scala")
    assert(codecs.isEmpty, s"codec picked outside TinyParquet: $codecs")
  }
}
