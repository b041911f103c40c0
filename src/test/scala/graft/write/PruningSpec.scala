package graft.write

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PruningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("prune").toString

  test("segments carry min/max stats captured during the write") {
    val store = new TableStore(tmp(), spark)
    store.append("t", Seq((1L, "a"), (5L, "b")).toDF("id", "v"), statsFor = Seq("id"))
    val Seq(seg) = store.segments("t")
    assert(seg.stats("id") === ColStats("1", "5", numeric = true))
  }

  test("merge rewrites only segments overlapping the staged key range") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    // three disjoint segments: [1,10], [100,110], [1000,1010]
    Seq(1L to 10L, 100L to 110L, 1000L to 1010L).foreach { r =>
      store.append("t", r.map(i => (i, s"v$i")).toDF("id", "v"), statsFor = Seq("id"))
    }
    val before = store.segments("t").map(_.name)
    assert(before.size === 3)

    // staging hits only the middle range
    val staging = Seq((105L, "NEW"), (200L, "INS")).toDF("id", "v")
    d.merge("t", staging, MergeConfig(primaryKey = Seq("id")), "2")

    val after = store.segments("t").map(_.name)
    // first and third segments survive untouched; middle was rewritten
    assert(after.contains(before(0)) && after.contains(before(2)))
    assert(!after.contains(before(1)))
    assert(after.size === 3) // 2 kept + 1 merge result

    val out = store.read("t")
    assert(out.count() === 10 + 11 + 11 + 1) // +1 inserted key 200
    assert(out.filter(col("id") === 105).select("v").as[String].head() === "NEW")
    assert(out.filter(col("id") === 200).count() === 1)
    assert(out.filter(col("id") === 1000).count() === 1)
  }

  test("composite keys prune jointly on every stat'd column") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    // segments share the range of k1 but are disjoint on k2
    store.append("t", Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k1", "k2", "v"),
      statsFor = Seq("k1", "k2"))
    store.append("t", Seq((1L, 500L, "c"), (2L, 600L, "d")).toDF("k1", "k2", "v"),
      statsFor = Seq("k1", "k2"))
    val before = store.segments("t").map(_.name)
    // staging overlaps k1 of both segments but k2 of only the first
    d.merge("t", Seq((1L, 10L, "NEW")).toDF("k1", "k2", "v"),
      MergeConfig(primaryKey = Seq("k1", "k2")), "2")
    val after = store.segments("t").map(_.name)
    assert(after.contains(before(1))) // second segment pruned via k2
    assert(!after.contains(before(0)))
    val out = store.read("t").orderBy("k1", "k2")
      .select("v").as[String].collect().toSeq
    assert(out === Seq("NEW", "c", "b", "d"))
  }

  test("delete-insert with pk AND merge_key deletes on EITHER key group") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    // dest: (pk, mk, v)
    store.append("t", Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("pk", "mk", "v"), statsFor = Seq("pk", "mk"))
    // staging matches row 1 by pk only (mk differs) and row 2 by mk only
    val staging = Seq((1L, 99L, "NEW1"), (7L, 20L, "NEW2")).toDF("pk", "mk", "v")
    d.merge("t", staging,
      MergeConfig(primaryKey = Seq("pk"), mergeKey = Seq("mk")), "2")
    val out = store.read("t").orderBy("pk").select("pk", "v")
      .as[(Long, String)].collect().toSeq
    // rows 1 and 2 deleted (pk-match OR mk-match), row 3 kept, 2 inserted
    assert(out === Seq((1L, "NEW1"), (3L, "c"), (7L, "NEW2")))
  }

  test("merge falls back to full rewrite when stats are missing") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    store.append("t", Seq((1L, "a")).toDF("id", "v")) // no stats
    d.merge("t", Seq((1L, "b")).toDF("id", "v"), MergeConfig(primaryKey = Seq("id")), "2")
    val out = store.read("t").select("id", "v").as[(Long, String)].collect().toSeq
    assert(out === Seq((1L, "b")))
    // and the merge commit backfills stats → next merge can prune
    assert(store.segments("t").forall(_.stats.contains("id")))
  }

  test("merge output is range-laid-out: files cover disjoint key ranges") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    val rows = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8) // scrambled input
    d.merge("t", rows, MergeConfig(primaryKey = Seq("id")), "1")
    // within every file the key is sorted (tight row-group min/max)
    val byFile = store.read("t")
      .select(input_file_name().as("f"), col("id"))
      .as[(String, Long)].collect().groupBy(_._1).values
    byFile.foreach { rows =>
      val ids = rows.map(_._2).toSeq
      assert(ids === ids.sorted)
    }
    // and across files the ranges are disjoint intervals
    val perFile = byFile.map(r => (r.map(_._2).min, r.map(_._2).max))
      .toSeq.sortBy(_._1)
    perFile.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
  }

  test("compact folds many small segments into one, preserving stats") {
    val store = new TableStore(tmp(), spark)
    (1 to 5).foreach(i =>
      store.append("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), statsFor = Seq("id")))
    assert(store.segments("t").size === 5)
    assert(!store.compact("t", maxSegments = 16)) // under threshold: no-op
    assert(store.compact("t", maxSegments = 3))
    val Seq(seg) = store.segments("t")
    assert(seg.stats("id") === ColStats("1", "5", numeric = true))
    assert(store.read("t").count() === 5)
  }

  test("readPruned skips non-matching segments but filters identically") {
    val store = new TableStore(tmp(), spark)
    Seq(1L to 10L, 100L to 110L, 1000L to 1010L).foreach { r =>
      store.append("t", r.map(i => (i, s"v$i")).toDF("id", "v"), statsFor = Seq("id"))
    }
    // point lookup: only the matching segment is scanned
    val hit = store.readPruned("t", "id", Some("105"), Some("105"))
    assert(hit.inputFiles.length < store.read("t").inputFiles.length)
    assert(hit.filter(col("id") === 105L).count() === 1)
    // range crossing two segments
    val range = store.readPruned("t", "id", Some("5"), Some("105"))
    assert(range.filter(col("id").between(5L, 105L)).count() === 6 + 6)
    // no possible match: empty frame, schema kept
    val miss = store.readPruned("t", "id", Some("5000"), None)
    assert(miss.count() === 0 && miss.columns.toSeq === Seq("id", "v"))
    // relation facade goes through the pruned path with identical results
    val p = new graft.pipeline.Pipeline("pr", tmp(), spark)
    val ds = new graft.dataset.GraftDataset(store, p.registry, spark)
    val viaRelation = ds.table("t").where("id", "gte", 1000L).df()
    assert(viaRelation.count() === 11)
    // one of three segments scanned (a segment may hold several part files)
    assert(viaRelation.inputFiles.length === store.read("t").inputFiles.length / 3)
  }

  test("chain merge tombstones child deletes instead of rewriting") {
    import graft.normalize.Ids
    val store = new TableStore(tmp(), spark)
    val cfg = MergeConfig(primaryKey = Seq("k"))
    def chain(rows: Seq[(String, String)], items: Seq[(String, Long)]) =
      TableChain("r",
        rows.toDF("k", "v").withColumn(Ids.DltId, col("k")),
        Map("r__items" -> items.toDF(Ids.DltRootId, "item")))
    // load 1: roots a,b with children
    MergeChain.deleteInsert(store,
      chain(Seq(("a", "v1"), ("b", "v1")), Seq(("a", 1L), ("a", 2L), ("b", 3L))), cfg, "1")
    val seg1 = store.segments("r__items").map(_.name)
    // load 2 replaces root a: its children die via TOMBSTONE, the
    // original child segment survives by name (no rewrite)
    MergeChain.deleteInsert(store,
      chain(Seq(("a", "v2")), Seq(("a", 9L))), cfg, "2")
    val after = store.segments("r__items").map(_.name)
    assert(seg1.forall(after.contains), "child segments must not rewrite")
    assert(store.tombstones("r__items").nonEmpty)
    val items = store.read("r__items").orderBy("item")
      .select("item").as[Long].collect().toSeq
    assert(items === Seq(3L, 9L)) // a's old children dead, b's alive, new in
    // a third load replacing b keeps generation correctness for a's new row
    MergeChain.deleteInsert(store,
      chain(Seq(("b", "v2")), Seq(("b", 7L))), cfg, "3")
    assert(store.read("r__items").orderBy("item")
      .select("item").as[Long].collect().toSeq === Seq(7L, 9L))
    // compaction folds tombstones away with identical content
    assert(store.compact("r__items", maxSegments = 0))
    assert(store.tombstones("r__items").isEmpty)
    assert(store.read("r__items").orderBy("item")
      .select("item").as[Long].collect().toSeq === Seq(7L, 9L))
  }

  test("chain merge tombstones the root rows it replaces instead of rewriting the root") {
    import graft.normalize.Ids
    val store = new TableStore(tmp(), spark)
    val cfg = MergeConfig(primaryKey = Seq("k"))
    def chain(rows: Seq[(String, String)]) = {
      val root = rows.toDF("k", "v").withColumn(Ids.DltId, col("k"))
      TableChain("r", root,
        Map("r__items" -> root.select(col(Ids.DltId).as(Ids.DltRootId), col("v"))))
    }
    MergeChain.deleteInsert(store, chain(Seq(("a", "v1"), ("b", "v1"))), cfg, "1")
    val seg1 = store.segments("r").map(_.name)
    val snap1 = store.snapshots("r").last
    MergeChain.deleteInsert(store, chain(Seq(("a", "v2"), ("c", "v2"))), cfg, "2")
    // the load-1 segment survives by name: the replaced root row dies
    // under a `_dlt_id` tombstone, no root segment is rewritten
    assert(seg1.forall(store.segments("r").map(_.name).contains),
      "root segments must not rewrite")
    assert(store.tombstones("r").map(_.column) === Seq(Ids.DltId))
    assert(store.read("r").orderBy("k").select("k", "v").as[(String, String)]
      .collect().toSeq === Seq(("a", "v2"), ("b", "v1"), ("c", "v2")))
    // time travel: the pre-merge snapshot still reads the old rows
    assert(store.readAt("r", snap1).orderBy("k").select("k", "v")
      .as[(String, String)].collect().toSeq === Seq(("a", "v1"), ("b", "v1")))
  }

  /** Rows of `df` as sorted strings over `cols`, a multiset to compare. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  test("a chain root read equals delete-insert over plain frames, load after load") {
    import graft.normalize.Ids
    // each case: a config and three staged root loads; `_dlt_id` is the
    // key hash a pk merge gets (here `k` itself) or a per-row id without
    // a pk, as the pipeline assigns them
    val cases: Seq[(String, MergeConfig, Seq[org.apache.spark.sql.DataFrame])] = Seq(
      ("pk", MergeConfig(primaryKey = Seq("k")), Seq(
        Seq(("a", "1"), ("b", "1"), ("c", "1")).toDF("k", "v"),
        Seq(("a", "2"), ("d", "2")).toDF("k", "v"),
        Seq(("b", "3"), ("a", "3")).toDF("k", "v"))),
      // load 2 kills (1, A) and re-inserts key 1 under the same id; load
      // 3 matches only the dead (1, A) on `m`, so the live (1, B) stays
      ("pk + mergeKey", MergeConfig(primaryKey = Seq("k"), mergeKey = Seq("m")), Seq(
        Seq(("1", "A"), ("3", "C")).toDF("k", "m"),
        Seq(("1", "B")).toDF("k", "m"),
        Seq(("2", "A"), ("4", "C")).toDF("k", "m"))),
      ("mergeKey", MergeConfig(mergeKey = Seq("m")), Seq(
        Seq(("x1", "A"), ("x2", "A"), ("x3", "B")).toDF(Ids.DltId, "m"),
        Seq(("y1", "A")).toDF(Ids.DltId, "m"),
        Seq(("z1", "B"), ("z2", "C")).toDF(Ids.DltId, "m"))),
      ("hard delete", MergeConfig(primaryKey = Seq("k"), hardDeleteColumn = Some("del")), Seq(
        Seq(("a", "1", false), ("b", "1", false)).toDF("k", "v", "del"),
        Seq(("a", "2", true), ("c", "2", false)).toDF("k", "v", "del"),
        Seq(("a", "3", false), ("c", "3", true)).toDF("k", "v", "del"))),
      ("dedupSort", MergeConfig(primaryKey = Seq("k"), dedupSort = Some("s")), Seq(
        Seq(("a", "1", 1L), ("a", "1b", 2L), ("b", "1", 1L)).toDF("k", "v", "s"),
        Seq(("b", "2", 5L), ("b", "2b", 4L)).toDF("k", "v", "s"),
        Seq(("a", "3", 1L), ("c", "3", 1L)).toDF("k", "v", "s"))),
      ("new staged column", MergeConfig(primaryKey = Seq("k")), Seq(
        Seq(("a", "1"), ("b", "1")).toDF("k", "v"),
        Seq(("a", "2", "x")).toDF("k", "v", "extra"),
        Seq(("b", "3", "y"), ("c", "3", "z")).toDF("k", "v", "extra"))))
    cases.foreach { case (name, cfg, loads) =>
      val store = new TableStore(tmp(), spark)
      val expected = loads.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
        case (dest, (raw, i)) =>
          val loadId = s"${i + 1}"
          val staged =
            if (raw.columns.contains(Ids.DltId)) raw
            else raw.withColumn(Ids.DltId, concat(lit("h"), col("k")))
          MergeChain.deleteInsert(store, TableChain("r", staged,
            Map("r__items" -> staged.select(col(Ids.DltId).as(Ids.DltRootId)))), cfg, loadId)
          val want = Merge.deleteInsert(dest,
            staged.withColumn(Ids.DltLoadId, lit(loadId)), cfg)
          val cols = want.columns.toSeq.sorted
          assert(store.read("r").columns.toSeq.sorted === cols, s"$name, load $loadId")
          assert(rowsOf(store.read("r"), cols) === rowsOf(want, cols), s"$name, load $loadId")
          Some(spark.createDataFrame(want.collect().toSeq.asJava, want.schema))
      }.get
      assert(store.compact("r", maxSegments = 0))
      assert(store.tombstones("r").isEmpty)
      val cols = expected.columns.toSeq.sorted
      assert(rowsOf(store.read("r"), cols) === rowsOf(expected, cols), s"$name, compacted")
    }
  }

  test("the same id in two tombstones on one segment deletes its row once") {
    val store = new TableStore(tmp(), spark)
    store.append("t", Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v"))
    store.deleteByIds("t", "id", Seq(2L).toDF("id"))
    store.deleteByIds("t", "id", Seq(2L, 3L).toDF("id"))
    assert(store.tombstones("t").size === 2)
    assert(store.read("t").orderBy("v").select("id", "v").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a"), (1L, "b")))
  }

  private def joins(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("a tombstoned read filters small id files on the driver and joins large ones, to equal rows") {
    val strings = new TableStore(tmp(), spark)
    strings.append("t", Seq(("a", "1"), ("b", "2"), ("c", "3")).toDF("id", "v"))
    strings.deleteByIds("t", "id", Seq("b").toDF("id"))
    val longs = new TableStore(tmp(), spark)
    longs.append("t", (1L to 12L).map(i => (i, s"v$i")).toDF("id", "v"))
    longs.deleteByIds("t", "id", (5L to 9L).toDF("id"))
    // a null id in the rows and in the id file: the null row survives
    val nulls = new TableStore(tmp(), spark)
    nulls.append("t", Seq[(Option[Long], String)](
      (Some(1L), "a"), (None, "n"), (Some(2L), "b")).toDF("id", "v"))
    nulls.deleteByIds("t", "id", Seq[Option[Long]](Some(2L), None).toDF("id"))
    // two tombstones with different coverage sets; the snapshot between
    // them reads the first one only
    val two = new TableStore(tmp(), spark)
    two.append("t", (1L to 4L).map(i => (i, "old")).toDF("id", "v"))
    two.deleteByIds("t", "id", Seq(1L).toDF("id"))
    two.append("t", (1L to 4L).map(i => (i, "new")).toDF("id", "v"))
    val between = two.snapshots("t").last
    two.deleteByIds("t", "id", Seq(2L, 3L).toDF("id"))
    // the `id` tombstone covers a segment with no `id` column, alone in
    // its coverage group: its rows survive
    val lacking = new TableStore(tmp(), spark)
    lacking.append("t", Seq("x", "y").toDF("v"))
    lacking.deleteByIds("t", "v", Seq("x").toDF("v"))
    lacking.append("t", Seq((1L, "p"), (2L, "q")).toDF("id", "v"))
    lacking.deleteByIds("t", "id", Seq(2L).toDF("id"))
    // an SCD2 load's closed segment as the id file
    val scd2 = new TableStore(tmp(), spark)
    val d = new Dispositions(scd2, spark)
    val scfg = Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = "2024-01-01 00:00:00")
    d.scd2("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), scfg, "1")
    d.scd2("t", Seq((1L, "a2"), (2L, "b")).toDF("id", "v"),
      scfg.copy(boundaryTs = "2024-02-01 00:00:00"), "2")
    // each case: how to read it, whether its segments share one schema
    // (a read of mixed schemas pays the footer merge's job, tombstones
    // or not) and the rows it holds
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Boolean, Seq[String])] = Seq(
      ("string ids", () => strings.read("t"), true, Seq("a|1", "c|3")),
      ("long ids", () => longs.read("t"), true,
        ((1 to 4) ++ (10 to 12)).map(i => s"$i|v$i")),
      ("a null id", () => nulls.read("t"), true, Seq("1|a", "null|n")),
      ("two coverage sets", () => two.read("t"), true,
        Seq("4|old", "1|new", "4|new")),
      ("readAt between them", () => two.readAt("t", between), true,
        Seq("2|old", "3|old", "4|old", "1|new", "2|new", "3|new", "4|new")),
      ("a segment lacking the column", () => lacking.read("t").select("id", "v"), false,
        Seq("null|y", "1|p")),
      ("scd2 closed segment", () => scd2.read("t").select("id", "v", "_dlt_valid_to"), true,
        Seq("1|a2|null", "2|b|null", "1|a|2024-02-01 00:00:00.0")))
    cases.foreach { case (name, read, oneSchema, want) =>
      val (df, jobs) = countJobs(read())
      if (oneSchema) assert(jobs === 0, name)
      assert(joins(df) === 0, name)
      val viaDriver = rowsOf(df, df.columns.toSeq)
      assert(viaDriver === want.sorted, name)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = read()
        assert(joins(joined) > 0, name)
        assert(rowsOf(joined, joined.columns.toSeq) === viaDriver, name)
      }
    }
    // up to 1,000 ids in a column's id files filter on the driver; one
    // more takes the join, whose one job costs less than planning them
    val many = new TableStore(tmp(), spark)
    many.append("t", (1L to 3000L).map(i => (i, s"v$i")).toDF("id", "v"))
    many.deleteByIds("t", "id", (1L to 600L).toDF("id"))
    many.deleteByIds("t", "id", (601L to 1000L).toDF("id"))
    assert(joins(many.read("t")) === 0)
    assert(many.read("t").count() === 2000)
    many.deleteByIds("t", "id", Seq(1001L).toDF("id"))
    assert(joins(many.read("t")) > 0)
    assert(many.read("t").count() === 1999)
  }

  test("scd2 loads leave closed-history segments untouched") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    val cfg = Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = "2024-01-01 00:00:00")
    d.scd2("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), cfg, "1")
    // load 2 changes id=1 → one retired row lands in a NEW closed segment
    d.scd2("t", Seq((1L, "a2"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      cfg.copy(boundaryTs = "2024-02-01 00:00:00"), "2")
    val closedAfter2 = store.segments("t")
      .filter(_.stats.get("__scd2_state").exists(_.min == "closed")).map(_.name)
    assert(closedAfter2.size === 1)
    // load 3 changes id=2 → the prior closed segment SURVIVES by name
    d.scd2("t", Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("id", "v"),
      cfg.copy(boundaryTs = "2024-03-01 00:00:00"), "3")
    val segsAfter3 = store.segments("t")
    val closedAfter3 = segsAfter3
      .filter(_.stats.get("__scd2_state").exists(_.min == "closed")).map(_.name)
    assert(closedAfter2.forall(closedAfter3.contains)) // history untouched
    assert(closedAfter3.size === 2)
    // full content is still correct: 3 active + 2 retired versions
    val out = store.read("t")
    assert(out.count() === 5)
    assert(out.filter(col("_dlt_valid_to").isNull).count() === 3)
    assert(out.filter(col("id") === 1L).count() === 2)
  }

  test("point reads skip segments whose probe id is dead under a tombstone") {
    val store = new TableStore(tmp(), spark)
    // two stat'd segments: ids [1,10] and [100,110]
    store.append("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      statsFor = Seq("id"))
    store.append("t", (100L to 110L).map(i => (i, s"v$i")).toDF("id", "v"),
      statsFor = Seq("id"))
    // kill id=5 merge-on-read; the replacement row lands in a new segment
    store.appendWithTombstone("t", Seq((5L, "NEW")).toDF("id", "v"), "id",
      Seq(5L).toDF("id"), statsFor = Seq("id"))
    // dead-id probe: the [1,10] segment is skipped (its id=5 rows are all
    // tombstoned), only the replacement segment is scanned
    val hit = store.readPruned("t", "id", Some("5"), Some("5"))
    val allFiles = store.readSegments("t", store.segments("t")).inputFiles.length
    assert(hit.inputFiles.length < allFiles)
    assert(hit.filter(col("id") === 5L).select("v").as[String].collect().toSeq
      === Seq("NEW"))
    // live-id probe in a covered segment: nothing skipped beyond stats,
    // row survives the tombstone anti-join
    val live = store.readPruned("t", "id", Some("7"), Some("7"))
    assert(live.filter(col("id") === 7L).count() === 1)
    // range probes never consult tombstones (anti-join still applies)
    val range = store.readPruned("t", "id", Some("1"), Some("10"))
    assert(range.filter(col("id").between(1L, 10L)).count() === 10)
    assert(range.filter(col("id") === 5L).select("v").as[String].collect()
      .toSeq === Seq("NEW"))
    // the membership probe reads the id file on the driver: no job
    assert(countJobs(store.readPruned("t", "id", Some("5"), Some("5")))._2 === 0)
    // past the broadcast threshold it answers "absent": the covered
    // [1,10] segment is scanned again
    val covered = store.readSegments("t", store.segments("t").take(1)).inputFiles.toSet
    assert(covered.intersect(hit.inputFiles.toSet).isEmpty)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val unpruned = store.readPruned("t", "id", Some("5"), Some("5"))
      assert(covered.subsetOf(unpruned.inputFiles.toSet))
      assert(unpruned.filter(col("id") === 5L).select("v").as[String].collect().toSeq
        === Seq("NEW"))
    }
  }

  test("a decimal id column is never probed or filtered on the driver") {
    // decimal(10,2) is an unscaled INT64 in parquet: 123.45 is stored as
    // 12345, which a driver read would take for the probe value 12345
    val store = new TableStore(tmp(), spark)
    def dec(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").cast("decimal(10,2)").as("id"), col("v"))
    store.append("t", dec(Seq(("123.45", "a"), ("12345", "b")).toDF("id", "v")),
      statsFor = Seq("id"))
    store.deleteByIds("t", "id", dec(Seq(("123.45", "")).toDF("id", "v")).select("id"))
    val probe = store.readPruned("t", "id", Some("12345"), Some("12345"))
    assert(probe.filter(col("id") === 12345).select("v").as[String].collect().toSeq
      === Seq("b"))
    assert(joins(store.read("t")) === 1)
    assert(store.read("t").select("v").as[String].collect().toSeq === Seq("b"))
  }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  test("bloom filters are sized to the file: a small segment and tombstone stay under 16 KiB") {
    val dir = tmp()
    val store = new TableStore(dir, spark)
    store.append("t", (1L to 150L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      statsFor = Seq("id"))
    store.deleteByIds("t", "id", (1L to 100L).toDF("id"))
    val Seq(seg) = store.segments("t")
    val Seq(tomb) = store.tombstones("t")
    val conf = spark.sessionState.newHadoopConf()
    for (name <- Seq(seg.name, tomb.name)) {
      val files = parquetFiles(Paths.get(dir, "t", name))
      val bytes = files.map(Files.size).sum
      assert(bytes < 16 * 1024, s"$name: $bytes bytes of parquet")
      files.foreach { f =>
        val ids = spark.read.parquet(f.toString).select("id").as[Long].collect()
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toString), conf))
        try r.getFooter.getBlocks.asScala.foreach { b =>
          val c = b.getColumns.asScala.find(_.getPath.toDotString == "id").get
          assert(c.getBloomFilterOffset >= 0, s"$name has no bloom filter on id")
          // sized down, the filter still holds every id the file holds
          val bf = r.readBloomFilter(c)
          assert(ids.forall(i => bf.findHash(bf.hash(i))), s"$name: a written id is missing")
        } finally r.close()
      }
    }
    // the dead ids still read as dead, the live ones as live
    assert(store.read("t").select("id").as[Long].collect().sorted.toSeq === (101L to 150L))
  }

  test("relation pruning canonicalizes the probe through the column type") {
    val store = new TableStore(tmp(), spark)
    // timestamp segment: stats are Catalyst cast-to-string forms
    // ("2024-01-02 23:59:59"); an ISO probe with a 'T' separator must be
    // canonicalized before the string compare or the segment is wrongly
    // pruned (lexicographically "2024-01-02T.." > "2024-01-02 2..")
    store.append("t",
      Seq("2024-01-02 09:00:00", "2024-01-02 23:59:59")
        .toDF("s").select(to_timestamp(col("s")).as("ts")),
      statsFor = Seq("ts"))
    val p = new graft.pipeline.Pipeline("cp", tmp(), spark)
    val ds = new graft.dataset.GraftDataset(store, p.registry, spark)
    val got = ds.table("t").where("ts", "gte", "2024-01-02T10:00:00").df()
    assert(got.count() === 1) // the 23:59:59 row — NOT silently empty
  }

  test("vacuum deletes orphaned segments, keeps every retained snapshot readable") {
    val store = new TableStore(tmp(), spark)
    store.append("t", Seq((1L, "a")).toDF("id", "v"), statsFor = Seq("id"))
    store.append("t", Seq((2L, "b")).toDF("id", "v"), statsFor = Seq("id"))
    // overwrite orphans both earlier segments (they leave the manifest)
    store.overwrite("t", Seq((3L, "c"), (4L, "d")).toDF("id", "v"), statsFor = Seq("id"))
    store.append("t", Seq((5L, "e")).toDF("id", "v"), statsFor = Seq("id"))
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(store.root, "t", "data")).count()
    assert(dataDirs === 4)
    // retain the last 2 manifests: the overwrite segment is still
    // referenced, the two pre-overwrite segments are orphans
    val deleted = store.vacuum("t", retainManifests = 2)
    assert(deleted === 2)
    assert(store.read("t").count() === 3) // live snapshot intact
    // tombstoned tables keep their id files while referenced
    store.appendWithTombstone("t", Seq((3L, "c2")).toDF("id", "v"), "id",
      Seq(3L).toDF("id"), statsFor = Seq("id"))
    assert(store.vacuum("t", retainManifests = 1) >= 0)
    assert(store.read("t").orderBy("id").select("v").as[String].collect().toSeq
      === Seq("c2", "d", "e"))
  }

  test("string keys prune lexicographically") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    store.append("t", Seq(("aaa", 1), ("amm", 2)).toDF("k", "v"), statsFor = Seq("k"))
    store.append("t", Seq(("zzz", 3)).toDF("k", "v"), statsFor = Seq("k"))
    val before = store.segments("t").map(_.name)
    d.merge("t", Seq(("abc", 9)).toDF("k", "v"), MergeConfig(primaryKey = Seq("k")), "2")
    val after = store.segments("t").map(_.name)
    assert(after.contains(before(1))) // z-segment untouched
    assert(store.read("t").count() === 4)
  }

  test("dataset asOf pins a snapshot and composes like any relation") {
    import graft.dataset.GraftDataset
    import graft.schema.SchemaRegistry
    val store = new TableStore(
      java.nio.file.Files.createTempDirectory("graft-asof").toString, spark)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val snap1 = store.snapshots("t").last
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    val ds = new GraftDataset(store, new SchemaRegistry("asof"), spark)
    assert(ds.snapshots("t").last != snap1)
    assert(ds.asOf("t", snap1).df().count() === 2L)
    assert(ds.table("t").df().count() === 3L)
    // composes: filter over the pinned snapshot
    assert(ds.asOf("t", snap1).where("id", "gte", 2).select("v")
      .df().collect().map(_.getString(0)).toSeq === Seq("b"))
    // a vacuumed snapshot reports, not NPEs
    store.append("t", Seq((4L, "d")).toDF("id", "v"))
    store.vacuum("t", retainManifests = 1)
    val e = intercept[IllegalArgumentException](ds.asOf("t", snap1))
    assert(e.getMessage.contains("vacuumed"))
  }
}
