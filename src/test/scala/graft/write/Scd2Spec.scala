package graft.write

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Dedup
import graft.normalize.Ids

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("scd2").toString

  private def withHash(df: DataFrame, cfg: Scd2Config): DataFrame =
    df.withColumn(cfg.rowHashColumn, Ids.rowHash(
      cfg.trackedColumns.filterNot(Seq(cfg.validFromColumn, cfg.validToColumn,
        cfg.rowHashColumn).contains)))

  /** The join-based split the one-pass split replaced (semi/anti joins
    * plus distincts), kept here as the reference it must agree with:
    * `(newActive, retired, inserted)`. */
  private def joinSplit(activeDest: Option[DataFrame], staging: DataFrame,
      cfg: Scd2Config): (DataFrame, DataFrame, DataFrame) = {
    val openTo: Column = cfg.activeRecordTs
      .map(ts => to_timestamp(lit(ts)))
      .getOrElse(lit(null).cast("timestamp"))
    val boundary = to_timestamp(lit(cfg.boundaryTs))
    val staged = withHash(staging, cfg)
    activeDest match {
      case None =>
        val active = staged
          .withColumn(cfg.validFromColumn, boundary)
          .withColumn(cfg.validToColumn, openTo)
        (active, active.limit(0), active)
      case Some(a0) =>
        val activeRows = withHash(a0.drop(cfg.rowHashColumn), cfg)
        val hashKey = cfg.rowHashColumn +: cfg.mergeKey
        val stagedHashes = staged.select(hashKey.map(col): _*).distinct()
        val scopedActive =
          if (cfg.mergeKey.isEmpty) activeRows
          else activeRows.join(staging.select(cfg.mergeKey.map(col): _*).distinct(),
            cfg.mergeKey, "left_semi")
        val outOfScopeActive =
          if (cfg.mergeKey.isEmpty) activeRows.limit(0)
          else activeRows.join(staging.select(cfg.mergeKey.map(col): _*).distinct(),
            cfg.mergeKey, "left_anti")
        val retired = scopedActive
          .join(stagedHashes, hashKey, "left_anti")
          .withColumn(cfg.validToColumn, boundary)
        val survivors = scopedActive.join(stagedHashes, hashKey, "left_semi")
        val activeHashes = scopedActive.select(hashKey.map(col): _*).distinct()
        val inserted = staged
          .join(activeHashes, hashKey, "left_anti")
          .withColumn(cfg.validFromColumn, boundary)
          .withColumn(cfg.validToColumn, openTo)
        val newActive = outOfScopeActive
          .unionByName(survivors)
          .unionByName(inserted, allowMissingColumns = true)
        (newActive, retired, inserted.select(newActive.columns.map(col): _*))
    }
  }

  private def fields(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The one-pass split and the join-based split agree on every frame:
    * columns, types, and rows as a multiset. Returns the row counts
    * `(newActive, retired)`. */
  private def agree(active: DataFrame, staging: DataFrame,
      cfg: Scd2Config): (Int, Int) = Dedup.withPins {
    val (wantActive, wantRetired, wantInserted) = joinSplit(Some(active), staging, cfg)
    val Scd2.Split(gotActive, gotRetired, gotInserted) =
      Scd2.applySplit(Some(active), staging, cfg)
    assert(fields(gotActive) === fields(wantActive))
    assert(fields(gotRetired) === fields(wantRetired))
    assert(fields(gotInserted) === fields(gotActive))
    assert(rows(gotActive) === rows(wantActive))
    assert(rows(gotRetired) === rows(wantRetired))
    assert(rows(gotInserted) === rows(wantInserted))
    (rows(gotActive).size, rows(gotRetired).size)
  }

  /** The active rows a first load of `base` leaves behind. */
  private def loaded(base: DataFrame, cfg: Scd2Config): DataFrame =
    joinSplit(None, base, cfg)._1

  private val cfg = Scd2Config(trackedColumns = Seq("id", "v"),
    boundaryTs = "2024-01-01 00:00:00")
  private val next = "2024-02-01 00:00:00"

  test("one-pass split matches the join split: duplicate staged and active rows") {
    val active = loaded(Seq((1L, "a"), (1L, "a"), (2L, "b"), (4L, "d"), (4L, "d"))
      .toDF("id", "v"), cfg)
    // (1,a) equals an active row twice over; (3,c) arrives twice; (2,b)
    // changed; (4,d) vanished — both of its duplicate rows retire
    val staging = Seq((1L, "a"), (3L, "c"), (3L, "c"), (2L, "b2"), (2L, "b2"))
      .toDF("id", "v")
    assert(agree(active, staging, cfg.copy(boundaryTs = next)) === ((2 + 2 + 2, 3)))
  }

  test("one-pass split matches the join split: null merge keys on both sides") {
    // v alone is tracked, so two entities can share a row hash
    val keyed = cfg.copy(trackedColumns = Seq("v"), mergeKey = Seq("k"),
      boundaryTs = next)
    val active = loaded(Seq[(Option[String], String)](
      (Some("p1"), "a"), (Some("p2"), "a"), (None, "a"), (None, "z"), (Some("p3"), "q"))
      .toDF("k", "v"), keyed)
    // null-key rows never match: the staged (null, a) is inserted beside
    // the active (null, a), and the active null-key rows stay out of
    // scope; p2 shares p1's hash but not its entity, so p2 retires
    val staging = Seq[(Option[String], String)](
      (Some("p1"), "a"), (Some("p2"), "b"), (None, "a"))
      .toDF("k", "v")
    assert(agree(active, staging, keyed) === ((6, 1)))
  }

  test("one-pass split matches the join split: activeRecordTs and a staged extra column") {
    val open = cfg.copy(activeRecordTs = Some("9999-12-31 00:00:00"))
    val active = loaded(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), open)
    val staging = Seq((1L, "a", "n1"), (2L, "b2", "n2"), (3L, "c", "n3"))
      .toDF("id", "v", "note")
    assert(agree(active, staging, open.copy(boundaryTs = next)) === ((3, 1)))
  }

  test("one-pass split matches the join split: all-retire and no-retire loads") {
    val active = loaded(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cfg)
    val later = cfg.copy(boundaryTs = next)
    assert(agree(active, Seq((3L, "c")).toDF("id", "v"), later) === ((1, 2)))
    assert(agree(active, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      later) === ((3, 0)))
    // partitioned: only the staged partition retires
    val parted = later.copy(trackedColumns = Seq("id", "part", "v"), mergeKey = Seq("part"))
    val pActive = loaded(Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"), parted)
    assert(agree(pActive, Seq((3L, "p1", "c")).toDF("id", "part", "v"), parted) === ((2, 1)))
  }

  private def closedSegments(store: TableStore, t: String): Seq[String] =
    store.segments(t).filter(_.stats.get("__scd2_state").exists(_.min == "closed"))
      .map(_.name)

  test("a load that retires nothing commits no closed segment and leaves no files") {
    val dir = tmp()
    val store = new TableStore(dir, spark)
    val d = new Dispositions(store, spark)
    d.scd2("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cfg, "1")
    d.scd2("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      cfg.copy(boundaryTs = next), "2")
    assert(closedSegments(store, "t").isEmpty)
    // one active segment per load; the empty closed write left nothing
    val dataDirs = Files.list(java.nio.file.Paths.get(dir, "t", "data"))
    try assert(dataDirs.count() === 2L)
    finally dataDirs.close()
    assert(store.read("t").count() === 3)
    // an all-retire load commits exactly one closed segment
    d.scd2("t", Seq((9L, "z")).toDF("id", "v"),
      cfg.copy(boundaryTs = "2024-03-01 00:00:00"), "3")
    assert(closedSegments(store, "t").size === 1)
    val out = store.read("t")
    assert(out.filter(col("_dlt_valid_to").isNull).select("id").as[Long]
      .collect().toSeq === Seq(9L))
    assert(out.filter(col("_dlt_valid_to").isNotNull).count() === 3)
  }

  test("an SCD2 load onto an existing table costs at most 8 Spark jobs") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    val keyed = cfg.copy(mergeKey = Seq("id"))
    d.scd2("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), keyed, "1")
    val (_, jobs) = countJobs {
      d.scd2("t", (40L to 60L).map(i => (i, if (i % 2 == 0) s"v$i" else s"w$i"))
        .toDF("id", "v"), keyed.copy(boundaryTs = next), "2")
    }
    assert(jobs <= 8, s"an SCD2 load ran $jobs Spark jobs")
    val out = store.read("t")
    assert(out.filter(col("_dlt_valid_to").isNull).count() === 60)
    assert(out.filter(col("_dlt_valid_to").isNotNull).count() === 5)
  }

  test("closed segments take the active column order: the table reads with no footer-merge job") {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    val keyed = cfg.copy(mergeKey = Seq("id"))
    d.scd2("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), keyed, "1")
    d.scd2("t", Seq((1L, "a"), (2L, "b2")).toDF("id", "v"), keyed.copy(boundaryTs = next), "2")
    assert(closedSegments(store, "t").size === 1)
    val (out, jobs) = countJobs(store.read("t"))
    assert(jobs === 0)
    // the order the footer merge of the two segments gave before
    assert(out.columns.toSeq === Seq("id", "v", "_dlt_load_id", "_dlt_valid_from",
      "_dlt_valid_to", "_dlt_row_hash"))
    assert(rows(out.select("id", "v", "_dlt_load_id", "_dlt_valid_to")) === Seq(
      "1|a|1|null", "2|b2|2|null", "2|b|1|2024-02-01 00:00:00.0", "3|c|1|null").sorted)
  }

  private def activeSegments(store: TableStore, t: String): Seq[String] =
    store.segments(t).filter(_.stats.get("__scd2_state").exists(_.min == "active"))
      .map(_.name)

  test("a load that changes one entity writes no copy of the unchanged active rows") {
    val dir = tmp()
    val store = new TableStore(dir, spark)
    val d = new Dispositions(store, spark)
    val keyed = cfg.copy(mergeKey = Seq("id"))
    d.scd2("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), keyed, "1")
    val before = store.segments("t")
    d.scd2("t", (1L to 50L).map(i => (i, if (i == 7L) "w7" else s"v$i")).toDF("id", "v"),
      keyed.copy(boundaryTs = next), "2")
    // the commit keeps every segment and adds the inserted segment, the
    // closed segment and one tombstone whose id file is that closed
    // segment, covering the active segments it retires from
    val after = store.segments("t")
    assert(after.take(before.size) === before)
    val added = after.drop(before.size)
    assert(added.map(_.stats("__scd2_state").min) === Seq("active", "closed"))
    val Seq(inserted, closed) = added
    assert(store.tombstones("t") ===
      Seq(Tombstone(closed.name, "_dlt_row_hash", before.map(_.name).toSet)))
    assert(rows(store.readSegments("t", Seq(inserted)).select("id", "v", "_dlt_valid_to")) ===
      Seq("7|w7|null"))
    assert(rows(store.readSegments("t", Seq(closed)).select("id", "v", "_dlt_valid_to")) ===
      Seq("7|v7|2024-02-01 00:00:00.0"))
    // nothing else was written: one data directory per segment
    val dataDirs = Files.list(java.nio.file.Paths.get(dir, "t", "data"))
    try assert(dataDirs.count() === 3L)
    finally dataDirs.close()
    val out = store.read("t")
    assert(out.filter(col("_dlt_valid_to").isNull).count() === 50)
    assert(rows(out.filter(col("id") === 7L).select("v", "_dlt_valid_to")) ===
      Seq("v7|2024-02-01 00:00:00.0", "w7|null"))
  }

  /** The table after one load by the rewrite path over plain frames:
    * the split of its active rows, with its closed history kept. */
  private def rewritten(table: Option[DataFrame], staged: DataFrame,
      c: Scd2Config): DataFrame = Dedup.withPins {
    import scala.jdk.CollectionConverters._
    val split = Scd2.applySplit(table.map(_.filter(Scd2.isActive(c))), staged, c)
    val all = table.map(_.filter(!Scd2.isActive(c))).fold(split.closed)(
      _.unionByName(split.closed, allowMissingColumns = true))
      .unionByName(split.active, allowMissingColumns = true)
    spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
  }

  /** Rows of `df` over `cols` as sorted strings, a multiset to compare. */
  private def rowsOver(df: DataFrame, cols: Seq[String]): Seq[String] =
    rows(df.select(cols.map(col): _*))

  test("a merge-on-read SCD2 table reads equal to the rewrite path, load after load") {
    // each case: a config, the staged loads, the tombstone column its
    // loads retire by (None: every load folds), and whether `_dlt_id`
    // rides the frames as a pipeline load's hash of every data column
    val keyed = cfg.copy(mergeKey = Seq("id"))
    val shared = cfg.copy(trackedColumns = Seq("v"), mergeKey = Seq("k"))
    // 34 loads, each changing one of six entities: the active fold at
    // loads 17 and 33, the closed fold at load 34
    val long = (0 until 33).scanLeft((1L to 6L).map(i => i -> s"v$i").toMap) {
      (m, k) => m + ((k % 6 + 1).toLong -> s"v${k % 6 + 1}-$k")
    }.map(m => m.toSeq.sorted.toDF("id", "v"))
    val cases: Seq[(String, Scd2Config, Seq[DataFrame], Option[String], Boolean)] = Seq(
      ("merge key", keyed, Seq(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
        Seq((2L, "b2"), (4L, "d")).toDF("id", "v"),
        Seq((2L, "b2"), (3L, "c")).toDF("id", "v"),
        Seq((1L, "a3"), (2L, "b3"), (3L, "c3"), (4L, "d3")).toDF("id", "v")),
        Some("_dlt_row_hash"), false),
      // p1 and p2 share a row hash; a load of p2 alone retires only p2's
      ("untracked merge key", shared, Seq(
        Seq(("p1", "a"), ("p2", "a"), ("p3", "q")).toDF("k", "v"),
        Seq(("p2", "b")).toDF("k", "v"),
        Seq(("p1", "b"), ("p2", "a")).toDF("k", "v")),
        Some(Ids.DltId), true),
      ("untracked merge key, no _dlt_id", shared, Seq(
        Seq(("p1", "a"), ("p2", "a")).toDF("k", "v"),
        Seq(("p2", "b")).toDF("k", "v")),
        None, false),
      // (1, a) retires, comes back, and retires again; no-retire and
      // all-retire loads between
      ("re-activated row hash", cfg, Seq(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        Seq((1L, "a2"), (2L, "b")).toDF("id", "v"),
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
        Seq((9L, "z")).toDF("id", "v"),
        Seq((1L, "a"), (9L, "z")).toDF("id", "v"),
        Seq((1L, "a2"), (9L, "z")).toDF("id", "v")),
        Some("_dlt_row_hash"), false),
      ("folds", keyed, long, Some("_dlt_row_hash"), false))
    cases.foreach { case (name, c0, loads, idColumn, withId) =>
      agreeLoadAfterLoad(name, loads.map((_, c0, "UTC")), idColumn, withId)
    }
  }

  /** Loads `loads` in order, each under its config and session time
    * zone with load k's day as its boundary, into a merge-on-read table
    * and by the rewrite path, and checks that the two read equal after
    * every load, at earlier snapshots, and after vacuum and retention.
    * `idColumn`: the tombstone column the loads retire by (None: every
    * load folds); `withId`: `_dlt_id` rides the frames as a pipeline
    * load's hash of every data column. A load whose tracked columns or
    * time zone differ from the one before must fold. */
  private def agreeLoadAfterLoad(name: String, loads: Seq[(DataFrame, Scd2Config, String)],
      idColumn: Option[String], withId: Boolean): Unit = {
    val store = new TableStore(tmp(), spark)
    val d = new Dispositions(store, spark)
    var want = Option.empty[DataFrame]
    var tombstoned = false
    val snaps = loads.zipWithIndex.map { case ((raw, c0, zone), k) =>
      val at = s"$name, load ${k + 1}"
      val c = c0.copy(boundaryTs =
        s"${java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)} 00:00:00")
      val changed = k > 0 && {
        val (_, prev, prevZone) = loads(k - 1)
        prev.trackedColumns != c0.trackedColumns || prevZone != zone
      }
      val staged =
        if (withId) raw.withColumn(Ids.DltId, Ids.rowHash(raw.columns.toSeq)) else raw
      val activeBefore = activeSegments(store, "t").size
      val closedBefore = closedSegments(store, "t").size
      withConf("spark.sql.session.timeZone" -> zone) {
        d.scd2("t", staged, c, s"${k + 1}")
        want = Some(rewritten(want, staged.withColumn(Ids.DltLoadId, lit(s"${k + 1}")), c))
      }
      val cols = want.get.columns.toSeq.sorted
      val got = store.read("t")
      assert(got.columns.toSeq.sorted === cols, at)
      assert(rowsOver(got, cols) === rowsOver(want.get, cols), at)
      val tombs = store.tombstones("t")
      if (idColumn.isEmpty || changed || activeBefore >= 16 || closedBefore >= 32)
        assert(tombs.isEmpty, at)
      else assert(tombs.map(_.column).toSet.subsetOf(idColumn.toSet), at)
      if (k > 0 && activeBefore >= 16) assert(activeSegments(store, "t").size === 1, at)
      if (closedBefore >= 32) assert(closedSegments(store, "t").size === 1, at)
      tombstoned ||= tombs.nonEmpty
      (store.snapshots("t").last, want.get)
    }
    assert(tombstoned === idColumn.nonEmpty, name)
    if (name == "folds") assert(closedSegments(store, "t").size === 1)
    // time travel to earlier snapshots, then retention and vacuum
    snaps.zipWithIndex.filter(_._2 % 8 == 1).foreach { case ((snap, w), k) =>
      val cols = w.columns.toSeq.sorted
      assert(rowsOver(store.readAt("t", snap), cols) === rowsOver(w, cols),
        s"$name, readAt ${k + 1}")
    }
    val cols = want.get.columns.toSeq.sorted
    store.vacuum("t")
    assert(rowsOver(store.read("t"), cols) === rowsOver(want.get, cols), s"$name, vacuumed")
    store.applyRetention("t", keepLast = 1)
    assert(store.snapshots("t").size === 1, name)
    assert(rowsOver(store.read("t"), cols) === rowsOver(want.get, cols), s"$name, retained")
  }

  test("a load that changes the hash's inputs folds, and reads equal to the rewrite path") {
    // load 2 starts tracking `w`, a column the table already holds: the
    // table's shape is unchanged, but every recomputed hash differs
    // from the stored one, so a tombstone on the new hash of (2, b)
    // would match nothing
    val narrow = cfg.copy(trackedColumns = Seq("id", "v"))
    val wide = cfg.copy(trackedColumns = Seq("id", "v", "w"))
    agreeLoadAfterLoad("tracked columns", Seq(
      (Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")).toDF("id", "v", "w"), narrow, "UTC"),
      (Seq((1L, "a", "x"), (2L, "b2", "y"), (3L, "c", "z")).toDF("id", "v", "w"), wide, "UTC"),
      (Seq((1L, "a", "x"), (2L, "b2", "y"), (3L, "c3", "z")).toDF("id", "v", "w"), wide, "UTC")),
      Some("_dlt_row_hash"), withId = false)
    // a tracked timestamp hashes as rendered in the session time zone:
    // the same instants hash differently from load 2 on
    val stamped = cfg.copy(trackedColumns = Seq("id", "at"))
    def at(rows: (Long, Long)*) =
      rows.toDF("id", "s").select(col("id"), timestamp_seconds(col("s")).as("at"))
    val (may, june, july) = (1682935200L, 1685700000L, 1688205600L)
    agreeLoadAfterLoad("session time zone", Seq(
      (at((1L, may), (2L, may)), stamped, "UTC"),
      (at((1L, may), (2L, june)), stamped, "America/New_York"),
      (at((1L, july), (2L, june)), stamped, "America/New_York")),
      Some("_dlt_row_hash"), withId = false)
  }
}
