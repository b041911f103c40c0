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
    * plus distincts), kept here as the reference it must agree with. */
  private def joinSplit(activeDest: Option[DataFrame], staging: DataFrame,
      cfg: Scd2Config): (DataFrame, DataFrame) = {
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
        (active, active.limit(0))
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
        (newActive, retired)
    }
  }

  private def fields(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The one-pass split and the join-based split agree on both frames:
    * columns, types, and rows as a multiset. Returns the row counts
    * `(newActive, retired)`. */
  private def agree(active: DataFrame, staging: DataFrame,
      cfg: Scd2Config): (Int, Int) = Dedup.withPins {
    val (wantActive, wantRetired) = joinSplit(Some(active), staging, cfg)
    val (gotActive, gotRetired) = Scd2.applySplit(Some(active), staging, cfg)
    assert(fields(gotActive) === fields(wantActive))
    assert(fields(gotRetired) === fields(wantRetired))
    assert(rows(gotActive) === rows(wantActive))
    assert(rows(gotRetired) === rows(wantRetired))
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
}
