package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.normalize.Ids

/** SCD2 configuration (reference TScd2StrategyDict,
  * dlt/common/schema/typing.py:275-280; SQL generation
  * dlt/destinations/sql_jobs.py:903-1021). */
final case class Scd2Config(
    /** columns forming row identity content (hash inputs); dlt system
      * columns are excluded automatically. */
    trackedColumns: Seq[String],
    /** load boundary timestamp, e.g. "2024-06-01 00:00:00" (UTC). */
    boundaryTs: String,
    validFromColumn: String = "_dlt_valid_from",
    validToColumn: String = "_dlt_valid_to",
    /** when set, only partitions whose merge key appears in staging are
      * retired (partitioned SCD2, sql_jobs.py:964-981). */
    mergeKey: Seq[String] = Nil,
    /** value marking the active record instead of NULL, if configured. */
    activeRecordTs: Option[String] = None,
    rowHashColumn: String = "_dlt_row_hash")

/** Slowly-changing-dimension type 2 over the root table.
  *
  * Row identity is a content hash (reference `row_hash` `_dlt_id`,
  * helpers.py:161-174). One load:
  *  1. retire: active destination rows whose hash is absent from staging
  *     get `valid_to = boundaryTs` (with mergeKey: only rows whose key
  *     appears in staging);
  *  2. insert: staged rows whose hash is not among active destination
  *     hashes enter with `valid_from = boundaryTs`, `valid_to = NULL`
  *     (or `activeRecordTs`).
  *
  * Hash compare is a broadcast-able semi/anti join on a 20-char digest —
  * at 100 TB the active-hash set is tiny relative to the table.
  */
object Scd2 {

  private def withHash(df: DataFrame, cfg: Scd2Config): DataFrame =
    df.withColumn(cfg.rowHashColumn, Ids.rowHash(
      cfg.trackedColumns.filterNot(Seq(cfg.validFromColumn, cfg.validToColumn,
        cfg.rowHashColumn).contains)))

  /** The active-record predicate, exposed so [[Dispositions.scd2]] can
    * split a legacy (un-tagged) table once into active/closed segments. */
  def isActive(cfg: Scd2Config): Column = cfg.activeRecordTs match {
    case None => col(cfg.validToColumn).isNull
    case Some(ts) => col(cfg.validToColumn) === to_timestamp(lit(ts))
  }

  /** One SCD2 load against the ACTIVE slice only — the scale path.
    * `activeDest` must contain only currently-active rows; returns
    * `(newActive, newlyClosed)`. Closed history is immutable, so the
    * caller keeps its segments untouched and appends `newlyClosed` —
    * a load costs O(active + staged), never O(history). */
  def applySplit(activeDest: Option[DataFrame], staging: DataFrame,
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
        // hash compares are PER-ENTITY scoped: mergeKey need not be a
        // subset of trackedColumns, so two entities can share a row
        // hash — an unscoped retire would let entity A's identical hash
        // keep entity B's stale row active, and an unscoped insert
        // would suppress B's new row. Same scoping as the JDBC path
        // (JdbcSink.scd2 entityScope). With mergeKey empty this is the
        // plain hash join.
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

        // 1. retire active in-scope rows whose (entity, hash) disappeared
        val retired = scopedActive
          .join(stagedHashes, hashKey, "left_anti")
          .withColumn(cfg.validToColumn, boundary)
        val survivors = scopedActive
          .join(stagedHashes, hashKey, "left_semi")

        // 2. insert staged rows whose (entity, hash) is not currently active
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
}
