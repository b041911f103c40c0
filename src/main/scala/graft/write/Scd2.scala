package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Dedup
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
  * Both steps are one pass over active ∪ staged rows: a window
  * partitioned by the hash key (row hash + merge key) tells each row
  * whether the other side holds its hash, and a left join against the
  * staged merge keys (small, broadcast-able) tells an active row whether
  * it is in scope. Partitioning by the full hash key, not the merge key
  * alone, keeps a low-cardinality merge key (partitioned SCD2) from
  * putting a whole partition's active rows on one task.
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

  private val FromActive = "__scd2_from_active"
  private val InScope = "__scd2_in_scope"
  private val Retire = "__scd2_retire"
  private val Drop = "__scd2_drop"

  /** One SCD2 load against the ACTIVE slice only — the scale path.
    * `activeDest` must contain only currently-active rows; returns
    * `(newActive, newlyClosed)`. Closed history is immutable, so the
    * caller keeps its segments untouched and appends `newlyClosed` —
    * a load costs O(active + staged), never O(history). Both frames
    * read one tagged frame, pinned into the caller's [[Dedup.withPins]]
    * scope, so writing both runs the split once. */
  def applySplit(activeDest: Option[DataFrame], staging: DataFrame,
      cfg: Scd2Config): (DataFrame, DataFrame) = {
    val openTo: Column = cfg.activeRecordTs
      .map(ts => to_timestamp(lit(ts)))
      .getOrElse(lit(null).cast("timestamp"))
    val boundary = to_timestamp(lit(cfg.boundaryTs))

    val inserts = withHash(staging, cfg)
      .withColumn(cfg.validFromColumn, boundary)
      .withColumn(cfg.validToColumn, openTo)

    activeDest match {
      case None => (inserts, inserts.limit(0))
      case Some(a0) =>
        val activeRows = withHash(a0.drop(cfg.rowHashColumn), cfg)
        // hash compares are PER-ENTITY scoped: mergeKey need not be a
        // subset of trackedColumns, so two entities can share a row
        // hash — an unscoped retire would let entity A's identical hash
        // keep entity B's stale row active, and an unscoped insert
        // would suppress B's new row. With mergeKey empty this is the
        // plain hash compare. A null in the key matches nothing, as in
        // an equi-join.
        val hashKey = cfg.rowHashColumn +: cfg.mergeKey
        val keyed = hashKey.map(col(_).isNotNull).reduce(_ && _)
        val sameKey = Window.partitionBy(hashKey.map(col): _*)
        def partnerOn(active: Boolean): Column =
          keyed && max(col(FromActive) === active).over(sameKey)

        val rows = activeRows.withColumn(FromActive, lit(true))
          .unionByName(inserts.withColumn(FromActive, lit(false)),
            allowMissingColumns = true)
        // retire: active, in scope, no staged partner; keep every other
        // active row; insert staged rows with no active partner. The
        // window runs before the scope join, so a shuffle join's
        // merge-key partitioning cannot stand in for the hash key's
        val paired = rows
          .withColumn(Retire, col(FromActive) && !partnerOn(active = false))
          .withColumn(Drop, !col(FromActive) && partnerOn(active = true))
          .filter(!col(Drop))
        val tagged = Dedup.pin(
          if (cfg.mergeKey.isEmpty) paired
          else paired.join(staging.select(cfg.mergeKey.map(col): _*).distinct()
              .withColumn(InScope, lit(true)), cfg.mergeKey, "left_outer")
            .withColumn(Retire, col(Retire) && coalesce(col(InScope), lit(false))))

        // column order is the join split's: a using-join put its keys
        // first (the merge key in active rows, the hash key in closed
        // rows), and closed rows keep the active types
        val activeType = activeRows.schema.fields.map(f => f.name -> f.dataType).toMap
        val newActive = tagged.filter(!col(Retire)).select((cfg.mergeKey ++
          rows.columns.filterNot(c => c == FromActive || cfg.mergeKey.contains(c)))
          .map(col): _*)
        val retired = tagged.filter(col(Retire))
          .select((hashKey ++ activeRows.columns.filterNot(hashKey.contains))
            .map(c => col(c).cast(activeType(c)).as(c)): _*)
          .withColumn(cfg.validToColumn, boundary)
        (newActive, retired)
    }
  }
}
