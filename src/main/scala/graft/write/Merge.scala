package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge configuration (reference write-disposition model,
  * dlt/common/schema/typing.py:250-252; SQL generation
  * dlt/destinations/sql_jobs.py:550-901).
  *
  * `primaryKey` and/or `mergeKey` form the match condition (OR of the two
  * AND-groups, sql_jobs.py:200-234). `dedupSort` picks the surviving row
  * among staged duplicates of one key (ROW_NUMBER ... ORDER BY dedupSort
  * DESC, sql_jobs.py:257-323). `hardDeleteColumn` marks staged rows whose
  * key must be removed instead of inserted (non-null / true boolean,
  * sql_jobs.py:422-447).
  */
final case class MergeConfig(
    primaryKey: Seq[String] = Nil,
    mergeKey: Seq[String] = Nil,
    /** "col" or "col asc"/"col desc" (reference dedup_sort
      * (column, TSortOrder) tuple; desc default — the record with the
      * highest value survives, sql_jobs.py:262-323). */
    dedupSort: Option[String] = None,
    hardDeleteColumn: Option[String] = None)

/** The merge family as pure DataFrame algebra. Each operator returns the
  * new table content; [[Dispositions]] commits it atomically.
  *
  * Scale notes: the destination-side anti-join shuffles on the merge key —
  * exactly what a distributed `MERGE INTO` does. Staging is typically small
  * relative to the table, so Catalyst broadcasts it under AQE; no driver
  * collect anywhere.
  */
object Merge {

  /** The merge's key columns; fails when neither key group is set. */
  private[write] def keyCols(cfg: MergeConfig): Seq[String] = {
    val ks = (cfg.primaryKey ++ cfg.mergeKey).distinct
    require(ks.nonEmpty, "merge requires a primary_key and/or merge_key")
    ks
  }

  /** Rows of `staging` marked as hard-deletes (to remove, not insert). */
  private def deleteMarker(staging: DataFrame, cfg: MergeConfig): Column =
    cfg.hardDeleteColumn match {
      case None => lit(false)
      case Some(c) if staging.schema(c).dataType ==
        org.apache.spark.sql.types.BooleanType => coalesce(col(c), lit(false))
      case Some(c) => col(c).isNotNull
    }

  /** Deduplicate staged rows per primary key, keeping the first by
    * `dedupSort` descending (sql_jobs.py:316-323). No-op without a pk. */
  def dedup(staging: DataFrame, cfg: MergeConfig): DataFrame =
    if (cfg.primaryKey.isEmpty) staging
    else {
      val order = cfg.dedupSort.map { s =>
        s.trim.split("\\s+") match {
          case Array(c) => col(c).desc
          case Array(c, dir) if dir.equalsIgnoreCase("asc") => col(c).asc
          case Array(c, dir) if dir.equalsIgnoreCase("desc") => col(c).desc
          case _ => throw new IllegalArgumentException(
            s"dedupSort must be 'col', 'col asc' or 'col desc': $s")
        }
      }.getOrElse(lit(1).asc)
      val w = Window.partitionBy(cfg.primaryKey.map(col): _*).orderBy(order)
      staging.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** The staged rows that will be inserted: deduped, hard-deletes removed.
    * Exposed for nested-table chains ([[MergeChain]]). */
  def insertSet(staging: DataFrame, cfg: MergeConfig): DataFrame =
    dedup(staging, cfg)
      .filter(!deleteMarker(staging, cfg))
      .drop(cfg.hardDeleteColumn.toSeq: _*)

  /** delete-insert (default merge, sql_jobs.py:550-739): remove every
    * destination row whose key appears in staging, then insert the
    * deduped, non-deleted staged rows. With BOTH `primary_key` and
    * `merge_key` set, a destination row is removed when it matches
    * staging on EITHER key group (OR of the AND-groups,
    * sql_jobs.py:200-234) — expressed as two sequential anti-joins so
    * each stays a hash equi-join instead of an un-shuffleable OR
    * condition. */
  def deleteInsert(dest: Option[DataFrame], staging: DataFrame, cfg: MergeConfig): DataFrame = {
    keyCols(cfg) // validates at least one key group exists
    val insert = insertSet(staging, cfg)
    dest match {
      case None => insert
      case Some(d) =>
        val kept = keyGroups(cfg).foldLeft(d)((acc, ks) =>
          acc.join(staging.select(ks.map(col): _*).distinct(), ks, "left_anti"))
        kept.unionByName(insert, allowMissingColumns = true)
    }
  }

  /** The match condition's AND-groups: rows match on ALL of a group's
    * columns; groups combine with OR (sql_jobs.py:200-234). */
  def keyGroups(cfg: MergeConfig): Seq[Seq[String]] =
    Seq(cfg.primaryKey, cfg.mergeKey).filter(_.nonEmpty)

  /** upsert (sql_jobs.py:741-901): MERGE semantics — matched rows are
    * replaced, unmatched inserted, hard-deleted keys dropped. Staging is
    * assumed pre-deduped (one row per key). */
  def upsert(dest: Option[DataFrame], staging: DataFrame, cfg: MergeConfig): DataFrame = {
    require(cfg.primaryKey.nonEmpty, "upsert requires a primary_key")
    val ks = cfg.primaryKey
    val insert = staging.filter(!deleteMarker(staging, cfg))
      .drop(cfg.hardDeleteColumn.toSeq: _*)
    dest match {
      case None => insert
      case Some(d) =>
        d.join(staging.select(ks.map(col): _*).distinct(), ks, "left_anti")
          .unionByName(insert, allowMissingColumns = true)
    }
  }

  /** insert-only (sql_jobs.py:762-773): only keys absent from the
    * destination are inserted; existing rows never change. Matches on
    * the primary key (the reference's insert-only MERGE condition),
    * falling back to the merge key when no pk is set. */
  def insertOnly(dest: Option[DataFrame], staging: DataFrame, cfg: MergeConfig): DataFrame = {
    val ks = if (cfg.primaryKey.nonEmpty) cfg.primaryKey else keyCols(cfg)
    val fresh = staging.filter(!deleteMarker(staging, cfg))
      .drop(cfg.hardDeleteColumn.toSeq: _*)
    dest match {
      case None => dedup(fresh, cfg)
      case Some(d) =>
        d.unionByName(
          dedup(fresh, cfg).join(d.select(ks.map(col): _*).distinct(), ks, "left_anti"),
          allowMissingColumns = true)
    }
  }
}
