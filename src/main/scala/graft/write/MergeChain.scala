package graft.write

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.normalize.Ids

/** A root table plus its nested child tables from one normalization pass
  * (reference table chains, dlt/load/utils.py:20-64). Children must carry
  * `_dlt_root_id` (root-key propagation, relational.py:359-391) — the
  * normalizer adds it via `NormalizeConfig.propagate`. */
final case class TableChain(
    root: String,
    rootStaging: DataFrame,
    children: Map[String, DataFrame])

/** Merge across a nested-table chain (reference sql_jobs.py:633-654 for
  * delete-insert, :886-900 for upsert orphan cleanup).
  *
  * Root rows are merged by their configured keys; child rows follow their
  * root: children of replaced/deleted roots are removed by `_dlt_root_id`,
  * children of inserted roots come from staging. Once the root exists,
  * every table of the chain deletes by tombstone: the root by `_dlt_id`,
  * its children by `_dlt_root_id`, one replaced-id set for both. The
  * tables commit concurrently, one commit each — the same non-atomicity
  * across tables as the reference's sequential statements, bounded by
  * idempotent deterministic ids.
  */
object MergeChain {

  def deleteInsert(store: TableStore, chain: TableChain, cfg: MergeConfig,
                   loadId: String): Unit = Dedup.withPins {
    val keys = Merge.keyCols(cfg)
    val destRoot = store.readOption(chain.root)
    // pinned: the staged root feeds the replaced-id semi-joins, the
    // inserted-id set and the root's insert segment — unpinned it would
    // re-execute once per reader
    val stagedRoot = Dedup.pin(
      chain.rootStaging.withColumn(Ids.DltLoadId, lit(loadId)))

    // ONE pinned frame carries BOTH root-id sets, tagged: replaced ids
    // (destination rows matching EITHER key group — OR of AND-groups,
    // as in Merge.deleteInsert) and inserted ids. The root tombstone,
    // every child's tombstone and every insert semi-join read these
    // sets, so a multi-child chain would otherwise re-run the
    // dest⋈staged semi-joins once per reader — and two separate
    // persists cost two materialization jobs per load where the union
    // costs one.
    val replaced = destRoot.map(d =>
      Merge.keyGroups(cfg).map(g =>
          d.join(stagedRoot.select(g.map(col): _*).distinct(), g, "left_semi"))
        .reduce(_ unionByName _)
        .select(col(Ids.DltId).as(Ids.DltRootId)).distinct())
    val inserted = Merge.insertSet(stagedRoot, cfg)
      .select(col(Ids.DltId).as(Ids.DltRootId)).distinct()
    val tagged = Dedup.pin(
      replaced.fold(inserted.withColumn("__set", lit("i")))(r =>
        r.withColumn("__set", lit("r"))
          .unionByName(inserted.withColumn("__set", lit("i")))))
    // built ahead of the fan-out only when a destination exists: its
    // concurrent readers would otherwise each run the set's jobs. The
    // base load has no tombstone to write, and building ahead of its
    // parallel writes would serialize them.
    if (destRoot.isDefined) Dedup.build(tagged)
    val replacedRootIds = replaced.map(_ =>
      tagged.filter(col("__set") === "r").drop("__set"))
    val insertedRootIds = tagged.filter(col("__set") === "i").drop("__set")

    // MERGE-ON-READ, root and children alike: deleting replaced rows
    // writes a TOMBSTONE (the replaced root-id set) instead of
    // rewriting the table — range stats cannot prune hash-uniform root
    // ids, and a small delta's keys span the root's key range, so a
    // rewrite touched every byte of a table that only loses a sliver
    // per load. Inserted rows land as a fresh segment the tombstone
    // does not cover (re-inserted keys keep their new rows); compaction
    // folds dead rows away once tombstones accumulate. Exact as long as
    // a root `_dlt_id` names one live row: key-hash ids for pk merges,
    // random ids otherwise. Every table in the chain is a DISTINCT
    // store table, so the loads run CONCURRENTLY (per-table store
    // locks) and Spark schedules their write jobs against the shared
    // pinned inputs.
    def load(table: String, insert: DataFrame, tombColumn: String,
        statsFor: Seq[String], rangeBy: Seq[String]): Unit =
      (store.exists(table), replacedRootIds) match {
        case (false, _) =>
          store.overwrite(table, insert, statsFor = statsFor, rangeBy = rangeBy)
        case (true, None) => // no destination root: nothing can be replaced
          store.append(table, insert, statsFor = statsFor)
        case (true, Some(ids)) =>
          store.appendWithTombstone(table, insert, tombColumn,
            ids.withColumnRenamed(Ids.DltRootId, tombColumn), statsFor = statsFor)
          store.compact(table)
      }
    val work: Seq[() => Unit] =
      chain.children.toSeq.map { case (t, df) => () =>
        load(t, df.join(insertedRootIds, Seq(Ids.DltRootId), "left_semi"),
          Ids.DltRootId, Seq(Ids.DltRootId), Nil)
      } :+ (() => load(chain.root, Merge.insertSet(stagedRoot, cfg),
        Ids.DltId, keys, keys))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, work.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = work.map(f => scala.concurrent.Future(f()))
      // settle ALL before propagating a failure: sibling commits must
      // not race caller cleanup (same rule as Pipeline.awaitAll)
      val settled = futures.map(f =>
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf).value.get)
      settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    } finally pool.shutdown()
  }
}
