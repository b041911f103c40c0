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
  * children of inserted roots come from staging. Statements are ordered
  * children-first on delete, root-first on insert — same non-atomicity
  * across tables as the reference, bounded by idempotent deterministic ids.
  */
object MergeChain {

  def deleteInsert(store: TableStore, chain: TableChain, cfg: MergeConfig,
                   loadId: String): Unit = Dedup.withPins {
    val destRoot = store.readOption(chain.root)
    // pinned: the staged root feeds the replaced-id semi-joins, the
    // insert set, the root merge's key-group subtrees AND the pruning
    // stats agg — unpinned it would re-execute 4-6x per load
    val stagedRoot = Dedup.pin(
      chain.rootStaging.withColumn(Ids.DltLoadId, lit(loadId)))

    // ONE pinned frame carries BOTH root-id sets, tagged: replaced ids
    // (destination rows matching EITHER key group — OR of AND-groups,
    // as in Merge.deleteInsert) and inserted ids. Every child's
    // tombstone write and insert semi-join re-reads these sets, so a
    // multi-child chain would otherwise re-run the dest⋈staged
    // semi-joins once per child — and two separate persists cost two
    // materialization jobs per load where the union costs one.
    val replaced = destRoot match {
      case None => None
      case Some(d) =>
        Some(Merge.keyGroups(cfg).map(g =>
            d.join(stagedRoot.select(g.map(col): _*).distinct(), g, "left_semi"))
          .reduce(_ unionByName _)
          .select(col(Ids.DltId).as(Ids.DltRootId)).distinct())
    }
    val inserted = Merge.insertSet(stagedRoot, cfg)
      .select(col(Ids.DltId).as(Ids.DltRootId)).distinct()
    val tagged = Dedup.pin(
      replaced.fold(inserted.withColumn("__set", lit("i")))(r =>
        r.withColumn("__set", lit("r"))
          .unionByName(inserted.withColumn("__set", lit("i")))))
    val replacedRootIds = replaced.map(_ =>
      tagged.filter(col("__set") === "r").drop("__set"))
    val insertedRootIds = tagged.filter(col("__set") === "i").drop("__set")
    runChainLoad(store, chain, cfg, stagedRoot, replacedRootIds, insertedRootIds)
  }

  private def runChainLoad(store: TableStore, chain: TableChain,
      cfg: MergeConfig, stagedRoot: DataFrame,
      replacedRootIds: Option[DataFrame], insertedRootIds: DataFrame): Unit = {
    // children first on delete side, committed before the root.
    // MERGE-ON-READ: deleting the children of replaced roots writes a
    // TOMBSTONE (the replaced root-id set) instead of rewriting the
    // child table — range stats cannot prune hash-uniform root ids, so
    // the old rewrite touched every byte of a table that only loses a
    // sliver per load. Inserted children land as a fresh segment the
    // tombstone does not cover (re-inserted roots keep their new rows);
    // compaction folds dead rows away once tombstones accumulate.
    // every table in the chain targets a DISTINCT store table, so the
    // child loads and the root merge run CONCURRENTLY (per-table store
    // locks): the same cross-table non-atomicity the reference's
    // sequential statements have, minus the convoy. Spark schedules the
    // overlapping write jobs against shared cached inputs.
    def childLoad(childTable: String, stagedChild: DataFrame): Unit = {
      val insertChild = stagedChild.join(insertedRootIds, Seq(Ids.DltRootId), "left_semi")
      (store.exists(childTable), replacedRootIds) match {
        case (false, _) =>
          store.overwrite(childTable, insertChild, statsFor = Seq(Ids.DltRootId))
        case (true, None) => // no destination root: nothing can be replaced
          store.append(childTable, insertChild, statsFor = Seq(Ids.DltRootId))
        case (true, Some(ids)) =>
          store.appendWithTombstone(childTable, insertChild,
            Ids.DltRootId, ids, statsFor = Seq(Ids.DltRootId))
          store.compact(childTable)
      }
    }
    // root rides the same SEGMENT-PRUNED merge commit as single-table
    // merge (Dispositions.mergePruned): only destination segments whose
    // key ranges overlap the staged keys are read/rewritten — round 2
    // rewrote the entire root here for a sliver of changed keys
    def rootLoad(): Unit =
      Dispositions.mergePruned(store, chain.root, stagedRoot, cfg,
        MergeStrategy.DeleteInsert)

    val work: Seq[() => Unit] =
      chain.children.toSeq.map { case (t, df) => () => childLoad(t, df) } :+
        (() => rootLoad())
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
