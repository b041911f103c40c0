package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.write.TableStore

/** Incremental near-dup screening against a PERSISTED band index — the
  * production shape of near-dup detection at 100 TB: the corpus is
  * indexed once, its hashed rows and band keys land in the lakehouse next
  * to the documents, and every new batch checks ONLY itself against the
  * index — the old corpus is never re-hashed wholesale. Work per batch:
  * hash the batch (one row per document, no shuffle), join its band keys
  * against the stored band rows, then exact-verify the candidates,
  * re-hashing only the stored rows that actually collided (a
  * candidate-sized semi-join, never corpus-sized).
  * One index serves every [[Signature]]: MinHash docs, sign-code vectors
  * and 64-bit media hashes.
  *
  * Reference analog: dlt's incremental loading keeps cursor state so a
  * pipeline only processes new data (dlt/extract/incremental); this
  * applies the same only-the-delta contract to the dedup plane, which
  * the reference has no equivalent for.
  *
  * Every table rides the normal manifest-committed TableStore path, so
  * index maintenance is atomic with corpus growth.
  */
object IncrementalDedup {

  /** The one row of an index-meta table, read on the driver (no job). */
  private def metaRow(store: TableStore, meta: String): Option[Map[String, Any]] =
    if (store.exists(meta) && store.segments(meta).nonEmpty)
      store.readDriverRows(meta).headOption
    else None

  /** The stored meta of `table` under `sig`, if `sig` pins one. */
  private def storedMeta(store: TableStore, table: String,
      sig: Signature): Option[Map[String, Any]] =
    sig.meta.flatMap { case (suffix, _) => metaRow(store, table + suffix) }

  /** Index a frame under `sig`, or grow the index (appending is indexing
    * again): write its rows and band keys. The meta is validated and
    * written FIRST, under the table monitor (reentrant — screenedAppend
    * relies on the same property): a crash mid-index then never leaves an
    * unpinned table that a later call silently bands in another space,
    * and two concurrent first calls cannot both see "no meta" and mix two
    * band spaces. A crash between the data appends still loses that
    * batch's band rows; the recovery is re-running the batch. Both loads
    * complete inside the call, so the shared pin is scoped here. */
  def indexCorpus(store: TableStore, table: String, frame: DataFrame,
      id: String, value: String,
      sig: Signature = MinHash()): Unit = Dedup.withPins {
    store.exclusively(table) {
      val stored = storedMeta(store, table, sig)
      sig.claim(stored, table, probe = false)
      if (stored.isEmpty) sig.meta.foreach { case (suffix, row) =>
        store.overwrite(table + suffix, row(frame.sparkSession))
      }
      val rows = sig.rows(frame, id, value)
      sig.bandTable(table) match {
        case None => store.append(sig.rowTable(table), rows)
        case Some(bands) =>
          val pinned = Dedup.pin(rows)
          store.append(sig.rowTable(table), pinned)
          store.append(bands, sig.indexBands(pinned))
      }
    }
  }

  /** Whether every leaf of `df`'s plan is an RDD of ≥ `width` partitions
    * (a batch re-spread through an RDD round trip); runs no job. */
  private def spread(df: DataFrame, width: Int): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRDD => r.rdd.getNumPartitions >= width
      case _ => false
    }

  /** Near-dup pairs of a NEW batch against the indexed corpus:
    * `(new_id, old_id, <measures>)` — `jaccard` (MinHash), `hamming`
    * (Blocks) or `hamming, cosine` (SignBits), under the same contract as
    * [[Dedup.pairs]], new × old only. Batch ids must be disjoint from
    * indexed ids. A SignBits check may use any budget up to the indexed
    * one; a Blocks check any budget at all.
    *
    * The meta reads, validation and plan construction run under the
    * table monitor, so a concurrent index rebuild cannot validate the
    * batch against a stale space. A batch whose verify reads rows back is
    * re-spread before hashing, unless it is spread already (a
    * [[graft.streaming.Streaming.curateInto]] batch is): a micro-batch
    * arrives as ONE file (one task), and AQE never splits a scan stage,
    * so without this the shingle or code map side serializes on one core
    * (100× soak: 14 s 5-task stages inside every curate batch where
    * 32-way runs ~2 s).
    *
    * PIN LIFECYCLE: a lazy generator ([[Dedup.pin]]). The batch's hashed
    * rows and candidates are pinned into the caller's [[Dedup.withPins]]
    * scope; a per-micro-batch caller wraps each batch's consume in its
    * own scope. */
  def checkBatch(store: TableStore, table: String, batch: DataFrame,
      id: String, value: String, threshold: Double = 0.9,
      sig: Signature = MinHash()): DataFrame = store.exclusively(table) {
    val space = sig.claim(storedMeta(store, table, sig), table, probe = true)
    val width = batch.sparkSession.sparkContext.defaultParallelism
    val newH =
      if (!sig.readsBack) space.hashed(batch, id, value)
      else Dedup.pin(space.hashed(
        if (spread(batch, width)) batch else batch.repartition(width), id, value))
    val (a, b) = space.probe(store, table, space.banded(newH))
    val joined = a.as("a").join(b.as("b"),
      space.keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
    val cand = sig.candidates(joined).distinct()
    val verified =
      if (!sig.readsBack) sig.verify(cand, newH, newH, threshold)
      else {
        val pc = Dedup.pin(cand)
        // exact verify: read back ONLY the colliding stored rows
        val old = space.rehash(store.read(space.rowTable(table))
          .join(pc.select(col("id_b").as("_id")).distinct(), Seq("_id"), "left_semi"))
        sig.verify(pc, newH, old, threshold)
      }
    verified.withColumnRenamed("id_a", "new_id").withColumnRenamed("id_b", "old_id")
  }
}
