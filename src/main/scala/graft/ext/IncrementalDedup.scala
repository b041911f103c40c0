package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.write.TableStore

/** Incremental corpus dedup against a PERSISTED MinHash index — the
  * production shape of near-dup detection at 100 TB: the corpus is
  * deduped once, its banded signatures land in the lakehouse next to
  * the documents, and every new batch checks ONLY itself against the
  * index — the old corpus is never re-shingled wholesale. Work per
  * batch: shingle the batch, join its band keys against the stored
  * band table (hash join on (band, bucket)), then exact-verify the
  * candidates — re-shingling only the OLD docs that actually collided
  * (a semi-join point read off the stored corpus, candidate-sized,
  * never corpus-sized).
  *
  * Same recall math as [[Dedup.minhashLshPairs]] (64 perms / 16 bands:
  * a pair at jaccard 0.9 is missed with P < 4e-8), and the same
  * exact-verify discipline: the minhash index is only a recall device;
  * every reported pair carries true jaccard.
  *
  * Reference analog: dlt's incremental loading keeps cursor state so a
  * pipeline only processes new data (dlt/extract/incremental); this
  * applies the same only-the-delta contract to the dedup plane, which
  * the reference has no equivalent for.
  *
  * Tables written: `<table>` (canonical-id'd corpus rows),
  * `<table>__minhash_bands` (_id, band, bucket) and
  * `<table>__minhash_meta` (n, perms, bands — the hash-space
  * parameters, pinned at first index time). All ride the normal
  * manifest-committed TableStore path, so index maintenance is atomic
  * with corpus growth.
  */
object IncrementalDedup {

  /** Require the caller's (n, perms, bands) to match the values the
    * index was BUILT with (persisted in `<table>__minhash_meta`, the
    * same discipline as VectorSink's `__ivf_meta`): band keys computed
    * in a different hash space silently join to nothing — an empty
    * pair set that reads as "no duplicates". Absent meta (pre-meta
    * index) passes through for compatibility. */
  private def requireMeta(store: TableStore, table: String,
      n: Int, perms: Int, bands: Int): Boolean = {
    val meta = metaRow(store, s"${table}__minhash_meta")
    meta.foreach { m =>
      val (sn, sp, sb) = (m("n"), m("perms"), m("bands"))
      require(sn == n && sp == perms && sb == bands,
        s"minhash index '$table' was built with (n=$sn, perms=$sp, " +
          s"bands=$sb) but (n=$n, perms=$perms, bands=$bands) was " +
          "passed — band keys would land in a different hash space " +
          "and silently match nothing")
    }
    meta.isDefined
  }

  /** The one row of an index-meta table, read on the driver (no job). */
  private def metaRow(store: TableStore, meta: String): Option[Map[String, Any]] =
    if (store.exists(meta) && store.segments(meta).nonEmpty)
      store.readDriverRows(meta).headOption
    else None

  /** Index a corpus: write the docs and their banded signatures. Both
    * loads complete inside the call, so the shared pin is scoped here
    * and released on exit — safe to call per batch forever. */
  def indexCorpus(store: TableStore, table: String, docs: DataFrame,
      id: String, text: String, n: Int = 3,
      perms: Int = 64, bands: Int = 16): Unit = Dedup.withPins {
    val hadMeta = requireMeta(store, table, n, perms, bands)
    val pinned = Dedup.pin(docs.select(col(id).as("_id"), col(text).as("_text")))
    store.append(table, pinned)
    store.append(s"${table}__minhash_bands",
      Dedup.bandedSig(Dedup.shingleIndex(pinned, "_id", "_text", n), perms, bands))
    if (!hadMeta) {
      import docs.sparkSession.implicits._
      store.overwrite(s"${table}__minhash_meta",
        Seq((n, perms, bands)).toDF("n", "perms", "bands"))
    }
  }

  /** Near-dup pairs of a NEW batch against the indexed corpus:
    * (new_id, old_id, jaccard >= threshold). Batch ids must be
    * disjoint from indexed ids (the corpus id contract).
    *
    * PIN LIFECYCLE: a lazy generator ([[Dedup.pin]]). The batch's
    * shingle index and candidate set are pinned into the caller's
    * [[Dedup.withPins]] scope; a per-micro-batch caller wraps each
    * batch's consume in its own scope. Outside any scope nothing is
    * pinned and the shared branches recompute. */
  def checkBatch(store: TableStore, table: String, batch: DataFrame,
      id: String, text: String, n: Int = 3, threshold: Double = 0.9,
      perms: Int = 64, bands: Int = 16): DataFrame = {
    requireMeta(store, table, n, perms, bands)
    val oldBands = store.read(s"${table}__minhash_bands")
    val oldDocs = store.read(table)
    // re-spread the batch before the compute-dense shingling/banding —
    // the [[checkVectorBatch]] discipline on the text plane: a
    // micro-batch arrives as ONE file (one row group — one task), and
    // AQE only coalesces shuffle partitions, never splits a scan stage,
    // so without this the shingle + 64-perm signature map side
    // serializes on a handful of cores (100× soak: 14 s 5-task stages
    // inside every curate batch where 32-way runs ~2 s). The shuffle
    // moves O(batch) text bytes once.
    val spread = batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism)
    val newSh = Dedup.pin(Dedup.shingleIndex(spread, id, text, n))
    val newBands = Dedup.bandedSig(newSh, perms, bands)
    // pinned HERE, not just inside verifyJaccard: the old-doc semi-join
    // below captures the raw candidate subtree, and the verify's
    // shingle-array side re-executes it through oldSh — unpinned, the
    // band-collision join ran twice per batch
    val cand = Dedup.pin(newBands.as("a").join(oldBands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct())
    // exact verify: re-shingle ONLY the colliding old docs
    val oldCandDocs = oldDocs
      .join(cand.select(col("id_b").as("_id")).distinct(), Seq("_id"), "left_semi")
    val oldSh = Dedup.shingleIndex(oldCandDocs, "_id", "_text", n)
    Dedup.verifyJaccard(cand, newSh.union(oldSh), threshold)
      .select(col("id_a").as("new_id"), col("id_b").as("old_id"), col("jaccard"))
  }

  /** Grow the index: append a (already cross-checked) batch and its
    * band rows — the per-load maintenance step. */
  def appendBatch(store: TableStore, table: String, batch: DataFrame,
      id: String, text: String, n: Int = 3,
      perms: Int = 64, bands: Int = 16): Unit =
    indexCorpus(store, table, batch, id, text, n, perms, bands)

  // ---- embedding (sign-code Hamming) variant -----------------------------

  /** The band-layout generation this code derives
    * ([[Dedup.wordBands]]): "wb1" = proportional real-bit allocation
    * (r14). Pinned in the meta so an index persisted under a DIFFERENT
    * derivation fails loudly instead of silently joining to nothing —
    * the same silent-recall-loss the (dim, maxHamming) pin guards. */
  private val BandLayout = "wb1"

  /** The (dim, maxHamming) the VECTOR index was built with. */
  private def indexedSpace(store: TableStore, table: String): (Int, Int) = {
    val m = metaRow(store, s"${table}__hamming_meta").getOrElse(
      throw new IllegalArgumentException(
        s"no hamming index meta for '$table' — call indexVectors first"))
    (m("dim").asInstanceOf[Int], m("max_hamming").asInstanceOf[Int])
  }

  /** Require the caller's (dim, maxHamming) to match the values the
    * VECTOR index was built with (persisted in
    * `<table>__hamming_meta`) — the banding is a pure function of the
    * pair, so a batch banded in a different space silently joins to
    * nothing. */
  private def requireVecMeta(store: TableStore, table: String,
      dim: Int, maxHamming: Int): Boolean = {
    val meta = metaRow(store, s"${table}__hamming_meta")
    meta.foreach { m =>
      val (sd, sh) = (m("dim").asInstanceOf[Int], m("max_hamming").asInstanceOf[Int])
      require(sd == dim,
        s"hamming index '$table' was built at dim=$sd but dim=$dim was " +
          "passed — codes would band inconsistently")
      require(sh == maxHamming,
        s"hamming index '$table' was built with maxHamming=$sh but " +
          s"$maxHamming was passed — appends must keep the one band space")
      val layout = m.get("layout").map(_.toString).getOrElse {
        // pre-layout meta: the old fixed per-word split ≡ wb1 exactly
        // when dim is a whole number of words; otherwise the stored
        // band keys live in a layout this code no longer derives
        if (sd % 64 == 0) BandLayout else "pre-wb1"
      }
      require(layout == BandLayout,
        s"hamming index '$table' was persisted under band layout " +
          s"'$layout' but this engine derives '$BandLayout' — band keys " +
          "would silently match nothing; rebuild the index " +
          "(indexVectors into a fresh table)")
    }
    meta.isDefined
  }

  /** The batch as (_id, _vec, code), width-guarded per row (codegen'd,
    * zero extra pass — a row of another width would band
    * inconsistently and silently lose recall). */
  private def codedVecs(vecs: DataFrame, id: String, vec: String,
      dim: Int): DataFrame =
    vecs.filter(assert_true(size(col(vec)) === dim,
        lit(s"hamming index: vector width != declared dim $dim")).isNull)
      .select(col(id).as("_id"), col(vec).as("_vec"),
        graft.functions.VectorFunctions.packSignBits(col(vec)).as("code"))

  /** Index an embedding corpus for INCREMENTAL near-dup screening —
    * the [[indexCorpus]] discipline on the binary plane: vectors +
    * their packed sign codes land in `<table>`, the pigeonhole band
    * keys in `<table>__hamming_bands`, and the (dim, maxHamming) band
    * space is pinned in `<table>__hamming_meta`. A new batch then
    * checks ONLY itself against the band table
    * ([[checkVectorBatch]]) — the old corpus is never re-scanned
    * wholesale, and the verify reads back only the vectors that
    * actually collided. */
  def indexVectors(store: TableStore, table: String, vecs: DataFrame,
      id: String, vec: String, dim: Int,
      maxHamming: Int): Unit = Dedup.withPins {
    // the whole meta-check + write sequence under the table monitor
    // (reentrant — screenedAppend relies on the same property): two
    // concurrent first-index calls with different (dim, maxHamming)
    // must not both see "no meta" and interleave, leaving
    // __hamming_bands mixing two band spaces while the meta records
    // only one — the silent-recall-loss the meta exists to prevent.
    store.exclusively(table) {
      val hadMeta = requireVecMeta(store, table, dim, maxHamming)
      // meta FIRST: it pins the band space before any data lands, so a
      // crash mid-index can never leave an unpinned table that a later
      // call silently re-bands in a different space (the meta is tiny
      // and every later call validates against it). A crash between the
      // two data appends still loses that BATCH's band rows — shared
      // shape with indexCorpus: appends are load-batch-scoped, the
      // recovery is re-running the interrupted batch.
      if (!hadMeta) {
        import vecs.sparkSession.implicits._
        store.overwrite(s"${table}__hamming_meta",
          Seq((dim, maxHamming, BandLayout))
            .toDF("dim", "max_hamming", "layout"))
      }
      // re-spread before the compute-dense coding/banding — the same
      // under-split-input discipline as [[checkVectorBatch]] (an
      // indexed corpus arriving as one driver-written file would code,
      // band and write on 1-8 scan tasks regardless of session width)
      val pinned = Dedup.pin(codedVecs(vecs.repartition(
        vecs.sparkSession.sparkContext.defaultParallelism), id, vec, dim))
      store.append(table, pinned)
      store.append(s"${table}__hamming_bands",
        Dedup.bandedWords(pinned.select("_id", "code"), dim, maxHamming)
          .select("_id", "widx", "blk", "blk_val"))
    }
  }

  /** Near-dup pairs of a NEW embedding batch against the indexed
    * corpus: (new_id, old_id, hamming, cosine) under BOTH contract
    * filters — sign-Hamming ≤ maxHamming AND exact cosine ≥ threshold
    * (the [[Dedup.embeddingHammingPairs]] contract, new × old only).
    * Batch ids must be disjoint from indexed ids. `maxHamming` may be
    * at most the indexed budget (recall within a smaller budget is
    * free; a larger one would need bands the index does not have).
    * Same pin lifecycle as [[checkBatch]]. */
  def checkVectorBatch(store: TableStore, table: String, batch: DataFrame,
      id: String, vec: String, threshold: Double,
      maxHamming: Int): DataFrame = store.exclusively(table) {
    // meta reads, validation and plan construction all run under the
    // table monitor, so a concurrent index rebuild cannot validate the
    // batch against a stale (dim, maxHamming, layout), and the band and
    // corpus scans below resolve their snapshots in the same critical
    // section (reentrant: screenedAppend composes under the same lock)
    val (dim, indexedH) = indexedSpace(store, table)
    // layout validation rides the shared guard (band keys computed
    // under a different derivation would silently match nothing)
    requireVecMeta(store, table, dim, indexedH)
    require(maxHamming >= 0 && maxHamming <= indexedH,
      s"check budget maxHamming=$maxHamming outside [0, $indexedH] — " +
        "the stored bands only guarantee recall within the indexed " +
        s"budget $indexedH; rebuild the index for a wider one")
    // re-spread the batch before the compute-dense coding/banding: a
    // micro-batch arrives as ONE file (one row group — one task), and
    // AQE never splits a scan stage, so without this the whole
    // code+band+join map side serializes on a single core
    // (soak-measured: 98 s single-task stages at the 30× fixture). The
    // shuffle moves O(batch) vector bytes once.
    val spread = batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism)
    val newCoded = Dedup.pin(codedVecs(spread, id, vec, dim))
    // pinned: consumed by BOTH the newKeys semi-join prune and the
    // band join's probe side — unpinned, the k-way band explode would
    // evaluate twice per batch
    val newBands = Dedup.pin(
      Dedup.bandedWords(newCoded.select("_id", "code"), dim, indexedH))
    // the band join enumerates |new_key|×|old_key| pairs per band key,
    // and band VALUES are heavily shared at near-dup-rich corpora (the
    // pigeonhole bands are deliberately coarse — k = budget+1 bands of
    // maximal width). Materializing every collision through the
    // distinct shuffle is the dominant cost at scale (soak-measured:
    // a 2,244 s stage sum at 30× clone density). Attaching the packed
    // codes to the stored side (new bands carry theirs already) lets
    // the Hamming budget filter INSIDE the generated join loop — a
    // pair dies for the cost of an XOR+popcount, and only in-budget
    // pairs reach the shuffle/distinct/verify tail (~the true-pair
    // count × band multiplicity, orders of magnitude fewer rows).
    // The attach is CANDIDATE-PRUNED: a semi-join on the batch's own
    // band keys first cuts the stored band rows to the colliding ones,
    // so the common mostly-clean batch pays a near-empty code join
    // instead of a corpus-sized one (the batch's key set bounds it;
    // the adversarial all-colliding case degrades to exactly the
    // stored-side size the band join reads anyway).
    val newKeys = newBands.select("widx", "blk", "blk_val").distinct()
    val oldBands = store.read(s"${table}__hamming_bands")
      .join(newKeys, Seq("widx", "blk", "blk_val"), "left_semi")
      .join(store.read(table).select(col("_id"), col("code").as("__co")),
        Seq("_id"))
    // pinned: the old-vector semi-join and the final verify join both
    // consume the candidate set — unpinned, the band join (including
    // the in-join Hamming filter's code attach) executed twice per
    // batch (the checkBatch double-compute, binary twin)
    val cand = Dedup.pin(newBands.as("a").join(oldBands.as("b"),
        col("a.widx") === col("b.widx") && col("a.blk") === col("b.blk") &&
          col("a.blk_val") === col("b.blk_val"))
      .filter(graft.functions.VectorFunctions.hammingDist(
        col("a.code"), col("b.__co")) <= maxHamming)
      .select(col("a._id").as("new_id"), col("b._id").as("old_id"))
      .distinct())
    // exact verify: read back ONLY the colliding old vectors
    val oldCand = store.read(table)
      .join(cand.select(col("old_id").as("_id")).distinct(),
        Seq("_id"), "left_semi")
      .select(col("_id").as("old_id"), col("_vec").as("__vo"),
        col("code").as("__co"))
    cand
      .join(newCoded.select(col("_id").as("new_id"), col("_vec").as("__vn"),
        col("code").as("__cn")), "new_id")
      .join(oldCand, "old_id")
      .withColumn("hamming", graft.functions.VectorFunctions
        .hammingDist(col("__cn"), col("__co")).cast("int"))
      .withColumn("__cos", Dedup.cosine(col("__vn"), col("__vo")))
      .filter(col("hamming") <= maxHamming && col("__cos") >= threshold)
      .select(col("new_id"), col("old_id"), col("hamming"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Grow the vector index: append a (already cross-checked) batch
    * and its band rows — the per-load maintenance step. The band
    * space is pinned by the meta, so the budget is read, not passed. */
  def appendVectorBatch(store: TableStore, table: String, batch: DataFrame,
      id: String, vec: String): Unit = {
    val (dim, maxHamming) = indexedSpace(store, table)
    indexVectors(store, table, batch, id, vec, dim, maxHamming)
  }
}
