package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.write.TableStore

/** A hash space of the near-duplicate engine: one case per space graft
  * persists. Each case owns its banding projection (candidates are an
  * equi-join on band keys, so work ∝ collisions, never all-pairs), its
  * in-join candidate filter, its exact verifier and the meta row that
  * pins it in a persisted index. Two faces drive every case:
  * [[Dedup.pairs]] (self pairs of one frame) and
  * [[IncrementalDedup.indexCorpus]] / [[IncrementalDedup.checkBatch]]
  * (a batch against a persisted index). The band key is only a recall
  * device: every reported pair carries its exact measure. */
sealed trait Signature {

  /** Band-key columns of [[banded]]. */
  private[ext] def keys: Seq[String]

  /** A frame's hashed rows `(_id, …)`: what [[banded]] reads and the
    * verify reads back. */
  private[ext] def hashed(frame: DataFrame, id: String, value: String): DataFrame

  /** Banding projection of hashed rows: `(_id, <keys>, …)`. */
  private[ext] def banded(h: DataFrame): DataFrame

  /** Candidates `(id_a, id_b, …)` of a band join aliased `a`/`b`, after
    * the in-join filter; callers own the `distinct`. */
  private[ext] def candidates(joined: DataFrame): DataFrame =
    joined.select(col("a._id").as("id_a"), col("b._id").as("id_b"))

  /** Exact verify of distinct candidates against each side's hashed
    * rows (one frame for self pairs): `(id_a, id_b, <measures>)`. */
  private[ext] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame

  /** Whether the verify reads the hashed rows back. A check then pins
    * the batch's hashed rows and the candidates (each has two readers)
    * and re-spreads a batch not yet spread before hashing; a [[Blocks]]
    * verify is its in-join Hamming over hashes the band rows carry, so it
    * does none of this. */
  private[ext] def readsBack: Boolean = true

  // ---- persisted index ----------------------------------------------------

  /** The table an index's rows land in. */
  private[ext] def rowTable(table: String): String = table

  /** The index's band table; None = banded from the stored rows at probe
    * time. */
  private[ext] def bandTable(table: String): Option[String]

  /** The rows an index stores for a frame. */
  private[ext] def rows(frame: DataFrame, id: String, value: String): DataFrame =
    hashed(frame, id, value)

  /** Stored rows back to hashed rows. */
  private[ext] def rehash(stored: DataFrame): DataFrame = stored

  /** The band rows an index write appends for its stored rows. */
  private[ext] def indexBands(stored: DataFrame): DataFrame =
    banded(rehash(stored)).select(("_id" +: keys).map(col): _*)

  /** (batch side, stored side) of a check's band join. */
  private[ext] def probe(store: TableStore, table: String,
      newBands: DataFrame): (DataFrame, DataFrame) =
    (newBands,
      bandTable(table).fold(banded(rehash(store.read(rowTable(table)))))(store.read))

  /** The one-row meta table pinning this space (its name suffix and its
    * row); None = nothing to pin. */
  private[ext] def meta: Option[(String, SparkSession => DataFrame)] = None

  /** Validate the stored meta row against this signature (`probe` = a
    * check, else an index write) and return the band space to use. */
  private[ext] def claim(stored: Option[Map[String, Any]], table: String,
      probe: Boolean): Signature = this
}

/** MinHash + LSH banding over word-`n`-gram shingles: `perms` min-hashes
  * in `bands` bands of `perms/bands` rows; docs agreeing on a whole band
  * are candidates, verified with exact Jaccard.
  *
  * Recall (64 perms / 16 bands × 4 rows): a pair at Jaccard j becomes a
  * candidate with P = 1 - (1 - j⁴)¹⁶ — 1 - 4·10⁻⁸ at j = 0.9 — while
  * unrelated docs (j ≈ 0.1) collide with P ≈ 0.16%, so the verify join
  * stays tiny next to |corpus|². The signature and the verify both work
  * per document, with no shuffle. The index stores the raw text
  * (`<t>` = (_id, _text)), the band rows (`<t>__minhash_bands`) and
  * (n, perms, bands) in `<t>__minhash_meta`. */
final case class MinHash(n: Int = 3, perms: Int = 64, bands: Int = 16)
    extends Signature {
  require(perms % bands == 0, "perms must be divisible by bands")

  private[ext] def keys = Seq("band", "bucket")

  /** Pinned [[Dedup.shingleHashes]] rows, one per document: shingling is
    * the costliest step, and the signature and the verify both read it. */
  private[ext] def hashed(frame: DataFrame, id: String, value: String) =
    Dedup.pin(Dedup.shingleHashes(frame, id, value, n))

  /** (_id, band, bucket) per row: band key = hash of the band's r slots
    * of the [[graft.functions.MinHashSignature]], bit-identical to the
    * exploded `min(xxhash64(shingle, p))`, so persisted bands match. */
  private[ext] def banded(h: DataFrame) = {
    val r = perms / bands
    h.select(col("_id"), TextFunctions.minHashSignature(col("_arr"), perms).as("_sig"))
      .select(col("_id"), posexplode(array((0 until bands).map(b =>
          xxhash64((lit(b) +: (0 until r).map(i => col("_sig").getItem(b * r + i))): _*)): _*))
        .as(Seq("band", "bucket")))
  }

  /** Exact Jaccard of each candidate's two shingle-hash arrays. */
  private[ext] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double) = Dedup.verifyJaccard(cand, a, b, threshold)

  /** Spread on `_id`: per-row bands would land one file per input split;
    * the shuffle lets the write coalesce to the rows' size. */
  private[ext] override def indexBands(stored: DataFrame) =
    super.indexBands(stored).repartition(col("_id"))

  private[ext] def bandTable(table: String) = Some(s"${table}__minhash_bands")

  private[ext] override def rows(frame: DataFrame, id: String, value: String) =
    frame.select(col(id).as("_id"), col(value).as("_text"))

  private[ext] override def rehash(stored: DataFrame) =
    Dedup.shingleHashes(stored, "_id", "_text", n)

  private[ext] override def meta = Some(("__minhash_meta", (s: SparkSession) => {
    import s.implicits._
    Seq((n, perms, bands)).toDF("n", "perms", "bands")
  }))

  /** Band keys of another hash space silently join to nothing, which
    * reads as "no duplicates". A pre-meta index passes. */
  private[ext] override def claim(stored: Option[Map[String, Any]],
      table: String, probe: Boolean) = {
    stored.foreach { m =>
      val (sn, sp, sb) = (m("n"), m("perms"), m("bands"))
      require(sn == n && sp == perms && sb == bands,
        s"minhash index '$table' was built with (n=$sn, perms=$sp, " +
          s"bands=$sb) but (n=$n, perms=$perms, bands=$bands) was " +
          "passed — band keys would land in a different hash space " +
          "and silently match nothing")
    }
    this
  }
}

/** Pigeonhole blocks of a 64-bit fingerprint column (SimHash, dHash,
  * audio): the hash splits into `maxHamming + 1` equal blocks, and any
  * pair within the Hamming budget agrees on at least one whole block, so
  * the (blk, blk_val) equi-join has perfect recall and the exact
  * `bit_count(xor)` filter never sees a cross-bucket pair. maxHamming = 0
  * is one full-width block (an exact-equality join: `1L << 64` would wrap
  * to a zero mask and band everything into one bucket). The index stores
  * only the hashes (`<t>__phash` = (_id, sh)) and bands them at probe
  * time, so every check picks its own budget and there is no meta. */
final case class Blocks(maxHamming: Int) extends Signature {
  require(maxHamming >= 0 && maxHamming <= 63,
    s"maxHamming $maxHamming outside [0, 63]")

  private[ext] def keys = Seq("blk", "blk_val")

  private[ext] def hashed(frame: DataFrame, id: String, value: String) =
    frame.select(col(id).as("_id"), col(value).as("sh"))

  /** Every input column + (blk, blk_val) rows of the `sh` column. */
  private[ext] def banded(h: DataFrame) = {
    val width = 64 / (maxHamming + 1)
    val mask = if (width == 64) -1L else (1L << width) - 1
    h.select(h.columns.map(col).toIndexedSeq :+
      posexplode(array((0 to maxHamming).map(b =>
        shiftright(col("sh"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("blk", "blk_val")): _*)
  }

  /** Filtered BEFORE the distinct: over-budget collisions drop without
    * riding the shuffle. */
  private[ext] override def candidates(joined: DataFrame) =
    joined.select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  private[ext] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double) = cand

  private[ext] override def readsBack = false

  private[ext] override def rowTable(table: String) = s"${table}__phash"

  private[ext] def bandTable(table: String) = None
}

/** Packed sign codes of `dim`-wide float vectors (the `wb1` layout):
  * [[graft.functions.PackSignBits]] codes span ⌈dim/64⌉ words, banded
  * into ≥ maxHamming+1 disjoint blocks over their REAL bits (see
  * [[SignBits.wordBands]]), so a pair within the budget agrees on a
  * whole band. Candidates filter on the exact code Hamming inside the
  * join; the verify is exact cosine ≥ threshold. Both filters are the
  * contract: a returned pair has sign-Hamming ≤ maxHamming AND cosine ≥
  * threshold. For unit vectors the expected sign disagreement at angle θ
  * is dim·θ/π, so this is a HIGH-threshold tool; at low thresholds use
  * [[Dedup.embeddingCosinePairsTiled]]. A row of another width raises
  * (codegen'd, no extra pass): banding a mixed-width corpus would lose
  * recall silently.
  *
  * The index stores (_id, _vec, code) in `<t>`, the band keys in
  * `<t>__hamming_bands` and (dim, max_hamming, layout) in
  * `<t>__hamming_meta`; a check may use any budget up to the indexed
  * one. */
final case class SignBits(dim: Int, maxHamming: Int) extends Signature {
  require(dim >= 1, s"dim must be positive, got $dim")
  require(maxHamming >= 0 && maxHamming < dim,
    s"maxHamming $maxHamming outside [0, $dim) — at maxHamming ≥ dim " +
      "every pair is a candidate and blocking is meaningless; use " +
      "embeddingCosinePairsTiled")

  private[ext] def keys = Seq("widx", "blk", "blk_val")

  private[ext] def hashed(frame: DataFrame, id: String, value: String) =
    frame.filter(assert_true(size(col(value)) === dim,
        lit(s"SignBits: vector width != declared dim $dim — the banding " +
          "is sized by dim; a mixed-width corpus would band " +
          "inconsistently and silently lose recall")).isNull)
      .select(col(id).as("_id"), col(value).as("_vec"),
        VectorFunctions.packSignBits(col(value)).as("code"))

  /** (_id, code, widx, blk, blk_val): the [[SignBits.wordBands]] bands as
    * a plan-time struct array (the layout is a pure function of (dim,
    * maxHamming), so no per-row branching). */
  private[ext] def banded(h: DataFrame) = {
    val bs = SignBits.wordBands(dim, maxHamming).map { b =>
      struct(lit(b.widx).as("widx"), lit(b.blk).as("blk"),
        shiftright(element_at(col("code"), b.widx + 1), b.shift)
          .bitwiseAND(lit(b.mask)).as("blk_val"))
    }
    h.select(col("_id"), col("code"), explode(array(bs: _*)).as("__band"))
      .select(col("_id"), col("code"), col("__band.widx").as("widx"),
        col("__band.blk").as("blk"), col("__band.blk_val").as("blk_val"))
  }

  /** The Hamming budget filters INSIDE the join: a colliding pair dies
    * for an XOR+popcount and only in-budget pairs reach the distinct. */
  private[ext] override def candidates(joined: DataFrame) =
    joined.select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        VectorFunctions.hammingDist(col("a.code"), col("b.code"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  private[ext] def verify(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double) =
    cand.join(a.select(col("_id").as("id_a"), col("_vec").as("__va")), "id_a")
      .join(b.select(col("_id").as("id_b"), col("_vec").as("__vb")), "id_b")
      .withColumn("__cos", Dedup.cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(col("__cos"), 6).as("cosine"))

  private[ext] def bandTable(table: String) = Some(s"${table}__hamming_bands")

  /** Coded off a re-spread input: a corpus arriving as one file would
    * otherwise code, band and write on a few scan tasks. */
  private[ext] override def rows(frame: DataFrame, id: String, value: String) =
    hashed(frame.repartition(frame.sparkSession.sparkContext.defaultParallelism),
      id, value)

  /** The stored band rows are cut to the batch's own keys before the
    * stored codes attach (the mostly-clean batch then pays a near-empty
    * code join, not a corpus-sized one); the batch bands are pinned for
    * their two readers. */
  private[ext] override def probe(store: TableStore, table: String,
      newBands: DataFrame) = {
    val nb = Dedup.pin(newBands)
    (nb, store.read(s"${table}__hamming_bands")
      .join(nb.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .join(store.read(table).select("_id", "code"), Seq("_id")))
  }

  private[ext] override def meta = Some(("__hamming_meta", (s: SparkSession) => {
    import s.implicits._
    Seq((dim, maxHamming, SignBits.Layout)).toDF("dim", "max_hamming", "layout")
  }))

  /** An index write must keep the stored (dim, maxHamming, layout); a
    * check needs the stored dim and layout and a budget within the
    * indexed one, and bands at the indexed budget. */
  private[ext] override def claim(stored: Option[Map[String, Any]],
      table: String, probe: Boolean) = stored match {
    case None if probe => throw new IllegalArgumentException(
      s"no hamming index meta for '$table' — call indexCorpus with a " +
        "SignBits signature first")
    case None => this
    case Some(m) =>
      val (sd, sh) = (m("dim").asInstanceOf[Int], m("max_hamming").asInstanceOf[Int])
      require(sd == dim,
        s"hamming index '$table' was built at dim=$sd but dim=$dim was " +
          "passed — codes would band inconsistently")
      if (probe) require(maxHamming <= sh,
        s"check budget maxHamming=$maxHamming outside [0, $sh] — the " +
          "stored bands only guarantee recall within the indexed budget " +
          s"$sh; rebuild the index for a wider one")
      else require(sh == maxHamming,
        s"hamming index '$table' was built with maxHamming=$sh but " +
          s"$maxHamming was passed — appends must keep the one band space")
      // pre-layout meta: the old fixed per-word split is wb1 exactly when
      // dim is a whole number of words
      val layout = m.get("layout").map(_.toString)
        .getOrElse(if (sd % 64 == 0) SignBits.Layout else "pre-wb1")
      require(layout == SignBits.Layout,
        s"hamming index '$table' was persisted under band layout " +
          s"'$layout' but this engine derives '${SignBits.Layout}' — band " +
          "keys would silently match nothing; rebuild the index into a " +
          "fresh table")
      SignBits(dim, sh)
  }
}

object SignBits {

  /** The band-layout generation [[wordBands]] derives, pinned in the
    * meta: "wb1" = proportional real-bit allocation. */
  private[ext] val Layout = "wb1"

  /** One band of a multi-word code: `blk_val = (code(widx) >> shift) &
    * mask`. */
  private[graft] final case class WordBand(widx: Int, blk: Int,
      shift: Int, mask: Long)

  /** The band layout of a `dim`-bit code under a `maxHamming` budget —
    * the ONE place it is derived (an index and a later check must agree
    * bit-for-bit). Word w holds `min(64, dim − 64w)` REAL bits (a band
    * cut past them would be zero for every row: one shared key, an
    * all-pairs join). Word w gets k_w = ⌈(maxHamming+1)·width_w/dim⌉
    * bands, so Σk_w ≥ maxHamming+1 (superadditivity of ceil) and k_w ≤
    * width_w (every band ≥ 1 real bit); the bands are disjoint, so a pair
    * within the budget agrees on ≥ 1 whole band. For dim ≡ 0 (mod 64)
    * this is the equal per-word split. Needs 0 ≤ maxHamming < dim, as
    * [[SignBits]] requires. */
  private[graft] def wordBands(dim: Int, maxHamming: Int): IndexedSeq[WordBand] =
    (0 until (dim + 63) / 64).flatMap { w =>
      val width = math.min(64, dim - 64 * w)
      val k = ((maxHamming + 1) * width + dim - 1) / dim
      val bw = width / k
      val mask = if (bw == 64) -1L else (1L << bw) - 1
      (0 until k).map(b => WordBand(w, b, b * bw, mask))
    }
}
