package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication at training-data scale.
  *
  * Every strategy here is expressed as a shuffle-on-key plan (never a
  * cross join): candidate pairs are generated by joining an inverted
  * index (shingle → doc, LSH band → doc, simhash block → doc), so the
  * work is proportional to collisions, not to |corpus|². That is the
  * property that survives a 100 TB corpus — the quadratic verify step
  * only ever runs on the candidate set.
  *
  * All ids/hashes are deterministic (xxhash64/md5 over content), so
  * re-runs and speculative retries produce identical pairs
  * (cf. dlt's deterministic content ids, SURVEY.md §1.4).
  */
object Dedup {

  /** Exact dedup groups: one row per distinct canonical text, with the
    * keeper (min id) and the number of copies. Single hash-shuffle. */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as("keeper_id"),
        count(lit(1)).as("dup_count"))

  /** CORPUS RESOLUTION — the operation the pair generators exist for:
    * collapse each near-duplicate cluster to ONE canonical document.
    * `pairs` (id_a, id_b) from any generator → connected components →
    * the component minimum survives as canonical (min-label propagation
    * already makes the component label that minimum); documents in no
    * cluster pass through untouched. One anti-join over the loser set —
    * O(clustered docs), never O(corpus²). */
  def resolveNearDups(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    // size-adaptive components: near-dup pair graphs are edges ∝
    // duplicate clusters (sparse), so the sub-threshold driver
    // union-find usually replaces diameter × shuffle rounds; the
    // distributed propagation stays the big-graph fallback
    val comp = graft.operators.ConnectedComponents
      .componentsAuto(pairs, "id_a", "id_b", idCol = id)
    val losers = comp.filter(col(id) =!= col("component")).select(col(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** QUALITY-AWARE near-dup resolution: within each duplicate component
    * keep the member maximizing `score` (ties → lowest id); documents
    * in no cluster pass through untouched. [[resolveNearDups]] keeps an
    * ARBITRARY member (the component minimum) — this variant keeps the
    * copy a curation pipeline actually wants (highest quality score,
    * freshest crawl, longest text — any column expression).
    *
    * Scale shape matches [[resolveNearDups]]: the score window runs
    * only over CLUSTERED docs (∝ duplicate clusters, not corpus size —
    * the component join is inner) and the corpus pays one anti-join
    * over the loser set. */
  def canonicalByScore(docs: DataFrame, id: String, pairs: DataFrame,
      score: Column): DataFrame = {
    val comp = graft.operators.ConnectedComponents
      .componentsAuto(pairs, "id_a", "id_b", idCol = id)
    val w = Window.partitionBy("component").orderBy(score.desc, col(id))
    val losers = docs.join(comp, Seq(id))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1).select(col(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** doc → exploded distinct word-n-gram shingles.
    * Output: (id, shingle). The inverted-index base relation.
    * The token array is projected before the shingle lambda so the
    * tokenizer runs once per document, not once per shingle. The
    * prefix-filtered pair generators pin it: they feed it into the df
    * aggregate and the candidate join. */
  def shingleIndex(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    docs.select(col(id).as("_id"),
        TextOps.tokens(TextOps.canonicalText(col(text))).as("_ts"))
      .select(col("_id"),
        explode(TextOps.shinglesFromTokens(col("_ts"), n)).as("shingle"))

  /** doc → (_id, _arr): its distinct shingles as one array of
    * xxhash64(shingle), one row per document, with no shuffle (null text:
    * no row). The input of every exact verify and MinHash's hashed rows;
    * a verify-affecting collision needs two distinct shingles of the SAME
    * pair to collide (~n_sh²/2⁶⁴ ≈ 1e-15 per pair). */
  def shingleHashes(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    docs.select(col(id).as("_id"), graft.functions.TextFunctions.wordShingles(
        TextOps.tokens(TextOps.canonicalText(col(text))), n, hashed = true).as("_arr"))
      .filter(size(col("_arr")) > 0)

  /** Caches pinned by the pair generators and by the other operators
    * whose plans fan out over one frame. `persist` registers a plan with
    * the session's CacheManager, which holds it until an explicit
    * unpersist, so every pin belongs to a [[withPins]] scope and is
    * released when that scope exits. One rule covers every pin site:
    *  - an EAGER entry point (it runs its own actions on a pin and
    *    returns nothing lazy that reads it) wraps its body in
    *    [[withPins]];
    *  - a LAZY generator (it returns a frame over its pins) pins into
    *    the caller's scope, and the caller consumes the frame inside it;
    *  - a pin made outside any scope is not persisted: the frame comes
    *    back unchanged and its consumers recompute it, as frames that
    *    escape a scope already do.
    * [[boundary]] pins under the same rule. */
  private val pinScope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]()

  /** Run `body` with its own pin scope: every cache pinned inside is
    * unpersisted when the block exits, including on exception. Consume
    * the lazy frames INSIDE the block. Scopes are per-thread, so
    * concurrent pipelines cannot release each other's pins. */
  def withPins[A](body: => A): A = {
    val prev = pinScope.get()
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    pinScope.set(mine)
    try body
    finally {
      pinScope.set(prev)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** Pin `df` (MEMORY_AND_DISK) into the current [[withPins]] scope;
    * outside any scope `df` comes back unpersisted, and a frame whose
    * plan is already cached (pinned earlier in this scope or an
    * enclosing one) comes back as it is, not persisted twice.
    * Library-visible so sibling operators with the same fan-out shape
    * (e.g. [[TextIR.lmPerplexityBands]], [[graft.operators.Sketches]])
    * share the one lifecycle. The pin is lazy: a plan that reads a pin
    * not yet materialized N times pays N jobs (AQE gives each reference
    * its own table-cache query stage and does not reuse them), so
    * [[build]] a plan's pins at the action that reads them, or read
    * each pin once per plan. Consumers of a pin still analyze its whole
    * plan (cache substitution follows analysis); a stage boundary in a
    * chain of stages is a [[boundary]]. */
  private[graft] def pin(df: DataFrame): DataFrame = pinScope.get() match {
    case null => df
    case _ if cached(df) => df
    case scope =>
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scope += p
      p
  }

  /** The one materialization boundary: [[pin]] `df` into the current
    * [[withPins]] scope and return a frame over its rows whose plan is
    * one leaf (a `LogicalRDD` over the pin's RDD). Its consumers
    * analyze, optimize and plan the leaf, not `df`'s plan, so a chain
    * of boundaries is analyzed in O(stage) rather than re-analyzing
    * every stage above it. The leaf reads the pin's cached blocks,
    * filled by the first action that reads them; a lost block recomputes
    * from `df`'s lineage, and so does a read after the scope released
    * the pin: a frame used outside its scope recomputes instead of
    * failing. Outside any scope nothing is pinned and every consumer
    * recomputes `df`. Making the boundary runs the shuffle stages of
    * `df`'s adaptive plan, charged to the caller's call site; the pin's
    * own stage runs inside the first consuming action. */
  private[graft] def boundary(df: DataFrame): DataFrame = asCaller(df) {
    val p = pin(df)
    val qe = p.queryExecution
    val rows = qe.withCachedData match {
      case r: InMemoryRelation =>
        r.cacheBuilder.serializer.convertCachedBatchToInternalRow(
          r.cacheBuilder.cachedColumnBuffers, r.output, r.output, qe.sparkSession.sessionState.conf)
      case _ => qe.toRdd
    }
    org.apache.spark.sql.graft.ColumnBridge.leaf(rows.map(_.copy()), p)
  }

  private def cached(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.sparkSession.sharedState.cacheManager.lookupCachedData(qe.sparkSession, qe.analyzed)
      .isDefined
  }

  /** Build every pin `df`'s plan reads that is not built yet, innermost
    * first (a pin inside another pin's plan, also under an adaptive
    * plan), with one job each, and return `df`. Call it at the action
    * that reads the pins: once built, every plan reference to a pin
    * reads the loaded cache and starts no job, where an unbuilt pin
    * pays one job per reference ([[pin]]). One pin's build is
    * synchronized on that pin, so two callers never build it twice.
    * The jobs run outside any SQL execution, charged to the caller's
    * call site, not to this object's frames. Outside a [[withPins]]
    * scope nothing is pinned, and `build` does nothing. */
  private[graft] def build(df: DataFrame): DataFrame = {
    if (pinScope.get() != null)
      asCaller(df)(pinsOf(df.queryExecution.withCachedData).foreach(buildPin))
    df
  }

  /** Runs `body` outside any SQL execution, with the jobs it starts
    * charged to the graft frame that called into this object. */
  private def asCaller[A](df: DataFrame)(body: => A): A =
    org.apache.spark.GraftAccess.outsideExecution(df.sparkSession.sparkContext,
        Thread.currentThread.getStackTrace.toSeq.dropWhile(f =>
          !f.getClassName.startsWith("graft.") ||
            f.getClassName.startsWith("graft.ext.Dedup$")))(body)

  /** Rows of `df`: read off the row count a built pin keeps (0 exactly
    * when it built no row), so a pin is counted with no job past its
    * [[build]]; any other frame runs a count. */
  private[graft] def rowCount(df: DataFrame): Long =
    build(df).queryExecution.withCachedData match {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.rowCountStats.value
      case _ => df.count()
    }

  private def pinsOf(plan: LogicalPlan): Seq[InMemoryRelation] =
    plan.collectWithSubqueries { case r: InMemoryRelation => r }

  /** The pins a pin's physical plan reads; an adaptive plan is a leaf,
    * so its input plan is searched. */
  private def pinsOf(plan: SparkPlan): Seq[InMemoryRelation] =
    plan.collectWithSubqueries {
      case s: InMemoryTableScanExec => Seq(s.relation)
      case a: AdaptiveSparkPlanExec => pinsOf(a.inputPlan)
    }.flatten

  private def buildPin(r: InMemoryRelation): Unit = {
    val b = r.cacheBuilder
    if (!b.isCachedColumnBuffersLoaded) b.synchronized {
      if (!b.isCachedColumnBuffersLoaded) {
        pinsOf(b.cachedPlan).foreach(buildPin)
        val rdd = b.cachedColumnBuffers
        rdd.sparkContext.runJob(rdd, (_: Iterator[CachedBatch]) => ())
      }
    }
  }

  /** Exact n-gram Jaccard: pairs of documents with
    * jaccard(shingles_a, shingles_b) >= threshold.
    *
    * Candidate generation uses **prefix filtering** (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07): order each
    * document's shingles by global rarity (document frequency, then
    * shingle); a pair at jaccard >= t must share a shingle within the
    * first |s| - ceil(t·|s|) + 1 of each side, so only those prefixes
    * join. This keeps the self-join off the frequent shingles that
    * make the naive inverted-index join quadratic on template-heavy
    * corpora, while remaining EXACT (candidates are verified with true
    * jaccard; the prefix theorem guarantees no qualifying pair is
    * missed). A size filter (t·|a| <= |b| <= |a|/t) prunes further.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (arr, _, ranked) = rankedShingles(docs, id, text, n)
    // pinned: the candidate SELF-join consumes the prefix twice (a and
    // b sides) — unpinned, the docFreq aggregate + rarity window + both
    // joins above execute once per side (two full passes over the
    // shingle index at any corpus size)
    val prefix = pin(ranked.filter(
      col("rnk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a._id") < col("b._id") &&
          col("b.n_sh") >= col("a.n_sh") * threshold &&
          col("b.n_sh") * threshold <= col("a.n_sh"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    verifyJaccard(cand, arr, arr, threshold)
  }

  /** The prefix filters' inputs, pinned: [[shingleHashes]], and
    * [[shingleIndex]] with each document's shingle count `n_sh`; then the
    * latter ranked `rnk` in its document by rarity (df, then shingle). */
  private def rankedShingles(docs: DataFrame, id: String, text: String,
      n: Int): (DataFrame, DataFrame, DataFrame) = {
    val arr = pin(shingleHashes(docs, id, text, n))
    val sh = pin(shingleIndex(docs, id, text, n)
      .join(arr.select(col("_id"), size(col("_arr")).as("n_sh")), "_id"))
    val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    (arr, sh, sh.join(docFreq, "shingle").withColumn("rnk", row_number().over(
      Window.partitionBy("_id").orderBy(col("df"), col("shingle")))))
  }

  /** Exact-substring duplicate SPANS (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": substring-level
    * dedup catches the boilerplate/quotation duplication that whole-doc
    * measures dilute away). A span is `n` consecutive tokens appearing
    * verbatim in MORE THAN ONE document; the per-doc duplicated-window
    * ratio is the trim/drop decision input. Output: (id, n_windows,
    * n_dup_windows, dup_ratio).
    *
    * 100 TB shape: one tokenize+explode pass over the corpus (the
    * shared shingle index), ONE hash-aggregate over window strings with
    * map-side combine (the shuffle carries (window, doc-count), never
    * pair products), and a semi-join back restricted to the duplicated
    * windows — work ∝ corpus tokens + duplicated-window occurrences,
    * with no quadratic term anywhere. */
  def substringDupSpans(docs: DataFrame, id: String, text: String,
      n: Int = 3): DataFrame = {
    val sh = pin(shingleIndex(docs, id, text, n))
    val dup = sh.groupBy("shingle").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") > 1).select("shingle")
    val tot = sh.groupBy("_id").agg(count(lit(1)).as("n_windows"))
    val dups = sh.join(dup, Seq("shingle"), "left_semi")
      .groupBy("_id").agg(count(lit(1)).as("n_dup_windows"))
    tot.join(dups, Seq("_id"), "left")
      .na.fill(0L, Seq("n_dup_windows"))
      .select(col("_id").as(id), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_ratio"))
  }

  /** CONTAINMENT pairs: |shingles(a) ∩ shingles(b)| / |shingles(a)| >=
    * `threshold` — the ASYMMETRIC near-subset measure. Jaccard misses a
    * short document wholly quoted inside a long one (the union term
    * swamps it); containment is how corpus pipelines catch doc-in-doc
    * duplication. Candidate generation: a containment-qualifying pair
    * shares >= t·|a| of a's shingles, so a must share a shingle within
    * its first |a| - ceil(t·|a|) + 1 rarest ones (one-sided prefix
    * filter; the contained side has no size lower bound, so only a's
    * prefix filters). Exact verify on [[shingleHashes]] arrays. Output:
    * (id_a, id_b, containment) where id_a is the CONTAINED side. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val (arr, sh, ranked) = rankedShingles(docs, id, text, n)
    val prefixA = ranked.filter(
      col("rnk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
    // size filter: |a∩b| >= t·|a| forces |b| >= t·|a| (b may be any
    // amount bigger — containment is one-sided — but not much smaller)
    val cand = prefixA.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a._id") =!= col("b._id") &&
          col("b.n_sh") >= col("a.n_sh") * threshold)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    withArrays(cand, arr, arr)
      .withColumn("containment",
        size(array_intersect(col("_arr_a"), col("_arr_b"))).cast("double") /
          size(col("_arr_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
  }

  /** Candidate pairs (id_a, id_b) with each side's [[shingleHashes]]
    * array as `_arr_a` / `_arr_b`: the one head of every exact verify,
    * an `array_intersect` per candidate pair. */
  private def withArrays(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame =
    cand.join(a.select(col("_id").as("id_a"), col("_arr").as("_arr_a")), "id_a")
      .join(b.select(col("_id").as("id_b"), col("_arr").as("_arr_b")), "id_b")

  /** Near-duplicate pairs of one frame under `sig`: `(id_a, id_b,
    * <measures>)` with `id_a < id_b` — `jaccard` over `value`'s word
    * shingles ([[MinHash]]), `hamming` of the 64-bit hash column `value`
    * ([[Blocks]]: SimHash via [[simhashTable]], image dHash via
    * [[Phash.dhashTable]], audio via [[AudioFp.fingerprintTable]]), or
    * `hamming, cosine` of the float vectors in `value` ([[SignBits]]).
    * `threshold` is the verify's floor (Jaccard or cosine; a Blocks
    * verify is its Hamming budget). Candidates come from
    * [[bandSelfJoin]] over the signature's band rows, filtered in the
    * join, then exact-verified.
    *
    * PIN LIFECYCLE: a lazy generator ([[pin]]). The band rows (and
    * MinHash's shingle-hash rows) are pinned into the caller's
    * [[withPins]] scope; consume the returned frame inside it. */
  def pairs(frame: DataFrame, id: String, value: String, sig: Signature,
      threshold: Double = 0.9): DataFrame = {
    val h = sig.hashed(frame, id, value)
    // pinned: the hot-key count and both join sides read the band rows
    val banded = pin(sig.banded(h))
    val cand = sig.candidates(bandSelfJoin(banded, sig.keys)).distinct()
    sig.verify(cand, h, h, threshold)
  }

  /** Exact-jaccard verification of a candidate pair set against each
    * side's [[shingleHashes]] rows (one frame for self pairs). */
  private[ext] def verifyJaccard(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame =
    withArrays(cand, a, b)
      .withColumn("n_inter",
        size(array_intersect(col("_arr_a"), col("_arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("_arr_a")) + size(col("_arr_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Engine-portable 64-bit token hash: the two 32-bit halves of
    * md5(token) packed into one long (wrapping negative for high bits —
    * the bit pattern is what matters). Replaces xxhash64 here so the
    * whole simhash pipeline can be re-derived bit-for-bit by ANY engine
    * with md5 — the DuckDB correctness oracle reconstructs it in SQL
    * (same portability argument as [[graft.operators.HashSplit.bucket]];
    * xxhash64's exact constants exist only inside Spark). */
  private def tokenHash64(tok: Column): Column =
    shiftleft(conv(substring(md5(tok), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(tok), 9, 8), 16, 10).cast("long"))

  /** (_id, sh) simhash per document, as a codegen'd plan: explode
    * tokens → 64 bit-count sums + a token count in one hash aggregate.
    * Bit b of the simhash is set iff more than half the token hashes
    * have bit b set (votes = 2·ones − n > 0): the sign-aggregated bit
    * votes of [[tokenHash64]](token), so near-identical docs differ in
    * few bits. */
  def simhashTable(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id).as("_id"),
      explode(TextOps.tokens(TextOps.canonicalText(col(text)))).as("tok"))
    val h = toks.select(col("_id"), tokenHash64(col("tok")).as("h"))
    val agg = h.groupBy("_id").agg(
      count(lit(1)).as("n"),
      (0 until 64).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(1L)).as(s"s$b")): _*)
    val packed = (0 until 64).map(b =>
      when(col(s"s$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    agg.select(col("_id"), packed.as("sh"))
  }

  /** SELF-join banded rows on their band key — `a`/`b` aliased sides,
    * `a._id < b._id` — with ADAPTIVE triangle tiling of HOT keys: a
    * band key held by more than `hotThreshold` rows (a giant duplicate
    * clique — boilerplate pages repeated 10⁵× band identically, and the
    * blowup fixture's byte-identical replicas model exactly this) would
    * otherwise compute ALL |clique|²/2 candidate pairs in the ONE task
    * that owns the key. A join KEY cannot be split by partitioning (AQE
    * skew handling included — and these stages are byte-light/
    * compute-dense, below its size thresholds anyway), so hot keys are
    * tiled: rows hash into `tiles` buckets, the pair space into
    * tiles·(tiles+1)/2 sub-joins (the [[embeddingCosinePairsTiled]]
    * triangle, applied PER KEY). BOTH sides carry every tile whose
    * coordinates include the row's bucket — (p, j ≥ p) ∪ (i ≤ p, p) —
    * in BOTH orientations, and the `a._id < b._id` filter keeps
    * exactly one (a one-sided triangle split would DROP every pair
    * whose id order opposes its bucket order). A CROSS-bucket pair
    * (p ≠ q) meets only in tile (min, max); a SAME-bucket pair shares
    * its whole tile set, so the join is additionally restricted to the
    * DIAGONAL tile for same-bucket matches — without it each
    * same-bucket hot pair is emitted `tiles`× and the exact verify
    * pays every copy. Cold keys keep `t = 1` — a single (0, 0) tile,
    * zero replication, the plain join shape. The hot-key set is
    * capped at the heaviest [[MaxHotKeys]] (a broadcast must stay
    * bounded on template-heavy corpora — beyond-cap keys run the
    * plain join: slow, never wrong). Cost: one hash-aggregate over
    * the band rows + a bounded broadcast + `tiles` copies per hot-key
    * row. Callers' `.distinct()` still owns multi-band dedup. */
  private[graft] def bandSelfJoin(banded: DataFrame, keyCols: Seq[String],
      hotThreshold: Int = 1 << 12, tiles: Int = 16): DataFrame = {
    val keys = keyCols.map(col)
    val hot = banded.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
      .sort(col("__n").desc).limit(MaxHotKeys)
      .select(keys :+ lit(true).as("__hot"): _*)
    val flagged = banded.join(broadcast(hot), keyCols, "left")
      .withColumn("__t",
        when(col("__hot"), lit(tiles)).otherwise(lit(1)))
      .withColumn("__p", pmod(hash(col("_id")), col("__t")))
    // array_union drops the duplicated (p, p) element
    val side = flagged
      .withColumn("__tile", explode(array_union(
        transform(sequence(col("__p"), col("__t") - 1),
          j => struct(col("__p").as("ti"), j.as("tj"))),
        transform(sequence(lit(0), col("__p")),
          i => struct(i.as("ti"), col("__p").as("tj"))))))
      .withColumn("__ti", col("__tile.ti"))
      .withColumn("__tj", col("__tile.tj"))
      .drop("__tile")
    side.as("a").join(side.as("b"),
      keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.__ti") === col("b.__ti") && col("a.__tj") === col("b.__tj") &&
        // same-bucket pairs meet ONCE, in their diagonal tile
        (col("a.__p") =!= col("b.__p") ||
          (col("a.__ti") === col("a.__p") && col("a.__tj") === col("a.__p"))) &&
        col("a._id") < col("b._id"))
  }

  /** Broadcast bound for [[bandSelfJoin]]'s hot-key set: the heaviest
    * 2¹⁷ keys (~a few MB of key tuples) always tile; a corpus with
    * even more hot keys leaves the remainder on the plain join —
    * degraded parallelism, never a driver OOM from an unbounded
    * broadcast hint. */
  private val MaxHotKeys = 1 << 17

  /** Cosine similarity of two equal-length float-array columns,
    * computed in double precision with a sequential loop (same
    * evaluation order as the DuckDB oracle) — a native codegen
    * expression, see [[graft.functions.CosineSim]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Embedding near-dup pairs: cosine >= threshold.
    *
    * This is the exact (quadratic) verifier — usable directly on a
    * bounded partition (e.g. per LSH bucket, see [[Similarity]]), and
    * as the correctness baseline at test scale. At corpus scale use
    * [[embeddingCosinePairsTiled]] (exact, same result) or — for HIGH
    * thresholds only — [[Similarity.hyperplaneBuckets]] candidates.
    */
  def embeddingCosinePairs(vecs: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame =
    vecs.select(col(id).as("id_a"), col(vec).as("v_a")).as("a")
      .join(vecs.select(col(id).as("id_b"), col(vec).as("v_b")).as("b"),
        col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embeddings first ([[Clustering.lloydAssign]]), then search
    * near-duplicate pairs ONLY within a cluster. The pair space shrinks
    * from n² to Σ|cluster|² and the search is a plain shuffle equi-join
    * on the cluster id with memory-bounded buckets — the paper's scale
    * path for semantic dedup at web corpus size. Within a cluster the
    * pairs are exact (native codegen cosine); cross-cluster near-dups
    * are sacrificed by construction, which is the documented SemDeDup
    * trade (centroid-adjacent outliers), not an implementation loss. */
  def semanticPairs(vecs: DataFrame, id: String, vec: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val a = pin(Clustering.lloydAssignRaw(vecs, id, vec, k, iters)
      .select(col("__cl").as("cluster"), col("__id"), col("__e")))
    a.select(col("cluster"), col("__id").as("id_a"), col("__e").as("v_a"))
      .join(a.select(col("cluster"), col("__id").as("id_b"), col("__e").as("v_b")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** EXACT embedding near-dup at scale: the all-pairs self-join
    * decomposed into `tiles·(tiles+1)/2` balanced equi-join tiles
    * (the triangle tiling of Okcan & Riedewald, "Processing
    * Theta-Joins using MapReduce", SIGMOD'11).
    *
    * Each row hashes to one of `tiles` blocks and is replicated to the
    * tile keys its block participates in (left side: tiles (p, j≥p);
    * right side: tiles (i≤p, p)), so every unordered block pair meets in
    * EXACTLY one tile. The join is a plain shuffle equi-join on the tile
    * key — no broadcast-nested-loop, no skew (blocks are hash-uniform),
    * and each task holds O(|corpus|/tiles) vectors per side. Compute is
    * still O(n²) cosines — for WIDE-angle thresholds that is inherent:
    * at t = 0.45 a random-hyperplane collision has p ≈ 0.65, so any LSH
    * banding either misses true pairs (candidates must agree on r·bits)
    * or admits nearly every pair (1-(1-pʳ)ᵇ → 1); lossless sub-quadratic
    * candidate generation does not exist there. LSH remains the right
    * tool for tight thresholds (≥ ~0.9, see [[Similarity]] recall math);
    * THIS is the path that matches the exact oracle at any threshold.
    */
  def embeddingCosinePairsTiled(vecs: DataFrame, id: String, vec: String,
      threshold: Double, tiles: Int = 16): DataFrame = {
    val base = vecs.select(col(id).as("_id"), col(vec).as("_vec"))
      .withColumn("_blk", pmod(xxhash64(col("_id")), lit(tiles)).cast("int"))
    val l = base
      .select(col("_id").as("id_l"), col("_vec").as("v_l"), col("_blk").as("bl"),
        explode(sequence(col("_blk"), lit(tiles - 1))).as("tj"))
      .withColumn("_tile", col("bl") * tiles + col("tj")).drop("tj")
    val r = base
      .select(col("_id").as("id_r"), col("_vec").as("v_r"), col("_blk").as("br"),
        explode(sequence(lit(0), col("_blk"))).as("ti"))
      .withColumn("_tile", col("ti") * tiles + col("br")).drop("ti")
    l.join(r, "_tile")
      // same-block tiles order pairs by id; cross-block tiles meet once
      .filter(col("bl") =!= col("br") || col("id_l") < col("id_r"))
      .withColumn("cosine", cosine(col("v_l"), col("v_r")))
      .filter(col("cosine") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Benchmark decontamination scores (the n-gram overlap check run
    * before training so evaluation data is not memorized — the public
    * GPT-3/PaLM appendix methodology): for each corpus document, how
    * many of its distinct word-n-gram shingles appear ANYWHERE in the
    * benchmark set. One inverted-index equi-join on the shingle (hash
    * shuffle, work ∝ collisions) — never corpus × benchmark. Output:
    * (id, n_shingles, n_contaminated, contaminated_share); filter on
    * the share/count downstream to drop contaminated documents. */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int): DataFrame = {
    // ONE pass over the corpus index: left-join the (distinct) benchmark
    // shingles as a hit flag, then count total + hits in the same
    // aggregate — the previous counts/hits split re-derived the corpus
    // index twice and aggregated it twice. Distinctness of the benchmark
    // side keeps the left join row-preserving, so count(*) is still the
    // per-doc shingle total.
    val benchSh = shingleIndex(benchmark, id, text, n)
      .select("shingle").distinct().withColumn("__hit", lit(1))
    shingleIndex(corpus, id, text, n)
      .join(benchSh, Seq("shingle"), "left")
      .groupBy("_id").agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated"))
      .select(col("_id").as(id), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") /
          col("n_shingles"), 6).as("contaminated_share"))
  }

  /** Corpus-level duplicate-LINE removal (the boilerplate pass of the
    * public web-corpus pipelines — CCNet / Dolma strip lines repeated
    * across many documents: nav bars, cookie banners, footers).
    *
    * A line (trimmed) occurring in >= `minDocs` DISTINCT documents is
    * boilerplate; every occurrence is dropped and each document is
    * re-assembled from its surviving lines in order. Plan shape:
    * explode lines → hash-shuffle on the line for document frequency →
    * equi-join back → re-aggregate per document. All shuffles are
    * hash-partitioned on high-cardinality keys; per-document state is
    * bounded by document size. Output: (id, n_lines, n_dropped,
    * clean_text). */
  def stripDuplicateLines(docs: DataFrame, id: String, text: String,
      minDocs: Int = 2, delim: String = "\n"): DataFrame = {
    val lines = docs.select(col(id).as("_id"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(delim)))
          .as(Seq("_idx", "_line")))
      .withColumn("_norm", trim(col("_line")))
    val boiler = lines.filter(col("_norm") =!= "")
      .groupBy(col("_norm").as("_dup"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") >= minDocs)
      .select("_dup")
    lines.join(boiler, lines("_norm") === boiler("_dup"), "left")
      .withColumn("_dead", col("_dup").isNotNull)
      .groupBy(col("_id").as(id))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("_dead").cast("long")).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(!col("_dead"),
            struct(col("_idx"), col("_line"))))),
          x => x("_line")), delim).as("clean_text"))
  }
}
