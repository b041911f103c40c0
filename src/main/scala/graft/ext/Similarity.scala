package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    the corpus; one scan, no shuffle of the corpus, window top-k per
  *    query. The right plan whenever |queries| is driver-small, at any
  *    corpus size.
  *  - [[hyperplaneBuckets]] / [[lshTopK]] — approximate: random-hyperplane
  *    LSH signatures bucket the corpus once (hash-shuffle on the bucket
  *    key); a query only scans its own bucket(s). The scale path when the
  *    query set itself is large: candidate generation becomes an
  *    equi-join on (band, signature) exactly like [[Dedup]] banding.
  *
  * Hyperplanes are generated from a fixed seed → signatures are
  * deterministic across runs, executors and retries.
  */
object Similarity {

  /** `count` fixed random hyperplanes of dimension `dim`, seeded. */
  def hyperplanes(dim: Int, count: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def dot(x: Column, y: Column): Column =
    graft.functions.VectorFunctions.dotp(x, y)

  /** Sign-bit signature of `vec` against the given hyperplanes, packed
    * into a long (bit i set iff vec · plane_i > 0). Pure expressions →
    * whole-stage codegen, evaluated in one corpus scan. */
  def hyperplaneSignature(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.toIndexedSeq.map(lit): _*)
      when(dot(vec, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Corpus bucketed by LSH signature bands: one row per (vector, band),
    * bucket = that band's own `width = bits/bands` hyperplane sign bits.
    * Each band hashes against its OWN plane block, so bands × width is
    * unconstrained by any packing word (the old single-long signature
    * capped bits at 64, which at corpus scale forces degenerate narrow
    * bands: bucket count must track corpus size — width ~ log₂(n/target
    * occupancy) — and more bands buy recall). Vectors sharing any band
    * value are near-neighbour candidates. Materialize once (e.g.
    * bucketed/partitioned by (band, bucket)) and reuse across queries. */
  def hyperplaneBuckets(vecs: DataFrame, id: String, vec: String,
      bits: Int = 16, bands: Int = 4, seed: Long = 42L, dim: Int = 64): DataFrame = {
    val width = bits / bands
    require(width >= 1 && width <= 62, s"band width $width out of range")
    val planes = hyperplanes(dim, bands * width, seed)
    val bandSigs = (0 until bands).map { b =>
      hyperplaneSignature(col("_vec"), planes.slice(b * width, (b + 1) * width))
    }
    vecs.select(col(id).as("_id"), col(vec).as("_vec"))
      .select(col("_id"), col("_vec"),
        posexplode(array(bandSigs: _*)).as(Seq("band", "bucket")))
  }

  // NOTE: the per-pair recall attachment helper (recallAtK) that
  // backed the two recall-self-gated ANN queries until r15 was removed
  // in r16 — both gates now emit a driver-hashable
  // (query_id, n_hits, k) summary via ExtQueries.annRecallSummary, and
  // no other caller remained.

  /** Exact top-k: broadcast `queries` (must be driver-small), score the
    * corpus in one pass, keep k best per query.
    * Deterministic tie-break: (cosine desc, corpus id asc). */
  /** THE probe frame every IVF probe path shares — (query_id,
    * `<vecCol>`, __list) for the `nprobe` nearest coarse lists per
    * query: a MAP-ONLY codegen top-n ([[graft.functions.CentroidTopN]]
    * + explode) over the driver-held centroid matrix, followed by one
    * SMALL exchange (queries × nprobe rows, already join-keyed) — the
    * AQE materialization point that lets the downstream corpus join
    * see the actual probe-sized frame and broadcast it. Without that
    * exchange the join plans off the un-shrunk scan estimate of
    * `queries` (filters don't shrink estimates without CBO) and
    * degrades to a sort-merge join shuffling the WHOLE corpus; the old
    * crossJoin+window shape had the stage boundary implicitly, at
    * queries × NLIST rows — this one is nlist/nprobe smaller. */
  private[graft] def probeFrame(queries: DataFrame, id: String, vec: String,
      vecCol: String, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame =
    queries.select(col(id).as("query_id"), col(vec).as(vecCol))
      .withColumn("__list", explode(
        graft.functions.VectorFunctions.centroidTopN(
          col(vecCol), centroids, nprobe)))
      .select(col("query_id"), col(vecCol), col("__list"))
      .repartition(col("__list"))

  /** The coarse centroids as a dense matrix indexed by `__list` — the
    * broadcast-reference shape [[graft.functions.CentroidTopN]] /
    * [[graft.functions.CentroidArgMin]] ride. Driver-small by contract
    * (nlist rows; FAISS keeps the coarse quantizer in memory on every
    * searcher at any nlist for the same reason). */
  private[graft] def centroidMatrix(
      centroids: DataFrame): Array[Array[Double]] = {
    val rows = centroids.select(col("__list"), col("__centroid")).collect()
    val m = new Array[Array[Double]](rows.length)
    rows.foreach { r =>
      val l = r.getInt(0)
      require(l >= 0 && l < m.length && m(l) == null,
        s"centroid lists are not contiguous [0, ${m.length}): list $l")
      m(l) = r.getSeq[Double](1).toArray
    }
    m
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("q_vec")))
    val scored = corpus.select(col(id).as("match_id"), col(vec).as("c_vec"))
      .join(q, col("query_id") =!= col("match_id"))
      .withColumn("cosine", Dedup.cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** RANGE (radius) search: every corpus vector within cosine >=
    * `threshold` of each broadcast query — the "find everything similar
    * enough" primitive (dedup against a blocklist, nearest-cluster
    * assignment, retrieval with a score floor). Same one-pass broadcast
    * scan shape as [[bruteForceTopK]]; no per-query state, so output
    * size is data-dependent rather than k-bounded. */
  def radiusSearch(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, threshold: Double): DataFrame = {
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("q_vec")))
    corpus.select(col(id).as("match_id"), col(vec).as("c_vec"))
      .join(q, col("query_id") =!= col("match_id"))
      .withColumn("cosine", Dedup.cosine(col("q_vec"), col("c_vec")))
      .filter(col("cosine") >= threshold)
      .select(col("query_id"), col("match_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer buckets the
    * corpus by nearest centroid; a query scans only its `nprobe`
    * closest buckets. The standard ANN scale path when the query set is
    * large and hyperplane LSH recall is too coarse. Returns
    * (assigned corpus with `__list`, centroids (`__list`, `__centroid`)).
    *
    * Training uses spark.ml KMeans (seeded → deterministic) fitted on a
    * DETERMINISTIC HASH-SAMPLE of the corpus (`trainFraction`, via
    * [[graft.operators.HashSplit.sample]] — stable across re-runs and
    * cluster sizes, unlike `df.sample`); only the cheap single-pass
    * assignment transform touches every vector. At 100 TB the iterative
    * KMeans passes run over `trainFraction` of the data, not all of it;
    * persist `assigned` bucketed by `__list` and probe-joins touch only
    * nprobe/nlist of the corpus. Centroid QUALITY needs only a
    * representative sample (k ≪ sample size); ivfTopK's recall/exactness
    * properties are independent of where the centroids came from, so
    * `sim_ivf_exact` (nprobe = nlist ≡ brute force) gates this path
    * end-to-end regardless of the sampling.
    */
  def ivfIndex(corpus: DataFrame, id: String, vec: String,
      nlist: Int = 16, seed: Long = 42L,
      trainFraction: Double = 0.25): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.functions.array_to_vector
    val model = ivfTrain(corpus, id, vec, nlist, seed, trainFraction)
    val fv = corpus.withColumn("__fv", array_to_vector(col(vec)))
    val assigned = model.transform(fv).drop("__fv")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("__list", "__centroid")
    (assigned, centroids)
  }

  /** The KMeans training step of [[ivfIndex]], exposed so specs can
    * assert the fit input is the hash-sample, not the corpus. Falls back
    * to the full corpus only when the sample is too small to carve
    * `nlist` clusters (tiny-fixture guard; at scale the sample wins). */
  def ivfTrain(corpus: DataFrame, id: String, vec: String,
      nlist: Int, seed: Long, trainFraction: Double)
      : org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      "trainFraction must be in (0,1]")
    def fit(train: DataFrame) =
      new KMeans().setK(nlist).setSeed(seed)
        .setFeaturesCol("__fv").setPredictionCol("__list")
        .fit(train.withColumn("__fv", array_to_vector(col(vec))))
    if (trainFraction >= 1.0) fit(corpus)
    else Dedup.withPins {
      // pin the sample ONCE: the size guard's count doubles as the cache
      // materialization KMeans's iterative passes then reuse — the
      // previous limit-count was a separate uncached sample scan per
      // index build, pure overhead at scale
      val pinned = Dedup.pin(
        graft.operators.HashSplit.sample(corpus, id, trainFraction))
      fit(if (pinned.count() >= 4L * nlist) pinned else corpus)
    }
  }

  /** IVF approximate top-k: per query, rank centroids by euclidean
    * distance (the k-means metric), take the `nprobe` nearest lists,
    * and exact-cosine re-rank only those buckets' vectors. With
    * `nprobe = nlist` this degrades gracefully to exact brute force. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 0.25): DataFrame = {
    val (assigned, centroids) =
      ivfIndex(corpus, id, vec, nlist, seed, trainFraction)
    ivfProbe(assigned, centroids, queries, id, vec, k, nprobe)
  }

  /** The probe stage of [[ivfTopK]], factored out so a PERSISTED index
    * ([[graft.write.VectorSink]]) probes with byte-identical math to the
    * in-memory path: centroid ranking, nprobe list selection, exact
    * cosine re-rank, (cosine DESC, match_id) tie-break. `assigned` must
    * carry (`id`, `vec`, `__list`); `centroids` (`__list`, `__centroid`). */
  def ivfProbe(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int, nprobe: Int): DataFrame =
    ivfProbe(assigned, centroidMatrix(centroids), queries, id, vec, k, nprobe)

  /** [[ivfProbe]] against a driver-held centroid matrix — the
    * collect-free form probe sessions reuse (the persisted paths pass
    * [[graft.write.VectorSink.Generation.centroidMatrix]], collected
    * once per resolved generation). A query row with a NULL vector is
    * DROPPED (the ranking expression null-propagates and exploding a
    * NULL emits nothing) — validate upstream if every query must
    * answer; the write side rejects NULL vectors outright. */
  def ivfProbe(assigned: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame,
      id: String, vec: String, k: Int, nprobe: Int): DataFrame = {
    // MAP-ONLY centroid ranking ([[graft.functions.CentroidTopN]] over
    // the driver-held centroid matrix — the crossJoin+window it
    // replaces shuffled queries × nlist rows, which at batch-ANN-join
    // scale is the shape the append path shed): FULL squared distance
    // Σ(q−c)², the same subtract-square-accumulate loop the persisted
    // append argmin ([[graft.functions.CentroidArgMin]]) runs, ties to
    // the lowest `__list` — so centroid RANKING is BIT-identical across
    // the in-memory probe, the persisted probe and the append
    // assignment: near-tied centroids can never round to different
    // winners between those paths. (The initial k-means WRITE
    // assignment is spark.ml's transform — possibly a norms-shortcut
    // distance — so a write-time near-tie may place a row in the other
    // near-tied list; probes stay exact at nprobe = nlist regardless.)
    val probes = probeFrame(queries, id, vec, "q_vec", centroids, nprobe)
    val cand = probes.join(
        assigned.select(col(id).as("match_id"), col(vec).as("c_vec"), col("__list")),
        Seq("__list"))
      .filter(col("query_id") =!= col("match_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id"))
    cand.withColumn("cosine", Dedup.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Approximate top-k via LSH buckets: candidates = corpus vectors that
    * share at least one signature band with the query; exact cosine
    * re-rank on the candidates only. Same output schema as brute force;
    * recall < 1 by construction (that is the trade). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      bits: Int = 16, bands: Int = 4, seed: Long = 42L, dim: Int = 64): DataFrame = {
    val cb = hyperplaneBuckets(corpus, id, vec, bits, bands, seed, dim)
    val qb = hyperplaneBuckets(queries, id, vec, bits, bands, seed, dim)
      .withColumnRenamed("_id", "query_id").withColumnRenamed("_vec", "q_vec")
    // score INSIDE the bucket join, before the candidate dedup: a pair
    // colliding in c bands costs c codegen'd cosines (cheap) but the
    // dedup shuffle then carries (ids, cosine) scalars instead of two
    // dim-float vectors per collision — the shuffle, not the math, is
    // the scale cost. max() is a no-op combiner (all copies equal).
    val cand = qb.join(cb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("_id"))
      .select(col("query_id"), col("_id").as("match_id"),
        Dedup.cosine(col("q_vec"), col("_vec")).as("cosine"))
      .groupBy("query_id", "match_id").agg(max("cosine").as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Binary-quantization top-k: 1-bit sign codes + Hamming shortlist +
    * exact cosine re-rank (the FAISS `IndexBinaryFlat`-then-refine
    * shape; reference vector destinations expose the same
    * binary-quantization storage option).
    *
    * Scale story: the candidate scan compares ⌈dim/64⌉ XOR+popcount
    * words per pair instead of `dim` float multiplies — a 64×
    * compression of both the scanned bytes and the inner loop — and
    * the per-candidate shortlist exchange carries (ids, hamming)
    * SCALARS only; float vectors re-enter through shortlist-sized
    * rejoins of `queries`/`corpus` in the shared tail
    * ([[hammingShortlistRerank]]), so the corpus pays one code scan
    * plus one column-pruned vector rejoin. Queries must be
    * driver-small here (their codes ride a broadcast; use the
    * persisted [[graft.write.VectorSink.topK]] for batch-scale
    * query sets). Corpus and queries must share a fixed dimension —
    * the kernels clamp to min(length).
    *
    * DETERMINISM: both stages are engine-replayable — the shortlist is
    * pure integer ordering (hamming asc, id asc) and the re-rank is the
    * same double-precision cosine every other top-k gate uses — so this
    * is exact-oracle-gated end to end (no recall self-gate needed; with
    * `rerank` ≥ corpus size it degrades to brute force, and at smaller
    * `rerank` the ORACLE replays the same shortlist, not the true
    * top-k). */
  def binaryTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int, rerank: Int): DataFrame = {
    import graft.functions.VectorFunctions.{hammingDist, packSignBits}
    val q = broadcast(queries.select(col(id).as("query_id"),
      packSignBits(col(vec)).as("q_code")))
    // the candidate scan carries ONLY codes and ids — that is the whole
    // point of the 1-bit representation; float vectors re-enter via the
    // shortlist-sized joins inside the shared tail
    val cands = corpus
      .select(col(id).as("match_id"), packSignBits(col(vec)).as("c_code"))
      .join(q, col("query_id") =!= col("match_id"))
      .select(col("query_id"), col("match_id"),
        hammingDist(col("q_code"), col("c_code")).as("hamming"))
    hammingShortlistRerank(cands, queries, corpus, id, vec, k, rerank)
  }

  /** The ONE implementation of the binary probe paths'
    * tie-break-sensitive tail — [[binaryTopK]] and
    * [[graft.write.VectorSink.topK]]'s binary plan both ride it, so the
    * `sim_ivf_bq` gate's "persisted ≡ in-memory at nprobe = nlist"
    * equivalence can never drift apart (the same discipline as
    * [[Quantize.shortlistRerank]] for the ADC paths, whose shortlist
    * score/direction differ — hamming ASC here, cosine DESC there).
    *
    * `cands` carries (query_id, match_id, hamming) — SCALARS ONLY: the
    * per-query shortlist window is the one exchange proportional to
    * the candidate count, so it must never haul dim-width float arrays
    * (at dim 1024 that is ~8 KB/candidate versus ~24 B here, more
    * bytes than the float scan the codes exist to avoid). Vectors
    * re-enter through shortlist-sized joins against `queries` /
    * `fullVectors` for the exact cosine re-rank. */
  private[graft] def hammingShortlistRerank(cands: DataFrame,
      queries: DataFrame, fullVectors: DataFrame,
      id: String, vec: String, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val hw = Window.partitionBy("query_id")
      .orderBy(col("hamming").asc, col("match_id"))
    val short = cands.withColumn("__hr", row_number().over(hw))
      .filter(col("__hr") <= shortlist)
      .select("query_id", "match_id", "hamming")
    val rw = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id"))
    // no broadcast hint on either rejoin: `queries` may be batch-scale
    // (the batch-ANN-join shape) and the shortlist side is per-query
    // bounded — AQE picks the strategy from the materialized sizes
    short
      .join(queries.select(col(id).as("query_id"), col(vec).as("__qv")),
        "query_id")
      .join(fullVectors.select(col(id).as("match_id"), col(vec).as("__cv")),
        "match_id")
      .withColumn("cosine", Dedup.cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"),
        col("hamming"), round(col("cosine"), 6).as("cosine"))
  }
}
