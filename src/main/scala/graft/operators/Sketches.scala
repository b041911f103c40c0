package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable cardinality / frequency / overlap sketches as TABLES.
  *
  * The 100 TB pattern these serve is pre-aggregation: sketch each
  * partition (day, source, shard) ONCE into a tiny register/counter
  * table persisted next to the data, then answer distinct / frequency /
  * overlap questions by merging kilobytes of sketch rows instead of
  * rescanning terabytes of raw data — the Druid/Pinot rollup-cube
  * discipline expressed as plain DataFrame aggregations. Every sketch
  * here is:
  *   - deterministic (md5-derived hashes, no seed, no RNG): the same
  *     input always produces bit-identical sketch rows, so incremental
  *     re-sketches commute with merges and the DuckDB oracle can replay
  *     the registers exactly — the driver hash-gate covers the whole
  *     estimate path, not just an error band;
  *   - mergeable by plain SQL aggregation (max for HLL registers, sum
  *     for CMS counters, min-k for KMV), so rollup across partitions is
  *     one hash-aggregate with map-side partial combine, never a
  *     re-scan;
  *   - bounded: m / depth·width / k rows per group regardless of input
  *     size.
  *
  * Spark-native `approx_count_distinct` / `percentile_approx` remain
  * the right call for one-shot in-query estimates (`ops_approx_distinct`,
  * `rel_approx_quantile`); these operators exist for the sketch-as-data
  * lifecycle those cannot do: persist, union later arrivals, estimate
  * many times. (The reference has no sketch plane; this is part of the
  * beyond-reference large-pipeline surface, like `ext/Dedup`.)
  *
  * Algorithms: Flajolet et al. 2007 (HyperLogLog), Cormode &
  * Muthukrishnan 2005 (count-min), Bar-Yossef et al. 2002 / Beyer et
  * al. 2007 (KMV / bottom-k distinct + Jaccard).
  */
object Sketches {

  /** 2^32 — the hash space of [[hash32]]. */
  val HashSpace: Long = 4294967296L

  /** Uniform 32-bit hash of a value's string form: first 8 hex chars of
    * md5 (engine-portable; same convention as [[HashSplit.bucket]]). */
  def hash32(v: Column, salt: String = ""): Column = {
    val keyed = if (salt.isEmpty) v.cast("string")
      else concat(lit(salt), lit(":"), v.cast("string"))
    conv(substring(md5(keyed), 1, 8), 16, 10).cast("long")
  }

  // ---------------------------------------------------------------- HLL

  /** HyperLogLog register table for `value` within each `groups` cell:
    * one row per (groups…, register) with the max rank observed, where
    * register = 12-bit md5 prefix mod m and rank = leading-zero count
    * (+1) of the NEXT 32 hash bits. `m` must be a power of two ≤ 4096.
    *
    * The output is sparse (registers never hit are absent) and merges
    * across any partitioning of the input by `groupBy(groups, register)
    * .agg(max(rank))` — see [[hllMerge]]. One hash-aggregate over the
    * input; map-side combine caps the shuffle at m rows per task per
    * group. */
  def hllRegisters(df: DataFrame, groups: Seq[String], value: String,
      m: Int = 64): DataFrame = {
    require(m >= 16 && m <= 4096 && (m & (m - 1)) == 0,
      "m must be a power of two in [16, 4096]")
    val h = md5(col(value).cast("string"))
    val reg = conv(substring(h, 1, 3), 16, 10).cast("long") % m
    val w = conv(substring(h, 4, 8), 16, 10).cast("long")
    // rank = 32-bit leading zeros of w, +1. bin() renders without
    // leading zeros on both engines; ltrim makes w=0 explicit (33).
    val rank = lit(33) - length(ltrim(bin(w), "0"))
    df.select(groups.map(col) :+ reg.as("register") :+ rank.as("rank"): _*)
      .groupBy((groups :+ "register").map(col): _*)
      .agg(max("rank").as("rank"))
  }

  /** Merge sketch tables (or coarsen: drop group columns to roll daily
    * sketches up to a total) — registers combine by max. */
  def hllMerge(registers: DataFrame, groups: Seq[String]): DataFrame =
    registers.groupBy((groups :+ "register").map(col): _*)
      .agg(max("rank").as("rank"))

  /** Cardinality estimate per group cell from a register table:
    * harmonic-mean HLL with the standard small-range linear-counting
    * correction (E ≤ 2.5 m with empty registers → m·ln(m/V)). The
    * whole estimate is one aggregation over ≤ m rows per group —
    * sketch-sized work, independent of the original data volume. */
  def hllEstimate(registers: DataFrame, groups: Seq[String],
      m: Int = 64): DataFrame = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    // Σ 2^-rank over present registers + 1.0 per empty register; every
    // term is an exact power of two and the exponent span is < 53 bits,
    // so the double sum is exact and order-independent.
    registers.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("present"),
        sum(pow(lit(0.5), col("rank"))).as("s_hit"))
      .withColumn("zeros", lit(m) - col("present"))
      .withColumn("raw_e",
        lit(alpha * m.toDouble * m) / (col("s_hit") + col("zeros")))
      .withColumn("estimate",
        when(col("raw_e") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("zeros")))
          .otherwise(col("raw_e")))
      .select(groups.map(col) :+ col("present") :+
        round(col("estimate"), 2).as("estimate"): _*)
  }

  // ---------------------------------------------------------------- KMV

  /** Bottom-k (KMV) distinct-value sketch per group: the k smallest
    * 32-bit hashes of the distinct values. Mergeable by re-taking the
    * k smallest of a union. The `row_number <= k` formulation compiles
    * to a WindowGroupLimit plan — each map task keeps only its local
    * bottom-k per group BEFORE the shuffle, so the exchange carries
    * O(k · groups) rows per task, not the distinct set. */
  def kmv(df: DataFrame, groups: Seq[String], value: String,
      k: Int = 256, minDistinctHint: Option[Long] = None): DataFrame = {
    val hashed = df
      .select(groups.map(col) :+ hash32(col(value)).as("h"): _*)
    // Scale valve: the distinct's map-side combine still ships every
    // locally-distinct hash through the first exchange. With a LOWER
    // bound on each cell's distinct count, a pure-projection ceiling
    // filter drops the hashes that cannot reach the bottom-k first:
    // h_k concentrates near k/n·2^32, so a 16× ceiling keeps the
    // result identical up to a e^-Θ(k) tail while shrinking the
    // shuffle by ~n·(1 − 16k/n). Hint too high ⇒ possible recall loss
    // — use a safe lower bound (e.g. yesterday's estimate / 4).
    val pruned = minDistinctHint match {
      case Some(n) if n > 16L * k =>
        hashed.filter(col("h") < lit(kmvCeiling(k, n)))
      case _ => hashed
    }
    val w = Window.partitionBy(groups.map(col): _*).orderBy(col("h"))
    pruned.distinct().withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Hash ceiling for the hinted bottom-k pre-filter: ~16× the expected
    * k-th-smallest hash (k/n·2^32). Multiplies BEFORE dividing — the
    * naive 2^32/n truncates to ZERO once n exceeds the 32-bit hash
    * space (routine at corpus scale) and would filter every hash out;
    * 16k·2^32 fits a long for any k ≤ 2^25. Clamped to [1, 2^32]. */
  private[operators] def kmvCeiling(k: Int, n: Long): Long =
    math.max(1L, math.min(HashSpace, 16L * k * HashSpace / math.max(n, 1L)))

  /** Distinct-cardinality estimate from a KMV sketch: (k−1)·2^32 / h_k
    * when the sketch is full; exact count when fewer than k distinct
    * values were seen (the sketch IS the distinct set then). */
  def kmvEstimate(sk: DataFrame, groups: Seq[String],
      k: Int = 256): DataFrame =
    sk.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_h"), max("h").as("h_max"))
      .select(groups.map(col) :+
        when(col("n_h") < k, col("n_h").cast("double"))
          .otherwise(lit((k - 1).toDouble * HashSpace) / col("h_max"))
          .as("estimate"): _*)
      .withColumn("estimate", round(col("estimate"), 2))

  /** Jaccard-overlap estimate between every pair of group cells from
    * one KMV sketch table: for pair (A,B), merge the two sketches,
    * keep the k smallest of the union, and count how many live in both
    * input sketches — |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)| (Beyer et al.
    * 2007). All work is sketch-sized: the pair join carries ≤ k rows
    * per cell, never touches the raw data. Output:
    * (ga, gb, k_union, n_shared, jaccard_est) for ga < gb. */
  def kmvJaccard(sk0: DataFrame, group: String, k: Int = 256): DataFrame = {
    // the sketch fans out three ways (group list + both pair sides);
    // pinned, its lineage (scan + distinct + window) runs once —
    // lifecycle shared with the Dedup pin scopes
    val sk = graft.ext.Dedup.pin(sk0)
    val gs = sk.select(col(group)).distinct()
    // group-pair frame (ga < gb): |groups|² rows, broadcast-sized —
    // group cells are dimensions (sources, days), not data
    val pairsG = broadcast(gs.select(col(group).as("ga"))
      .join(gs.select(col(group).as("gb")), col("ga") < col("gb")))
    val a = pairsG.join(sk.withColumnRenamed(group, "ga"), Seq("ga"))
      .select(col("ga"), col("gb"), col("h"), lit(1).as("in_a"))
    val b = pairsG.join(sk.withColumnRenamed(group, "gb"), Seq("gb"))
      .select(col("ga"), col("gb"), col("h"), lit(1).as("in_b"))
    val u = a.join(b, Seq("ga", "gb", "h"), "full_outer")
      .na.fill(0, Seq("in_a", "in_b"))
    // bottom-k of each pair's union (WindowGroupLimit prunes map-side)
    val w = Window.partitionBy("ga", "gb").orderBy("h")
    u.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("k_union"),
        sum(col("in_a") * col("in_b")).as("n_shared"))
      .withColumn("jaccard_est",
        round(col("n_shared").cast("double") / col("k_union"), 6))
  }

  // ------------------------------------------------------------- SAMPLE

  /** Deterministic value-sample sketch — the quantile/distribution
    * member of the sketch family: keep the rows whose md5 row-key
    * bucket falls under `rate`·2^32 and project `keep`. Mergeable by
    * plain UNION across partitions/loads (row keys are disjoint),
    * NESTED as `rate` grows (sample(0.1) ⊆ sample(0.2) — re-sketching
    * at higher fidelity keeps every stored row), and deterministic, so
    * an external engine replays the exact sample. Quantile estimates
    * come from running exact percentiles over the sketch rows
    * ([[graft.operators.Percentiles]]) — sample-rank error
    * O(1/√(rate·n)). */
  def sampleSketch(df: DataFrame, keep: Seq[String], rowKey: Column,
      rate: Double): DataFrame = {
    require(rate > 0.0 && rate <= 1.0, "rate must be in (0,1]")
    df.filter(HashSplit.bucket(rowKey) < math.round(rate * HashSpace))
      .select(keep.map(col): _*)
  }

  // ---------------------------------------------------------------- CMS

  /** Count-min counter table over `value`: depth × width counters,
    * counter (j, idx) = number of rows whose j-th salted hash lands on
    * idx. One explode(×depth) + hash-aggregate; map-side combine caps
    * the shuffle at depth·width rows per task, so the exchange cost is
    * the sketch size, not the data size. Counters merge across
    * partitions/arrivals by summing on (j, idx). */
  def cmsCounters(df: DataFrame, value: String, depth: Int = 4,
      width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16, "cms shape")
    // the j-th hash row salts md5 with j, so depth rows are independent
    df.select(col(value).cast("string").as("__v"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"), col("__v"))
      .select(col("j"),
        (conv(substring(md5(concat(col("j"), lit(":"), col("__v"))), 1, 8),
          16, 10).cast("long") % width).as("idx"))
      .groupBy("j", "idx").agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for `keys` against a counter table:
    * est(key) = min over rows j of counter[j][hash_j(key)] — an upper
    * bound on the true count (collisions only add). `keys` is a small
    * frame with column `key`; the join is sketch-sized and broadcast.
    */
  def cmsEstimate(counters: DataFrame, keys: DataFrame, depth: Int = 4,
      width: Int = 256): DataFrame = {
    val probes = keys.select(col("key"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"), col("key"))
      .select(col("key"), col("j"),
        (conv(substring(md5(concat(col("j"), lit(":"), col("key").cast("string"))),
          1, 8), 16, 10).cast("long") % width).as("idx"))
    probes.join(broadcast(counters), Seq("j", "idx"), "left")
      .na.fill(0, Seq("cnt"))
      .groupBy("key").agg(min("cnt").as("cms_est"))
  }

  // -------------------------------------------------------------- BLOOM

  /** Bloom bit table over `value`: k salted md5 hashes per value each
    * set one of m bits; output = the distinct set bits (≤ m rows —
    * sketch-sized, persistable, mergeable by union+distinct). The
    * "have we ever seen this fingerprint/URL?" membership sketch: at 100 TB the bit table answers the question
    * without touching the corpus (one-sided error — false positives
    * only — so a hit falls back to an exact corpus lookup, a miss is
    * definitive). One explode(×k) + distinct; map-side partial
    * aggregation caps the shuffle at m rows per task. */
  def bloomBits(df: DataFrame, value: String, m: Int = 4096,
      k: Int = 4): DataFrame = {
    require(m >= 64 && m <= (1 << 24) && (m & (m - 1)) == 0, "m: power of two")
    require(k >= 1 && k <= 8, "k in [1, 8]")
    df.select(col(value).cast("string").as("__v"))
      .select(explode(sequence(lit(0), lit(k - 1))).as("j"), col("__v"))
      .select((conv(substring(md5(concat(col("j"), lit("#"), col("__v"))),
        1, 8), 16, 10).cast("long") % m).as("bit"))
      .distinct()
  }

  /** Membership probes against a bit table: might_contain(v) ⇔ all k
    * bits of v are set. Output: one row per distinct probe value
    * (value, might_contain). The bit table rides a broadcast; the
    * probe side is a projection + explode(×k) — no corpus access. */
  def bloomMightContain(bits: DataFrame, probes: DataFrame, value: String,
      m: Int = 4096, k: Int = 4): DataFrame =
    probes.select(col(value).cast("string").as("__v")).distinct()
      .select(explode(sequence(lit(0), lit(k - 1))).as("j"), col("__v"))
      .select(col("__v"),
        (conv(substring(md5(concat(col("j"), lit("#"), col("__v"))),
          1, 8), 16, 10).cast("long") % m).as("bit"))
      .join(broadcast(bits.withColumn("__hit", lit(1))), Seq("bit"), "left")
      .groupBy("__v")
      .agg((count(col("__hit")) === k).as("might_contain"))
      .select(col("__v").as(value), col("might_contain"))
}
