package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sketch invariants that the oracle hash-gate cannot see: merge
  * losslessness under arbitrary re-partitioning, estimate error bounds,
  * CMS one-sided error, KMV exact-below-k behavior. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def ids(n: Int, tag: String) =
    (1 to n).map(i => (s"$tag-${i % 7}", s"v$i")).toDF("g", "v")

  test("hll registers merge losslessly across any input split") {
    val df = ids(5000, "a")
    val whole = Sketches.hllRegisters(df, Seq("g"), "v", m = 64)
    // sketch two halves independently, then merge
    val h1 = Sketches.hllRegisters(df.filter(crc32(col("v")) % 2 === 0),
      Seq("g"), "v", m = 64)
    val h2 = Sketches.hllRegisters(df.filter(crc32(col("v")) % 2 === 1),
      Seq("g"), "v", m = 64)
    val merged = Sketches.hllMerge(h1.unionByName(h2), Seq("g"))
    assert(merged.orderBy("g", "register").collect().toSeq ==
      whole.orderBy("g", "register").collect().toSeq)
  }

  test("hll estimate is within the published error band") {
    val df = (1 to 20000).map(i => ("k", s"u$i")).toDF("g", "v")
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(df, Seq("g"), "v", m = 1024), Seq("g"), m = 1024)
      .select("estimate").as[Double].head()
    // rsd = 1.04/sqrt(1024) ≈ 3.25%; allow 4 sigma
    assert(math.abs(est - 20000) / 20000 < 0.13, s"estimate $est")
  }

  test("hll duplicate-blindness: distinct input gives identical registers") {
    val once = ids(300, "x")
    val thrice = once.unionAll(once).unionAll(once)
    assert(
      Sketches.hllRegisters(thrice, Seq("g"), "v", m = 64)
        .orderBy("g", "register").collect().toSeq ==
      Sketches.hllRegisters(once, Seq("g"), "v", m = 64)
        .orderBy("g", "register").collect().toSeq)
  }

  test("kmv below k is the exact distinct set; estimate is exact there") {
    val df = (1 to 40).map(i => ("g", s"u${i % 20}")).toDF("g", "v")
    val sk = Sketches.kmv(df, Seq("g"), "v", k = 64)
    assert(sk.count() == 20)
    val est = Sketches.kmvEstimate(sk, Seq("g"), k = 64)
      .select("estimate").as[Double].head()
    assert(est == 20.0)
  }

  test("kmv with a distinct-count hint prunes without changing the sketch") {
    val df = (1 to 20000).map(i => ("g", s"u${i % 5000}")).toDF("g", "v")
    val plain = Sketches.kmv(df, Seq("g"), "v", k = 128)
      .orderBy("h").collect().toSeq
    val hinted = Sketches.kmv(df, Seq("g"), "v", k = 128,
      minDistinctHint = Some(5000L))
      .orderBy("h").collect().toSeq
    assert(hinted == plain)
    // corpus-scale hints (n beyond the 32-bit hash space): the ceiling
    // must scale down smoothly, never truncate to zero
    assert(Sketches.kmvCeiling(128, 5000L) == math.min(Sketches.HashSpace,
      16L * 128 * Sketches.HashSpace / 5000L))
    assert(Sketches.kmvCeiling(128, 10_000_000_000L) == 879L)
    assert(Sketches.kmvCeiling(128, Long.MaxValue) == 1L)
  }

  test("kmv estimate tracks true cardinality when full") {
    val df = (1 to 10000).map(i => ("g", s"u$i")).toDF("g", "v")
    val est = Sketches.kmvEstimate(
      Sketches.kmv(df, Seq("g"), "v", k = 256), Seq("g"), k = 256)
      .select("estimate").as[Double].head()
    // rsd ≈ 1/sqrt(k-1) ≈ 6.3%; allow 4 sigma
    assert(math.abs(est - 10000) / 10000 < 0.25, s"estimate $est")
  }

  test("kmv jaccard: identical sets -> 1, disjoint -> 0") {
    val a = (1 to 500).map(i => ("a", s"u$i"))
    val same = (1 to 500).map(i => ("b", s"u$i"))
    val disj = (1 to 500).map(i => ("c", s"w$i"))
    val sk = Sketches.kmv((a ++ same ++ disj).toDF("g", "v"),
      Seq("g"), "v", k = 128)
    val j = Sketches.kmvJaccard(sk, "g", k = 128)
      .select("ga", "gb", "jaccard_est").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j(("a", "b")) == 1.0)
    assert(j(("a", "c")) == 0.0)
    assert(j(("b", "c")) == 0.0)
  }

  test("sample sketch: union-mergeable, nested in rate, rank-accurate quantiles") {
    val df = (1 to 20000).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "k", "v")
    val key = col("k").cast("string")
    val s10 = Sketches.sampleSketch(df, Seq("g", "v"), key, 0.1)
    val s20 = Sketches.sampleSketch(df, Seq("g", "v"), key, 0.2)
    // nested: every 10% row is in the 20% sketch
    assert(s10.join(s20, Seq("g", "v"), "left_anti").count() == 0)
    // mergeable by union: sketching two halves = sketching the whole
    val h1 = Sketches.sampleSketch(df.filter(col("k") % 2 === 0), Seq("g", "v"), key, 0.1)
    val h2 = Sketches.sampleSketch(df.filter(col("k") % 2 === 1), Seq("g", "v"), key, 0.1)
    assert(h1.unionByName(h2).orderBy("v").collect().toSeq ==
      s10.orderBy("v").collect().toSeq)
    // the sample median sits near the true median (rank error O(1/sqrt(rate n)))
    val estMed = graft.operators.Percentiles.groupQuantiles(s10, Seq("g"),
      Seq(graft.operators.Percentiles.QuantileSpec("v", 0.5, "m")))
      .select("m").as[Double].head()
    assert(math.abs(estMed - 10000.0) / 10000.0 < 0.05, s"median $estMed")
  }

  test("cms estimates are one-sided: est >= true count, exact for heavy keys") {
    val rows = (1 to 3000).map(i => s"u${i % 50}") ++ Seq.fill(500)("heavy")
    val df = rows.toDF("v")
    val counters = Sketches.cmsCounters(df, "v", depth = 4, width = 512)
    val keys = (0 until 50).map(i => s"u$i").toDF("key")
      .unionByName(Seq("heavy").toDF("key"))
    val est = Sketches.cmsEstimate(counters, keys, depth = 4, width = 512)
      .as[(String, Long)].collect().toMap
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"cms under-counted $k: ${est(k)} < $n")
    }
    assert(est("heavy") == 500L || est("heavy") >= 500L)
  }

  test("cms counters merge by sum across partitioned sketches") {
    val df = (1 to 2000).map(i => s"u${i % 30}").toDF("v")
    val whole = Sketches.cmsCounters(df, "v", depth = 4, width = 128)
    val p1 = Sketches.cmsCounters(df.filter(crc32(col("v")) % 2 === 0),
      "v", depth = 4, width = 128)
    val p2 = Sketches.cmsCounters(df.filter(crc32(col("v")) % 2 === 1),
      "v", depth = 4, width = 128)
    val merged = p1.unionByName(p2).groupBy("j", "idx")
      .agg(sum("cnt").as("cnt"))
    assert(merged.orderBy("j", "idx").collect().toSeq ==
      whole.orderBy("j", "idx").collect().toSeq)
  }

  test("bloom has no false negatives and few false positives") {
    val members = (1 to 300).map(i => s"doc$i").toDF("v")
    val bits = Sketches.bloomBits(members, "v", m = 4096, k = 4)
    val probes = ((1 to 300).map(i => s"doc$i") ++
      (1 to 300).map(i => s"other$i")).toDF("v")
    val verdicts = Sketches.bloomMightContain(bits, probes, "v",
      m = 4096, k = 4).as[(String, Boolean)].collect().toMap
    (1 to 300).foreach(i =>
      assert(verdicts(s"doc$i"), s"false negative on doc$i"))
    val fps = (1 to 300).count(i => verdicts(s"other$i"))
    // m/n ≈ 13.7 bits/element, k=4 -> theoretical FPR ~0.6%; allow 5%
    assert(fps <= 15, s"$fps false positives out of 300")
  }

  test("bloom bit tables merge by union into the whole-set sketch") {
    val a = (1 to 100).map(i => s"a$i").toDF("v")
    val b = (1 to 100).map(i => s"b$i").toDF("v")
    val whole = Sketches.bloomBits(a.unionByName(b), "v", m = 1024, k = 4)
    val merged = Sketches.bloomBits(a, "v", m = 1024, k = 4)
      .union(Sketches.bloomBits(b, "v", m = 1024, k = 4)).distinct()
    assert(merged.orderBy("bit").collect().toSeq ===
      whole.orderBy("bit").collect().toSeq)
  }
}
