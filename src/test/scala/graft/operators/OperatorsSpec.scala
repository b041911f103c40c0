package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // --- as-of join ----------------------------------------------------

  private def trades = Seq(
    ("A", 10L, "t1"), ("A", 20L, "t2"), ("A", 5L, "t0"), ("B", 10L, "t3"))
    .toDF("k", "ts", "trade")

  private def quotes = Seq(
    ("A", 8L, 100.0), ("A", 10L, 101.0), ("A", 15L, 102.0), ("B", 30L, 200.0))
    .toDF("k", "qts", "px")

  test("asof backward picks the latest right row at or before each left ts") {
    val out = AsofJoin.backward(trades, quotes, Seq("k"), "ts", "qts")
      .orderBy("k", "ts")
      .select("k", "ts", "trade", "matched_qts", "matched_px")
      .as[(String, Long, String, Option[Long], Option[Double])].collect().toSeq
    assert(out === Seq(
      ("A", 5L, "t0", None, None),              // nothing at or before 5
      ("A", 10L, "t1", Some(10L), Some(101.0)), // inclusive: qts=10 visible
      ("A", 20L, "t2", Some(15L), Some(102.0)),
      ("B", 10L, "t3", None, None)))            // B's only quote is later
  }

  test("asof strict excludes the equal-ts right row") {
    val out = AsofJoin.backward(trades, quotes, Seq("k"), "ts", "qts",
      strict = true)
      .filter(col("ts") === 10L && col("k") === "A")
      .select("matched_qts").as[Option[Long]].head()
    assert(out === Some(8L)) // qts=10 invisible under <
  }

  test("asof ties on (key, ts) resolve to the greatest payload deterministically") {
    val dupQuotes = quotes.unionByName(Seq(("A", 15L, 150.0)).toDF("k", "qts", "px"))
    val out = AsofJoin.backward(trades, dupQuotes, Seq("k"), "ts", "qts")
      .filter(col("ts") === 20L).select("matched_px").as[Double].head()
    assert(out === 150.0) // struct-lexicographic max of (15, 102.0)/(15, 150.0)
  }

  test("asof carries a later right row wholesale even with null fields") {
    val withNull = Seq(("A", 8L, Some(100.0)), ("A", 9L, None))
      .toDF("k", "qts", "px")
    val out = AsofJoin.backward(trades.filter(col("ts") === 10L), withNull,
      Seq("k"), "ts", "qts")
      .select("matched_qts", "matched_px")
      .as[(Option[Long], Option[Double])].head()
    assert(out === ((Some(9L), None))) // the 9L row wins, null px and all
  }

  test("asof forward picks the earliest right row at or after each left ts") {
    val out = AsofJoin.forward(trades, quotes, Seq("k"), "ts", "qts")
      .orderBy("k", "ts")
      .select("k", "ts", "matched_qts")
      .as[(String, Long, Option[Long])].collect().toSeq
    assert(out === Seq(
      ("A", 5L, Some(8L)),   // next quote after 5
      ("A", 10L, Some(10L)), // inclusive
      ("A", 20L, None),      // nothing after 20
      ("B", 10L, Some(30L))))
  }

  test("range join with equi-keys scopes intervals per entity") {
    val p = Seq((1L, "u1", 100L), (2L, "u2", 100L)).toDF("pid", "u", "pts")
    val i = Seq((10L, "u1", 50L, 150L)).toDF("iid", "u", "s", "e")
    val out = RangeJoin.pointsInIntervals(p, i, "pts", "s", "e",
      binWidth = 50L, keys = Seq("u"))
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 10L))) // u2's point matches no u2 interval
  }

  test("asof plans as one shuffle — no nested-loop or broadcast join") {
    val plan = AsofJoin.backward(trades, quotes, Seq("k"), "ts", "qts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Window"))
  }

  // --- sessionize ----------------------------------------------------

  test("sessionize starts a new session after each gap, per key") {
    val ev = Seq(
      ("u1", 0L), ("u1", 100L), ("u1", 1000L), ("u1", 1050L),
      ("u2", 500L))
      .toDF("k", "ts")
    val out = Sessionize.assign(ev, Seq("k"), "ts", gap = 500L)
      .orderBy("k", "ts").select("k", "ts", "session_seq")
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("u1", 0L, 0L), ("u1", 100L, 0L),     // within gap
      ("u1", 1000L, 1L), ("u1", 1050L, 1L), // 900 > 500 → new session
      ("u2", 500L, 0L)))                    // keys independent
  }

  test("sessionize assigns equal-ts rows to one session deterministically") {
    val ev = Seq(("u", 0L), ("u", 2000L), ("u", 2000L)).toDF("k", "ts")
    val out = Sessionize.assign(ev, Seq("k"), "ts", gap = 500L)
      .select("session_seq").as[Long].collect().toSeq.sorted
    assert(out === Seq(0L, 1L, 1L)) // both ts=2000 rows in session 1
  }

  // --- connected components ------------------------------------------

  test("connected components label every node with its component minimum") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 5L)).toDF("a", "b")
    val out = ConnectedComponents.components(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (5L, 5L), (6L, 5L), (7L, 5L)))
  }

  test("connected components converge on a long chain") {
    // a 12-node path needs multiple propagation rounds
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val out = ConnectedComponents.components(edges, "a", "b")
      .select("component").distinct().as[Long].collect().toSeq
    assert(out === Seq(1L))
  }

  test("size-adaptive components agree with the distributed propagation") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 5L), (9L, 9L))
      .toDF("a", "b")
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (5L, 5L), (6L, 5L), (7L, 5L), (9L, 9L))
    // driver union-find (under threshold)
    val fast = ConnectedComponents.componentsAuto(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(fast === expected)
    // forced distributed fallback (threshold 0) — identical labels
    val dist = ConnectedComponents.componentsAuto(edges, "a", "b",
      collectThreshold = 0L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(dist === expected)
    // string ids order lexicographically on both paths
    val sEdges = Seq(("b", "a"), ("b", "c")).toDF("a", "b")
    assert(ConnectedComponents.componentsAuto(sEdges, "a", "b")
      .orderBy("id").as[(String, String)].collect().toSeq
      === Seq(("a", "a"), ("b", "a"), ("c", "a")))
  }

  test("connected components recompute a lost block") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
    graft.ext.Dedup.withPins {
      val before = persistedRdds
      val out = ConnectedComponents.components(edges, "a", "b").orderBy("id")
      assert(out.as[(Long, Long)].collect().toSeq === expected)
      val made = persistedRdds -- before
      assert(made.nonEmpty, "the rounds' boundaries persisted nothing")
      // every round's blocks are lost: the labels recompute from lineage
      made.foreach(org.apache.spark.LostBlocks.remove)
      assert(out.as[(Long, Long)].collect().toSeq === expected)
    }
  }

  test("interval overlap join matches brute force and emits each pair once") {
    val a = Seq((1L, 0L, 100L), (2L, 250L, 500L), (3L, 900L, 901L))
      .toDF("ia", "sa", "ea")
    val b = Seq((10L, 50L, 260L), (20L, 499L, 600L), (30L, 2000L, 2100L))
      .toDF("ib", "sb", "eb")
    val got = RangeJoin.intervalsOverlap(a, b, "sa", "ea", "sb", "eb",
        binWidth = 64)
      .select("ia", "ib").as[(Long, Long)].collect().toSeq.sorted
    // brute force: [1-10] (0-100 ∩ 50-260), [2-10] (250-500 ∩ 50-260),
    // [2-20] (250-500 ∩ 499-600); inclusive single-point overlap at 499/500
    assert(got === Seq((1L, 10L), (2L, 10L), (2L, 20L)))
  }

  // --- hash split ----------------------------------------------------

  test("hash split is deterministic, total, and roughly proportional") {
    val ids = spark.range(10000).toDF("id")
    val a = HashSplit.assign(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = a.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 10000L)
    assert(counts("train") > 7500 && counts("train") < 8500)
    assert(counts("val") > 700 && counts("val") < 1300)
    // re-evaluation assigns identically (pure function of the id)
    val b = HashSplit.assign(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(a.join(b.withColumnRenamed("split", "s2"), "id")
      .filter(col("split") =!= col("s2")).isEmpty)
  }

  test("hash samples are nested: sample(0.1) is a subset of sample(0.3)") {
    val ids = spark.range(5000).toDF("id")
    val small = HashSplit.sample(ids, "id", 0.1)
    val large = HashSplit.sample(ids, "id", 0.3)
    assert(small.join(large, Seq("id"), "left_anti").isEmpty)
    assert(small.count() > 300 && small.count() < 700)
  }

  test("stratified sample applies per-stratum rates, nested within a stratum") {
    val rows = spark.range(6000)
      .select(col("id"), (col("id") % 3).cast("string").as("s"))
    val kept = HashSplit.stratifiedSample(rows, "id", "s",
      Map("0" -> 1.0, "1" -> 0.2), defaultRate = 0.0)
    val counts = kept.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts("0") === 2000L)          // rate 1.0 keeps everything
    assert(counts("1") > 250 && counts("1") < 550) // ~0.2 of 2000
    assert(!counts.contains("2"))          // defaultRate 0 drops the stratum
    // growing a stratum's rate keeps every previously selected row
    val grown = HashSplit.stratifiedSample(rows, "id", "s",
      Map("0" -> 1.0, "1" -> 0.5), defaultRate = 0.0)
    assert(kept.join(grown, Seq("id"), "left_anti").isEmpty)
  }

  test("temperature mix: alpha 0 equalizes, alpha 1 keeps everything") {
    val rows = spark.range(6000)
      .select(col("id"), when(col("id") < 4500, "big").otherwise("small").as("s"))
    val all = HashSplit.temperatureMix(rows, "id", "s", alpha = 1.0)
    assert(all.count() === 6000L) // rate (min/n)^0 = 1 everywhere
    val eq = HashSplit.temperatureMix(rows, "id", "s", alpha = 0.0)
    val eqViaMin = HashSplit.equalizeMix(rows, "id", "s")
    assert(eq.select("id").as[Long].collect().sorted.toSeq
      === eqViaMin.select("id").as[Long].collect().sorted.toSeq)
    // alpha between: big stratum lands between its equalized and full size
    val midDf = HashSplit.temperatureMix(rows, "id", "s", alpha = 0.5)
    val mid = midDf.filter(col("s") === "big").count()
    assert(mid > eq.filter(col("s") === "big").count() && mid < 4500L)
    // membership nests as alpha grows (rates only increase)
    assert(eq.join(midDf, Seq("id"), "left_anti").isEmpty)
  }

  test("domain cap keeps at most N docs per domain, highest rank first") {
    val rows = Seq(
      ("d1", 1L, 10L), ("d1", 2L, 30L), ("d1", 3L, 20L),
      ("d2", 4L, 5L)).toDF("dom", "id", "score")
    val capped = HashSplit.domainCap(rows, "id", "dom", cap = 2, rankBy = "score")
      .orderBy("dom", "id").select("dom", "id").as[(String, Long)].collect().toSeq
    // d1 keeps its two highest scores (30, 20 → ids 2, 3); d2 under cap
    assert(capped === Seq(("d1", 2L), ("d1", 3L), ("d2", 4L)))
  }

  // --- range join ----------------------------------------------------

  private def pts = Seq((1L, 5L), (2L, 100L), (3L, 250L), (4L, 999L))
    .toDF("pid", "pts")

  private def ivals = Seq((10L, 0L, 120L), (20L, 90L, 260L), (30L, 500L, 600L))
    .toDF("iid", "s", "e")

  test("range join matches points to every containing interval") {
    val out = RangeJoin.pointsInIntervals(pts, ivals, "pts", "s", "e",
      binWidth = 50L)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq.sorted
    assert(out === Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)))
  }

  test("range join bounds are inclusive and bins do not duplicate pairs") {
    val edge = Seq((1L, 0L), (2L, 120L), (3L, 121L)).toDF("pid", "pts")
    val out = RangeJoin.pointsInIntervals(edge,
      ivals.filter(col("iid") === 10L), "pts", "s", "e", binWidth = 7L)
      .groupBy("pid").count().as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L)) // 0 and 120 in, 121 out, no dups
  }

  // --- sequence packing ----------------------------------------------

  test("sequence packing matches the naive global prefix sum") {
    val docs = Seq((0L, 100L), (1L, 500L), (2L, 0L), (3L, 2048L), (4L, 1L),
      (5L, 300L), (10L, 700L), (17L, 2047L), (64L, 5L), (99L, 9L))
      .toDF("doc_id", "n")
    val out = SequencePack.chunkAssignments(docs, "doc_id", "n",
      budget = 1024L, bucketSize = 4L)
      .orderBy("doc_id")
      .select("doc_id", "tok_offset", "first_chunk", "last_chunk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // naive reference: running sum in doc_id order
    val lens = Seq(0L -> 100L, 1L -> 500L, 2L -> 0L, 3L -> 2048L, 4L -> 1L,
      5L -> 300L, 10L -> 700L, 17L -> 2047L, 64L -> 5L, 99L -> 9L)
    val expected = lens.scanLeft(0L)(_ + _._2).zip(lens).map {
      case (off, (id, n)) =>
        (id, off, off / 1024L, (off + math.max(n, 1L) - 1L) / 1024L)
    }
    assert(out === expected)
  }

  test("sequence packing spans chunk boundaries and zero-length docs correctly") {
    val docs = Seq((1L, 10L), (2L, 0L), (3L, 10L)).toDF("doc_id", "n")
    val out = SequencePack.chunkAssignments(docs, "doc_id", "n",
      budget = 16L, bucketSize = 2L)
      .orderBy("doc_id").select("tok_offset", "first_chunk", "last_chunk")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 3 starts at offset 10 and crosses into chunk 1; the empty doc
    // occupies (only) its start chunk
    assert(out === Seq((0L, 0L, 0L), (10L, 0L, 0L), (10L, 0L, 1L)))
  }

  test("range join plans as a hash join on the bin key") {
    val plan = RangeJoin.pointsInIntervals(pts, ivals, "pts", "s", "e", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  // --- distributed exact percentiles ---------------------------------

  import Percentiles.QuantileSpec

  test("grouped quantiles are bit-equal to Spark's percentile aggregate") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ours = Percentiles.groupQuantiles(li, Seq("l_returnflag"), Seq(
        QuantileSpec("l_extendedprice", 0.5, "med"),
        QuantileSpec("l_extendedprice", 0.95, "p95"),
        QuantileSpec("l_quantity", 0.25, "q1")))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect().toSeq
    val builtin = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), lit(0.5)).as("med"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95"),
        percentile(col("l_quantity"), lit(0.25)).as("q1"))
      .orderBy("l_returnflag")
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(ours === builtin) // exact ==, not tolerance: same double formula
  }

  test("quantiles handle single-row groups, nulls and exact positions") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(2.0)), ("a", None),
      ("b", Some(42.0)),
      ("c", Some(10.0)), ("c", Some(20.0)))
      .toDF("k", "v")
    val out = Percentiles.groupQuantiles(df, Seq("k"),
        Seq(QuantileSpec("v", 0.5, "med"), QuantileSpec("v", 1.0, "hi")))
      .orderBy("k").as[(String, Double, Double)].collect().toSeq
    // a: nulls ignored → {1,2,3}, median lands exactly on 2; b: n=1;
    // c: median interpolates halfway
    assert(out === Seq(("a", 2.0, 3.0), ("b", 42.0, 42.0), ("c", 15.0, 20.0)))
  }

  test("weighted sample: survival ∝ weight, nested in target, positive-only") {
    val df = (1L to 4000L).map(i => (i, (i % 4 + 1).toDouble))
      .toDF("id", "w")
    val kept = HashSplit.weightedSample(df, "id", "w", target = 0.25)
      .select("id", "w").as[(Long, Double)].collect()
    // mean weight 2.5 → keep prob 0.1·w: rates per class ≈ 0.1, 0.2,
    // 0.3, 0.4 (1000 rows each; ±4 sigma tolerance)
    val byW = kept.groupBy(_._2).view.mapValues(_.length).toMap
    for (w <- 1 to 4) {
      val rate = byW.getOrElse(w.toDouble, 0) / 1000.0
      assert(math.abs(rate - 0.1 * w) < 0.05, s"w=$w rate=$rate")
    }
    // nested: raising the target only ADDS members
    val lo = HashSplit.weightedSample(df, "id", "w", 0.15)
      .select("id").as[Long].collect().toSet
    val hi = HashSplit.weightedSample(df, "id", "w", 0.35)
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
    // null / zero / negative weights never survive — and never SKEW:
    // the mean is over eligible rows only, so junk weights cannot
    // deflate (or, negative, invert) everyone else's keep probability
    val edge = Seq((1L, Some(0.0)), (2L, Some(-3.0)),
      (3L, None: Option[Double]), (4L, Some(5.0))).toDF("id", "w")
    assert(HashSplit.weightedSample(edge, "id", "w", 1.0)
      .select("id").as[Long].collect().toSeq === Seq(4L))
    val negHeavy = Seq((1L, -10.0), (2L, -10.0), (3L, 1.0), (4L, 1.0))
      .toDF("id", "w")
    assert(HashSplit.weightedSample(negHeavy, "id", "w", 1.0)
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L),
      "a full-frame mean (-4.5) would have made the threshold negative")
  }

  test("quantile plan has one exchange and no value-map aggregation") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val plan = Percentiles.groupQuantiles(li, Seq("l_returnflag"),
        Seq(QuantileSpec("l_extendedprice", 0.5, "med")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"percentile must not buffer value maps:\n$plan")
    assert(plan.contains("Window"), s"expected the sort-based path:\n$plan")
  }
}
