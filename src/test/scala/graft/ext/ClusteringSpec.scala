package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.Exchange

/** Lloyd's k-means semantics on hand fixtures: convergence to the true
  * partition, first-index tie-break, empty-cluster carry-over, and the
  * map-only (no shuffle, no join) shape of the assignment pass. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "embedding")

  test("two well-separated groups converge to the true partition") {
    val v = vecs(
      0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 0.0),
      3L -> Seq(10.0, 10.0), 4L -> Seq(10.0, 11.0), 5L -> Seq(11.0, 10.0))
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(0L) === out(1L) && out(1L) === out(2L))
    assert(out(3L) === out(4L) && out(4L) === out(5L))
    assert(out(0L) !== out(3L))
  }

  test("equidistant vectors break ties to the lowest cluster index") {
    // centroids stay at (0,0) and (2,0); (1,0) is equidistant → cluster 0
    val v = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(2.0, 0.0), 2L -> Seq(1.0, 0.0))
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(2L) === 0)
  }

  test("an emptied cluster keeps its previous centroid (no crash, k holds)") {
    // init seeds clusters 0 and 1 on the SAME point: cluster 1 never
    // wins a tie, so it empties immediately and must carry its centroid
    val v = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 0.0), 2L -> Seq(5.0, 5.0), 3L -> Seq(5.0, 6.0))
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out(0L) === 0 && out(1L) === 0)
    assert(out(2L) === 2 && out(3L) === 2)
  }

  test("distances are euclidean to the winning centroid, rounded") {
    val v = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 2.0))
    // k=1: centroid converges to the mean (0,1); both dists = 1.0
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 1, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.toSeq === Seq((0L, 1.0), (1L, 1.0)))
  }

  test("k larger than the corpus lowers the effective k; empty input is loud") {
    val v = vecs(0L -> Seq(0.0, 0.0), 1L -> Seq(9.0, 9.0))
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 5, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out === Map(0L -> 0, 1L -> 1))
    val empty = vecs()
    val e = intercept[IllegalArgumentException] {
      Clustering.lloydAssign(empty, "vec_id", "embedding", k = 2, iters = 1)
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("semanticPairs: within-cluster pairs only (the SemDeDup trade)") {
    // all four colinear → every cosine is 1.0, but k-means separates the
    // two magnitude groups, so only within-cluster pairs survive
    val v = vecs(
      0L -> Seq(0.9, 0.0), 1L -> Seq(1.1, 0.0),
      2L -> Seq(90.0, 0.0), 3L -> Seq(110.0, 0.0))
    val out = Dedup.semanticPairs(v, "vec_id", "embedding",
      k = 2, iters = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(out === Set((0L, 1L, 1.0), (2L, 3L, 1.0)))
  }

  test("matrix argmin path is byte-identical to the literal-array path") {
    // pinned inside a scope, so both paths run as compiled plans over a
    // cached input instead of being folded into a local relation
    Dedup.withPins {
      val v = Dedup.pin(vecs(
        0L -> Seq(0.0, 0.0), 1L -> Seq(0.3, 0.9), 2L -> Seq(1.0, 0.0),
        3L -> Seq(5.0, 5.0), 4L -> Seq(2.5, 2.5), 5L -> Seq(1.0, 1.0))
        .selectExpr("vec_id as __id", "cast(embedding as array<double>) as __e"))
      val cents = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(2.5, 2.5))
      def run(force: Boolean) = Clustering.assign(v, cents, forceMatrix = force)
        .select("__id", "__cl", "__d").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1).toSeq
      assert(run(force = true) === run(force = false))
    }
  }

  test("k=1024 assignment plan carries no 1024-wide expression array") {
    // consumed inside a pin scope, like any lazy generator: the pinned
    // input is what keeps the optimizer from folding the whole
    // assignment into a local relation
    Dedup.withPins {
      val many = (0L until 1100L).map(i =>
        (i, Seq((i % 37).toDouble, (i % 11).toDouble))).toDF("vec_id", "embedding")
      val out = Clustering.lloydAssign(many, "vec_id", "embedding",
        k = 1024, iters = 1)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("graft_centroid_argmin"), s"matrix path not taken:\n${plan.take(2000)}")
      assert(!plan.contains("graft_sqdist"), "literal-array path leaked into a k>threshold plan")
      // the plan string itself must stay small — the matrix rides as a
      // reference object, not as k inlined literals
      assert(plan.length < 100000, s"plan blew up: ${plan.length} chars")
      assert(out.limit(5).count() === 5)
    }
  }

  test("the assignment pass is map-only: no exchange below the final sort") {
    val v = vecs(
      0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 1.0),
      2L -> Seq(10.0, 10.0), 3L -> Seq(10.0, 11.0))
    val out = Clustering.lloydAssign(v, "vec_id", "embedding", k = 2, iters = 1)
    // one exchange for the presentation orderBy is allowed; the argmin
    // itself must not shuffle or join
    val plan = out.queryExecution.executedPlan
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.size <= 1, s"assignment shuffled:\n$plan")
    assert(!plan.toString.contains("Join"), s"assignment joined:\n$plan")
  }
}
