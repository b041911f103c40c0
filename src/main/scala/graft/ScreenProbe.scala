package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measure-first harness for the "sign-Hamming screen inside the exact
  * tiled cosine" question (the [[graft.ext.Dedup.embeddingHammingPairs]]
  * vs [[graft.ext.Dedup.embeddingCosinePairsTiled]] trade): at a given
  * cosine `threshold`, for each candidate Hamming budget h —
  *
  *  - `lost_true_pairs`: true cosine-pairs whose sign-Hamming exceeds h.
  *    The screen is admissible INSIDE the exact operator only at 0; any
  *    loss means the budget must be part of the operator's contract
  *    (which is exactly what embeddingHammingPairs is).
  *  - `band_candidates`: pairs admitted by the pigeonhole band join at
  *    budget h — the number of (cheap) Hamming evals a screened path
  *    pays, vs the tiled triangle's n(n−1)/2 (full) cosine evals. The
  *    projected win is the ratio, discounted by the band join's own
  *    shuffle.
  *
  * Usage: runMain graft.ScreenProbe <sfDir> <threshold> <h1,h2,...>
  * (the RecallProbe discipline: a kept tuning harness, not a gate). */
object ScreenProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val threshold = args(1).toDouble
    val budgets = args(2).split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ext.Dedup
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    val n = vecs.count()
    Dedup.withPins {
      val exact = Dedup.pin(Dedup.embeddingCosinePairsTiled(
        vecs, "vec_id", "embedding", threshold))
      val nTrue = exact.count()
      println(f"[screen] n=$n dim=$dim cosine_threshold=$threshold " +
        f"full_triangle=${n * (n - 1) / 2}%d true_pairs=$nTrue%d")
      val coded = Dedup.pin(vecs.select(col("vec_id").as("_id"),
        graft.functions.VectorFunctions.packSignBits(col("embedding"))
          .as("code")))
      budgets.foreach { h =>
        // per-budget pins get their own nested scope; `exact`/`coded`
        // stay pinned in the outer one across every budget
        Dedup.withPins {
          val banded = Dedup.pin(Dedup.bandedWords(
            coded.select("_id", "code"), dim, h))
          val cands = Dedup.bandSelfJoin(banded, Seq("widx", "blk", "blk_val"))
            .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
            .filter(col("id_a") < col("id_b")).distinct().count()
          // pairs satisfying BOTH contracts; true pairs above the budget
          // are exactly what an in-exact-path screen would silently drop
          val kept = Dedup.embeddingHammingPairs(
            vecs, "vec_id", "embedding", threshold, h, dim)
          val nKept = kept.count()
          println(f"[screen] h=$h%3d band_candidates=$cands%10d " +
            f"kept_true_pairs=$nKept%d lost_true_pairs=${nTrue - nKept}%d " +
            f"candidate_cut=${n * (n - 1) / 2.0 / math.max(cands, 1)}%.1fx")
        }
      }
    }
    spark.stop()
  }
}
