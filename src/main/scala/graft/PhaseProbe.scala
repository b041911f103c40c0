package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase-level wall timing of the vector-collection gate composition
  * (write → append → rebalance → probe), the measure-first drill-down
  * for the sim_* generation family. Usage: runMain graft.PhaseProbe
  * <sfDir> [reps].
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.write.{TableStore, VectorSink}
    def time[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    (1 to reps).foreach { rep =>
      println(s"=== rep $rep")
      val store = new TableStore(graft.queries.Scratch.dir("graft-pprobe"), spark)
      val vecs = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      time("ivfTrain(solo)")(graft.ext.Similarity.ivfTrain(
        even, "vec_id", "embedding", nlist = 8, seed = 42L, trainFraction = 0.25))
      time("pqTrain(solo)")(graft.ext.Pq.train(
        even, "vec_id", "embedding", m = 4, ksub = 4, iters = 2))
      time("writeIvfPq")(VectorSink.writeIvfPq(store, "emb", even,
        "vec_id", "embedding", nlist = 8, m = 4, ksub = 4, iters = 2))
      time("append")(VectorSink.append(store, "emb", blob, "vec_id", "embedding"))
      time("rebalance")(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
        fullVectors = Some(even.unionByName(blob)), maxSkew = 1.0))
      val g1 = time("generationAt")(VectorSink.generationAt(store, "emb", 1L))
      time("probe")(VectorSink.topKPqGen(store, "emb", g1, even,
        even.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 8, shortlist = 20)
        .withColumn("gens", lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank").queryExecution.toRdd.count())
      graft.queries.Scratch.sweep()
    }
    spark.stop()
  }
}
