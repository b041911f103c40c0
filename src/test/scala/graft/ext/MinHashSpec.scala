package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.write.TableStore

/** MinHash keeps one row per document: the signature kernel over each
  * document's shingle-hash array must band exactly as the exploded
  * `min(xxhash64(shingle, p))` aggregate did, so an index persisted by
  * that formula keeps matching. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, Some("the quick brown fox jumps over the lazy dog tonight")),
    (2L, Some("two words")), // shorter than n: one whole-text shingle
    (3L, Some("")),
    (4L, Some("   \t ")),
    (5L, None), // no shingles, no band rows
    (6L, Some("a b c a b c a b c a b c")), // repeated shingles
    (7L, Some("The  Quick brown FOX jumps over the lazy dog tonight")),
    (8L, Some("spark engines shuffle data between executors by key"))
  ).toDF("doc_id", "text")

  /** The band rows of the exploded formula, re-derived here. */
  private def formulaBands(frame: DataFrame, sig: MinHash): DataFrame = {
    val r = sig.perms / sig.bands
    val agg = Dedup.shingleIndex(frame, "doc_id", "text", sig.n).groupBy("_id")
      .agg(min(xxhash64(col("shingle"), lit(0))).as("h0"),
        (1 until sig.perms).map(p => min(xxhash64(col("shingle"), lit(p))).as(s"h$p")): _*)
    agg.select(col("_id"), posexplode(array((0 until sig.bands).map(b =>
        xxhash64((lit(b) +: (0 until r).map(i => col(s"h${b * r + i}"))): _*)): _*))
      .as(Seq("band", "bucket")))
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("_id", "band", "bucket").as[(Long, Int, Long)].collect().toSet

  private def kernelBands(sig: MinHash): Set[(Long, Int, Long)] =
    rows(sig.banded(sig.hashed(docs, "doc_id", "text")))

  test("the signature kernel's band rows equal the exploded min(xxhash64(shingle, p)) formula") {
    for (sig <- Seq(MinHash(), MinHash(n = 2, perms = 12, bands = 4))) {
      val want = rows(formulaBands(docs, sig))
      assert(want.map(_._1) === Set(1L, 2L, 3L, 4L, 6L, 7L, 8L))
      assert(kernelBands(sig) === want, s"$sig")
    }
  }

  test("the kernel bands the same with whole-stage codegen on and off") {
    val on = kernelBands(MinHash())
    val off = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      kernelBands(MinHash())
    }
    assert(off === on)
    assert(off.size === 7 * MinHash().bands)
  }

  test("an index whose band rows carry the exploded formula returns the same checkBatch pairs") {
    val corpus = docs.filter(col("doc_id") =!= 5L)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "two words"),
      (12L, "a b c a b c a b c a b c a b c"),
      (13L, "nothing here matches anything indexed")
    ).toDF("doc_id", "text")
    def check(store: TableStore) = Dedup.withPins(
      IncrementalDedup.checkBatch(store, "c", batch, "doc_id", "text", threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet)
    val current = new TableStore(Files.createTempDirectory("graft-mh").toString, spark)
    IncrementalDedup.indexCorpus(current, "c", corpus, "doc_id", "text")
    val formula = new TableStore(Files.createTempDirectory("graft-mh").toString, spark)
    formula.overwrite("c__minhash_meta", Seq((3, 64, 16)).toDF("n", "perms", "bands"))
    formula.append("c", corpus.select(col("doc_id").as("_id"), col("text").as("_text")))
    formula.append("c__minhash_bands", formulaBands(corpus, MinHash()))
    assert(rows(current.read("c__minhash_bands")) === rows(formula.read("c__minhash_bands")))
    val pairs = check(formula)
    assert(pairs === check(current))
    assert(pairs.map(p => (p._1, p._2)) === Set((10L, 1L), (10L, 7L), (11L, 2L), (12L, 6L)))
  }

  test("Dedup.pairs of a small frame under MinHash costs at most 15 Spark jobs") {
    val (pairs, jobs) = countJobs(Dedup.withPins(
      Dedup.pairs(docs, "doc_id", "text", MinHash(), threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet))
    assert(pairs === Set((1L, 7L), (3L, 4L)))
    assert(jobs <= 15, s"Dedup.pairs ran $jobs Spark jobs")
  }
}
