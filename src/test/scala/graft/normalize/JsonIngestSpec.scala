package graft.normalize

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sample-based JSON schema inference (reference infers per normalized
  * batch, dlt/normalize/items_normalizers/jsonl.py:217-260 — never over
  * the whole corpus; here the batch analog is a deterministic
  * hash-sample). */
class JsonIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) =
    (1 to n).map(i => (i, s"""{"k":"v$i","n":$i}""")).toDF("id", "js")

  test("inference input IS the hash-sample, not the corpus") {
    val df = docs(2000)
    val sample = JsonIngest.inferenceSample(df, "js", sampleCap = 200L)
    val sampled = sample.count()
    // ~200 of 2000 docs pass the md5-bucket threshold; the exact set is
    // deterministic (re-evaluating yields the same rows)
    assert(sampled < 600, s"sample should be ~200 docs, was $sampled")
    assert(sampled > 20, s"sample should be ~200 docs, was $sampled")
    assert(JsonIngest.inferenceSample(df, "js", 200L).count() == sampled)
    // every sampled doc satisfies the same bucket predicate HashSplit
    // uses — i.e. the sample really is the hash-sample
    val outside = sample.exceptAll(
      graft.operators.HashSplit.sample(df.select(col("js")), "js", 0.1))
    assert(outside.count() < sampled) // threshold rate = 200/2000 = 0.1
  }

  test("small frames infer over every document") {
    val df = docs(50)
    assert(JsonIngest.inferenceSample(df, "js", 10000L).count() == 50)
  }

  test("sampled parse matches full-inference parse on a uniform corpus") {
    val df = docs(3000)
    val sampled = JsonIngest.parseColumn(df, "js", sampleCap = 100L)
      .select(col("id"), col("js.k"), col("js.n")).orderBy("id")
    val full = JsonIngest.parseColumn(df, "js", sampleCap = Long.MaxValue)
      .select(col("id"), col("js.k"), col("js.n")).orderBy("id")
    assert(sampled.collect().toSeq == full.collect().toSeq)
  }

  test("fields only outside the sample follow batch-evolution semantics") {
    // one rare doc carries an extra field; if the sample misses it the
    // field is dropped for this batch (the reference's per-batch contract:
    // a later batch containing it widens the schema) — parse must not
    // throw and common fields must survive
    val df = (1 to 1000).map(i => (i, s"""{"k":"v$i"}""")).toDF("id", "js")
      .union(Seq((0, """{"k":"v0","rare":true}""")).toDF("id", "js"))
    val out = JsonIngest.parseColumn(df, "js", sampleCap = 50L)
    assert(out.select(col("js.k")).filter(col("js.k").isNotNull).count() == 1001)
  }
}
