package graft.normalize

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Schemaless-JSON ingestion: distributed schema inference + typed parse.
  *
  * The reference infers schema row-by-row during normalize
  * (dlt/normalize/items_normalizers/jsonl.py:217-260); on a columnar engine
  * the same evolution contract is applied per micro-batch (SURVEY §1.3):
  * one distributed inference pass over the batch, then a vectorized
  * `from_json` with the merged schema.
  */
object JsonIngest {

  /** Parse a dataset of JSON documents with inferred schema. */
  def parse(spark: SparkSession, json: Dataset[String]): DataFrame =
    spark.read.json(json)

  /** Infer the schema of a JSON string column and replace it with the
    * parsed struct (named `column`).
    *
    * Inference runs over a DETERMINISTIC HASH-SAMPLE of the documents
    * ([[inferenceSample]], default cap 10k docs), not the full corpus:
    * row-by-row inference over every document is a full-corpus job at
    * 100 TB, while the reference only ever infers over the batch it is
    * normalizing (jsonl.py:217-260). The parse itself stays one
    * vectorized full scan. Fields that appear ONLY outside the sample
    * are dropped by `from_json` for this batch — the same
    * batch-evolution contract as the reference, where a later batch
    * widens the schema. Tables under a frozen/evolve-strict contract
    * should pass `sampleCap = Long.MaxValue`, so every document
    * participates at full-scan inference cost. */
  def parseColumn(df: DataFrame, column: String, sampleCap: Long = 10000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = spark.read.json(inferenceSample(df, column, sampleCap).as[String]).schema
    df.withColumn(column, from_json(col(column), schema))
  }

  /** The documents [[parseColumn]] infers from: all of them when the
    * frame holds at most `sampleCap`, else a deterministic md5-bucket
    * fraction of ~`sampleCap` docs ([[graft.operators.HashSplit.sample]]
    * keyed by the document text — stable across re-runs and cluster
    * sizes, unlike `df.sample`). Exposed so specs can assert what the
    * inference actually read. The sizing count is a single-column count,
    * ~10x cheaper than a row-by-row JSON inference pass. */
  def inferenceSample(df: DataFrame, column: String, sampleCap: Long = 10000L): DataFrame = {
    val docs = df.select(col(column)).filter(col(column).isNotNull)
    val n = docs.count()
    if (n <= sampleCap) docs
    else {
      // no-silent-caps: a field dropped because it never entered the
      // sample must be diagnosable from the logs
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"JSON schema inference sampling ~$sampleCap of $n documents of " +
          s"'$column'; fields appearing only outside the sample are dropped " +
          "this batch (sampleCap = Long.MaxValue scans every document)")
      graft.operators.HashSplit.sample(docs, column, sampleCap.toDouble / n)
    }
  }

  /** Parse a JSON string column into Spark 4's `VariantType` — the
    * schemaless document kept queryable without an inference pass
    * (SURVEY §1.2 maps the dlt `json` type here). Fields come back out
    * with `variant_get(v, "$.path", type)`; unlike [[parseColumn]] this
    * is ONE scan and tolerates heterogeneous rows. */
  def parseVariantColumn(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, parse_json(col(column)))

  /** Full schemaless path: JSON documents → normalized table map. */
  def normalize(spark: SparkSession, json: Dataset[String], rootTable: String,
                cfg: NormalizeConfig): Map[String, DataFrame] =
    Normalizer.normalize(parse(spark, json), rootTable, cfg)
}
