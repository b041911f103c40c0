package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding compression: per-dimension int8 scalar quantization — the
  * standard 4× storage cut (float32 → int8) an embedding store applies
  * before vectors land in a collection (pairs with `write/VectorSink`;
  * FAISS's SQ8 is the reference shape).
  *
  * Plan, 100 TB first: ONE distributed stats pass (posexplode →
  * d-key hash aggregate with map-side combine — the shuffle carries
  * partitions × d rows, never the corpus) collapsed to a single row of
  * (mins, maxs) arrays, broadcast onto a map-only projection running
  * the codegen [[graft.functions.QuantizeInt8]] kernel. No join, no
  * second pass, no driver loop.
  */
object Quantize {

  /** Per-dimension (min, max) over the corpus as ONE row of two
    * dim-ordered double arrays. */
  def dimStats(emb: DataFrame, vec: String): DataFrame =
    emb.select(posexplode(col(vec)).as(Seq("__dim", "__x")))
      .groupBy("__dim")
      .agg(min(col("__x").cast("double")).as("__mn"),
        max(col("__x").cast("double")).as("__mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("__dim"), col("__mn")))).as("__a"),
        array_sort(collect_list(struct(col("__dim"), col("__mx")))).as("__b"))
      // one-row frame: the HOF extraction runs once, not per corpus row
      .select(transform(col("__a"), s => s("__mn")).as("mins"),
        transform(col("__b"), s => s("__mx")).as("maxs"))

  /** Quantize every vector to int8 codes against the corpus stats:
    * (id, q array<int>, qsum, max_err). `max_err` is the worst
    * per-element reconstruction error — the quality dial that says
    * whether SQ8 is safe for this corpus or a finer codec is needed. */
  def int8(emb: DataFrame, id: String, vec: String): DataFrame =
    emb.crossJoin(broadcast(dimStats(emb, vec)))
      .select(col(id),
        VectorFunctions.quantizeInt8(col(vec), col("mins"), col("maxs")).as("__s"))
      .select(col(id), col("__s.q").as("q"), col("__s.qsum").as("qsum"),
        round(col("__s.max_err"), 6).as("max_err"))

  /** Quantized-shortlist top-k with exact re-rank — the ADC search
    * pattern a compressed vector store runs: score EVERY corpus vector
    * against the query on its DEQUANTIZED form (the store scans 4×
    * less data), keep a `shortlist`-sized candidate set per query,
    * then fetch ONLY those candidates' full-precision vectors (a
    * point-read join back to the corpus, shortlist-sized) for the
    * exact cosine re-rank. The full vectors never ride the scan —
    * that is the whole memory story at 100 TB. Deterministic ties
    * (score DESC, id) at both stages keep the pipeline
    * oracle-replayable. */
  def rerankTopK(emb: DataFrame, id: String, vec: String,
      queries: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val stats = broadcast(dimStats(emb, vec))
    val deq = emb.crossJoin(stats)
      .select(col(id).as("match_id"),
        VectorFunctions.dequantizeInt8(
          VectorFunctions.quantizeInt8(col(vec), col("mins"), col("maxs"))("q"),
          col("mins"), col("maxs")).as("__deq"))
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("__qv")))
    shortlistRerank(deq.join(q, col("query_id") =!= col("match_id")),
      emb, id, vec, k, shortlist)
  }

  /** The shared ADC tail: `cands` carries (query_id, __qv, match_id,
    * __deq); dequantized-cosine shortlist per query, then exact cosine
    * re-rank against `fullVectors` (point-read join, shortlist-sized).
    * ONE implementation of the tie-break-sensitive rankings
    * ((adc DESC, match_id), then (cosine DESC, match_id)) shared by
    * the in-memory paths and the persisted SQ8/PQ/OPQ probes
    * ([[graft.write.VectorSink.topK]]) — the oracle
    * equivalence of both gates depends on these staying identical. */
  private[graft] def shortlistRerank(cands: DataFrame, fullVectors: DataFrame,
      id: String, vec: String, k: Int, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, "shortlist must cover k")
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("match_id"))
    val short = cands
      .withColumn("adc", Dedup.cosine(col("__qv"), col("__deq")))
      .withColumn("__ar", row_number().over(wa))
      .filter(col("__ar") <= shortlist)
      .select("query_id", "__qv", "match_id")
    val we = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id"))
    short
      .join(fullVectors.select(col(id).as("match_id"), col(vec).as("__cv")),
        "match_id")
      .withColumn("cosine", Dedup.cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(we).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** [[RerankOracleSql]] with a corpus predicate — the generation-probe
    * gate replays the SAME chain over the SUBSET the pinned historical
    * model was trained on (stats + codes + ranks all from that half). */
  def rerankOracleSqlOver(corpusWhere: String): String = {
    val out = RerankOracleSql.replace("FROM embeddings)",
      s"FROM embeddings WHERE $corpusWhere)")
    require(out != RerankOracleSql,
      "rerankOracleSqlOver: anchor 'FROM embeddings)' not found — " +
        "RerankOracleSql was reworded, update the substitution")
    out
  }

  /** DuckDB re-derivation of [[rerankTopK]] (k=5, shortlist=20,
    * queries = vec_id < 10): quantize→dequantize replayed per
    * dimension, ADC shortlist, exact re-rank. */
  val RerankOracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (
      |  SELECT vec_id, unnest(v) AS xv,
      |    unnest(range(1, len(v) + 1)) AS i
      |  FROM e),
      |st AS (SELECT i, min(xv) AS mn, max(xv) AS mx FROM x GROUP BY 1),
      |dq AS (
      |  SELECT vec_id,
      |    list(CASE WHEN mx > mn
      |              THEN mn + CAST(round((xv - mn) / (mx - mn) * 255) AS BIGINT)
      |                   / 255.0 * (mx - mn)
      |              ELSE mn END ORDER BY i) AS deq
      |  FROM x JOIN st USING (i) GROUP BY vec_id),
      |approx AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
      |    list_cosine_similarity(q.v, c.deq) AS adc
      |  FROM e q JOIN dq c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |short AS (
      |  SELECT query_id, match_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY adc DESC, match_id) AS ar
      |  FROM approx),
      |exact AS (
      |  SELECT s.query_id, s.match_id,
      |    list_cosine_similarity(q.v, c.v) AS cs
      |  FROM short s
      |  JOIN e q ON q.vec_id = s.query_id
      |  JOIN e c ON c.vec_id = s.match_id
      |  WHERE s.ar <= 20)
      |SELECT query_id,
      |  row_number() OVER (PARTITION BY query_id
      |                     ORDER BY cs DESC, match_id) AS rank,
      |  match_id, round(cs, 6) AS cosine
      |FROM exact
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** The DuckDB re-derivation over `embeddings(vec_id, embedding)`:
    * same stats, same `r = round(t·255)` codes, same reconstruction
    * arithmetic (division before multiply before add), list re-packed
    * in dimension order. */
  val OracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (
      |  SELECT vec_id, unnest(v) AS xv,
      |    unnest(range(1, len(v) + 1)) AS i
      |  FROM e),
      |st AS (SELECT i, min(xv) AS mn, max(xv) AS mx FROM x GROUP BY 1),
      |r AS (
      |  SELECT vec_id, x.i, xv, mn, mx,
      |    CASE WHEN mx > mn
      |         THEN CAST(round((xv - mn) / (mx - mn) * 255) AS BIGINT)
      |         ELSE 0 END AS rr
      |  FROM x JOIN st USING (i)),
      |qx AS (
      |  SELECT vec_id, i, CAST(rr - 128 AS INT) AS q,
      |    abs(xv - (CASE WHEN mx > mn
      |                   THEN mn + rr / 255.0 * (mx - mn)
      |                   ELSE mn END)) AS err
      |  FROM r)
      |SELECT vec_id, array_to_string(list(q ORDER BY i), ',') AS q,
      |  CAST(sum(q) AS BIGINT) AS qsum,
      |  round(max(err), 6) AS max_err
      |FROM qx GROUP BY vec_id ORDER BY vec_id""".stripMargin
}
