package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Information-retrieval kernels over a document corpus: term statistics,
  * BM25 ranked retrieval, TF-IDF salient terms, and n-gram counting.
  *
  * The reference has no IR plane (scalar work is delegated to destination
  * SQL, SURVEY.md §2.10); these are the retrieval/inspection operators a
  * training-data pipeline needs (corpus search, salient-term profiling,
  * boilerplate n-gram mining).
  *
  * Scale design (100 TB): everything is inverted-index shaped —
  * tokenize → explode → equi-joins on the term key. There is never a
  * doc×doc or doc×vocab cross product:
  *  - BM25 filters the exploded postings to the query's terms *before*
  *    any shuffle, so the postings shuffle carries only matching terms;
  *    per-term document frequencies are a broadcast-sized frame (≤ query
  *    size) and corpus stats are a 1-row broadcast.
  *  - TF-IDF joins postings to the vocabulary df table on the term key
  *    (hash shuffle both sides; AQE broadcasts when the vocab is small).
  *  - n-gram counting is explode → hash-aggregate with map-side partial
  *    aggregation, then a TakeOrdered top-k — no global sort of the
  *    full gram table.
  * Tokens are materialized as a bound attribute before any higher-order
  * lambda touches them (NOTES.md round-1 trap: HOF lambdas re-evaluate
  * their input expression per element).
  */
object TextIR {

  /** Postings list: one row per (doc, term) with the term frequency.
    * Blank documents contribute nothing (`split` on trimmed text yields
    * `[""]` for empty input; the empty term is filtered). */
  def termFrequencies(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id), TextOps.tokens(col(text)).as("_toks"))
    toks.select(col(id), explode(col("_toks")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
  }

  /** Per-document token length (0 for blank docs), as double for the
    * BM25 length normalization. */
  def docLengths(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), TextOps.tokenCount(col(text)).cast("double").as("dl"))

  /** Okapi BM25 scores of every document matching at least one query
    * term. Output: (id, bm25) with the score rounded to 6 decimals —
    * the rounded value is the engine-stable representation (a handful of
    * per-term double adds can differ in the last ulp across engines).
    *
    * idf uses the Lucene/"BM25+1" form `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * which is always positive (plain Robertson idf goes negative for
    * terms in more than half the corpus).
    */
  def bm25(docs: DataFrame, id: String, text: String, query: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lens = docLengths(docs, id, text)
    // exact in double: dl values are small integers, their sum is exact,
    // so avgdl is the same division on both engines
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val postings = termFrequencies(docs, id, text)
      .where(col("term").isin(query: _*))
    // df as a window count over the postings themselves (one row per
    // (doc, term), so count ≡ distinct docs): an aggregate-and-join-back
    // would re-run the whole tokenize/explode lineage for a second scan
    postings
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")).cast("double"))
      .join(lens, Seq(id))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("_w",
        col("_idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(id))
      .agg(round(sum("_w"), 6).as("bm25"))
  }

  /** Top-`k` TF-IDF terms per document: (id, term, tfidf, rnk).
    * `tfidf = tf * ln(N / df)`, rounded to 6 decimals; rank ties break
    * on the rounded score then term text, so the cut is deterministic
    * across engines. */
  def tfIdfTopTerms(docs: DataFrame, id: String, text: String,
                    k: Int = 3): DataFrame = {
    val postings = termFrequencies(docs, id, text)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // df via a window over the postings (see bm25) — the join-back form
    // tokenizes the corpus twice
    val scored = postings
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")).cast("double"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col(id), col("term"), col("tfidf"), col("rnk"))
  }

  /** CCNet-style language-model perplexity filter (Wenzek et al. 2019,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"; the same head/middle/tail mechanism feeds the
    * LLaMA/RedPajama pipelines): score every document's per-token
    * cross-entropy under a bigram LM with add-one smoothing, then band
    * the corpus at the cross-entropy terciles — `head` (lowest
    * perplexity) is the highest-quality third.
    *
    * CCNet trains KenLM on a reference corpus and treats the model as
    * a broadcast artifact; here the LM is trained ON the scored corpus
    * itself (the Dolma-style corpus-statistics variant), which keeps
    * the whole operator a closed Spark plan:
    *  - ONE tokenize pass, bigrams formed per row by array slicing
    *    (zero shuffle until aggregation);
    *  - unigram + bigram counts: hash aggregates with map-side combine;
    *  - scoring joins the per-occurrence bigrams back to the count
    *    tables on their keys — shuffle hash joins that AQE broadcasts
    *    when the vocabulary is small; never a doc×vocab product;
    *  - corpus constants (token count, vocab size) and the two tercile
    *    thresholds are 1-row broadcasts — no global sort, no ntile
    *    over a single partition.
    * Per-token log-probabilities are cast to DECIMAL(28,12) before the
    * per-document sum so the aggregation is order-independent (exact
    * decimal adds), making the rounded cross-entropy engine-stable.
    *
    * Output: (id, n_scored, ce, band); blank documents are unscoreable
    * and excluded. The first token scores against the unigram
    * distribution, every later token against its bigram context. */
  def lmPerplexityBands(docs: DataFrame, id: String, text: String): DataFrame = {
    // the tokenized corpus fans out to four consumers (unigram counts,
    // bigram pairs, first-token frame, and through them the count
    // joins) — pin it, or the scan+tokenize re-executes per branch
    // (a lazy generator: the pins land in the caller's Dedup.withPins
    // scope)
    val toks = Dedup.pin(docs
      .select(col(id), TextOps.tokens(col(text)).as("_toks"))
      .where(length(element_at(col("_toks"), 1)) > 0))
    val uni = Dedup.pin(toks.select(explode(col("_toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu")))
    val stats = uni.agg(sum("cu").cast("double").as("n_tok"),
      count(lit(1)).cast("double").as("v"))
    val pairs = Dedup.pin(toks
      .withColumn("_prev", slice(col("_toks"), lit(1), size(col("_toks")) - 1))
      .withColumn("_curr", slice(col("_toks"), lit(2), size(col("_toks")) - 1))
      .select(col(id), explode(arrays_zip(col("_prev"), col("_curr"))).as("bg"))
      .select(col(id), col("bg._prev").as("p"), col("bg._curr").as("w")))
    val bi = pairs.groupBy("p", "w").agg(count(lit(1)).as("cb"))
    // first token: unigram log-prob (cu+1)/(N+V); later tokens: bigram
    // (cb+1)/(cu_prev+V) — the standard Laplace-smoothed chain
    val first = toks.select(col(id), element_at(col("_toks"), 1).as("w"))
      .join(uni, "w")
      .crossJoin(broadcast(stats))
      .select(col(id),
        (-log((col("cu") + 1).cast("double") / (col("n_tok") + col("v"))))
          .cast("decimal(28,12)").as("lp"))
    val rest = pairs
      .join(bi, Seq("p", "w"))
      .join(uni.withColumnRenamed("w", "p").withColumnRenamed("cu", "cup"), Seq("p"))
      .crossJoin(broadcast(stats))
      .select(col(id),
        (-log((col("cb") + 1).cast("double") / (col("cup") + col("v"))))
          .cast("decimal(28,12)").as("lp"))
    // scored feeds both the tercile aggregate and the banded output —
    // pinned so the scoring joins run once
    val scored = Dedup.pin(first.unionByName(rest)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_scored"),
        round(sum("lp").cast("double") / count(lit(1)), 6).as("ce")))
    // tercile thresholds over the ROUNDED cross-entropy: a 1-row exact
    // percentile broadcast, not a single-partition ntile window
    val th = scored.agg(
      expr("percentile(ce, array(1.0D/3.0D, 2.0D/3.0D))").as("t"))
    scored.crossJoin(broadcast(th))
      .withColumn("band",
        when(col("ce") <= element_at(col("t"), 1), "head")
          .when(col("ce") <= element_at(col("t"), 2), "middle")
          .otherwise("tail"))
      .select(col(id), col("n_scored"), col("ce"), col("band"))
  }

  /** Corpus-wide top-`k` word `n`-grams by count: (ngram, cnt).
    * Deterministic cut: count desc, then gram text. */
  def topNgrams(docs: DataFrame, text: String, n: Int = 2,
                k: Int = 50): DataFrame = {
    val toks = docs.select(TextOps.tokens(col(text)).as("_toks"))
      .where(size(col("_toks")) >= n && length(element_at(col("_toks"), 1)) > 0)
    val grams = toks.select(explode(graft.functions.TextFunctions
      .wordShingles(col("_toks"), n, distinct = false)).as("ngram"))
    grams.groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram")).limit(k)
  }
}
