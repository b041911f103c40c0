package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus BPE tokenizer TRAINING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * operator a training-data pipeline runs before any token count is
  * meaningful: learn the merge table from the corpus itself.
  *
  * Shape, 100 TB first:
  *  - the trainer never iterates over documents — it works on the
  *    DISTINCT WORD table (vocabulary-sized, orders of magnitude
  *    smaller than the corpus) with word-type counts as weights, the
  *    standard Sennrich formulation;
  *  - one corpus tokenize pass builds that table (hash aggregate with
  *    map-side combine), pinned for the training loop;
  *  - each round is: per-word adjacent-symbol pairs (array slicing,
  *    no shuffle) → weighted count (vocabulary-sized shuffle) → a
  *    1-ROW argmax collected to the driver. The driver sync per round
  *    is the algorithm's inherent sequential dependency (merge r+1
  *    depends on merge r), not a scale defect: the collected row is a
  *    single (pair, score).
  *
  * Merge application is LEFTMOST NON-OVERLAPPING literal replace on
  * the space-delimited symbol string (" A B " → " AB "). Both the JVM
  * and RE2/DuckDB implement literal replace with identical leftmost
  * semantics, which is what lets an external SQL engine re-derive the
  * whole iterative training run exactly — including the corner where
  * consecutive occurrences share a delimiter space ("A B A B": the
  * first replacement consumes the shared space, the second pair
  * merges next round). Classic BPE's strict left-to-right greedy
  * differs only in that corner; the deviation is deterministic and
  * engine-portable, which this engine values over bug-compatibility.
  * Ties break on (score DESC, symbol-pair bytes ASC) — a total order.
  *
  * No end-of-word marker symbols: merges are within-word (the per-word
  * symbol strings never span words), the common no-marker variant. */
object BpeTrainer {

  /** One learned merge: `merged = merge_a ++ merge_b`. */
  final case class BpeMerge(round: Int, merge_a: String, merge_b: String,
    merged: String, score: Long)

  /** Above this many rounds the merge loop runs in DRIVER memory over
    * the collected vocabulary instead of as one Spark job per round: a
    * real tokenizer is 30k-100k merges, and a distributed loop at that
    * scale is a driver-paced job storm whose plan gains one stacked
    * replace per round. The vocabulary table is bounded (distinct word
    * types, not corpus rows), so collecting it is the scale-CORRECT
    * move — the one corpus-sized aggregation stays distributed either
    * way. Below the threshold the distributed loop remains (the
    * oracle-gated path; also the right call when the vocabulary is too
    * wide to collect). */
  val DriverLoopRounds = 64

  /** Driver-side vocabulary budget (distinct word types). Above it the
    * distributed loop runs regardless of rounds, with its plan
    * capped by a [[Dedup.boundary]] every [[BoundaryEvery]] rounds. */
  val DriverVocabBudget = 4000000L
  val BoundaryEvery = 32

  /** Learn `rounds` merges from the corpus; returns the merge table
    * (round, merge_a, merge_b, merged, score) in learning order.
    * Stops early if the vocabulary runs out of adjacent pairs. */
  def train(docs: DataFrame, text: String, rounds: Int): DataFrame =
    run(docs, text, rounds)._1

  /** (merge table, segmented vocabulary (w, cnt, rep)) — the full
    * artifact pair a tokenizer store persists ([[BpeStore]]). */
  def trainWithVocab(docs: DataFrame, text: String,
      rounds: Int): (DataFrame, DataFrame) =
    run(docs, text, rounds)

  /** [[train]] with the driver-local loop forced on (spec hook; the
    * public path selects it automatically past [[DriverLoopRounds]]). */
  private[ext] def trainLocal(docs: DataFrame, text: String, rounds: Int): DataFrame =
    run(docs, text, rounds, forceLocal = true)._1

  /** Tokenizer APPLICATION — the other half of the loop: per-document
    * token counts under the merge table [[train]] learns from the same
    * corpus. The segmented vocabulary is vocabulary-sized, so the apply
    * join is (corpus tokens ⋈ vocab) on the word — a shuffle join whose
    * build side is the distinct-word table, never the corpus squared.
    * Output: (id, n_words, n_bpe_tokens). */
  def segmentCounts(docs: DataFrame, id: String, text: String,
      rounds: Int): DataFrame = {
    val vocab = run(docs, text, rounds)._2
      .select(col("w"), size(split(trim(col("rep")), " ")).as("n_sym"))
    docs.select(col(id), explode(TextOps.tokens(col(text))).as("w"))
      .where(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy(id)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym").cast("long")).as("n_bpe_tokens"))
      .orderBy(id)
  }

  /** Tokenizer ENCODE — the full loop closed: per-document TOKEN-ID
    * sequences under the corpus-trained merge table. Token ids are the
    * dense rank of the post-merge symbol set in UTF-8 byte order — the
    * id table is BOUNDED BY CONSTRUCTION (alphabet + one new symbol
    * per merge round), so its ranking window is sketch-sized at any
    * corpus scale and the id join broadcasts. Document encoding is the
    * per-word symbol expansion joined through the (vocabulary-sized)
    * segmented-word table, reassembled in (word position, symbol
    * position) order. Output: (id, n_tokens, token_ids). */
  def encode(docs: DataFrame, id: String, text: String,
      rounds: Int): DataFrame =
    encodeWith(docs, id, text, run(docs, text, rounds)._2)

  /** [[encode]] against an EXISTING segmented vocabulary (w, …, rep) —
    * the apply path when the tokenizer is a stored artifact
    * ([[BpeStore]]) rather than trained in the same plan. */
  def encodeWith(docs: DataFrame, id: String, text: String,
      reps: DataFrame): DataFrame =
    encodeWithIds(docs, id, text, reps, None)

  /** [[encodeWith]] with an optional EXPLICIT (sym, tok_id) table —
    * the hook [[BpeStore]]'s byte-fallback uses to keep stored-symbol
    * ids stable while appending fallback ids after them. `None`
    * derives ids as the dense rank of the rep symbols (the default
    * contract). */
  private[ext] def encodeWithIds(docs: DataFrame, id: String, text: String,
      reps: DataFrame, ids: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordSyms = Dedup.pin(
      reps.select(col("w"), split(trim(col("rep")), " ").as("syms")))
    val vocab = ids.getOrElse(
      wordSyms.select(explode(col("syms")).as("sym")).distinct()
        .withColumn("tok_id",
          row_number().over(Window.orderBy("sym")).cast("long")))
    val wordIds = wordSyms
      .select(col("w"), posexplode(col("syms")).as(Seq("spos", "sym")))
      .join(broadcast(vocab), "sym")
    docs.select(col(id), posexplode(TextOps.tokens(col(text))).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .join(wordIds, "w")
      .groupBy(id)
      .agg(count(lit(1)).as("n_tokens"),
        transform(array_sort(collect_list(
          struct(col("pos"), col("spos"), col("tok_id")))),
          x => x("tok_id")).as("token_ids"))
      .orderBy(id)
  }

  /** The DuckDB re-derivation of [[encode]]. */
  def encodeOracleSql(rounds: Int): String =
    s"""WITH ${stagesSql(rounds)},
       |seg AS MATERIALIZED (SELECT w, string_split(trim(rep), ' ') AS syms FROM w$rounds),
       |vocab AS (
       |  SELECT sym, row_number() OVER (ORDER BY sym) AS tok_id
       |  FROM (SELECT DISTINCT unnest(syms) AS sym FROM seg)),
       |ws AS (
       |  SELECT w, s.spos, s.sym
       |  FROM seg, LATERAL (
       |    SELECT unnest(syms) AS sym,
       |      unnest(generate_series(1, len(syms))) AS spos) s),
       |dw AS (
       |  SELECT doc_id, t.w, t.pos
       |  FROM documents, LATERAL (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w,
       |      unnest(generate_series(1,
       |        len(string_split_regex(trim(text), '\\s+')))) AS pos) t
       |  WHERE length(t.w) > 0)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  array_to_string(list(tok_id ORDER BY pos, spos), ',') AS token_ids
       |FROM dw JOIN ws USING (w) JOIN vocab USING (sym)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** The shared training loop: (merge table, segmented vocabulary
    * (w, cnt, rep) after all merges applied). */
  private def run(docs: DataFrame, text: String, rounds: Int,
      forceLocal: Boolean = false): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    // distinct words with counts; symbol rep = " c h a r s " (padded,
    // single-spaced) via a capture-group rewrite both regex engines
    // (java.util.regex / RE2) perform identically
    val words = Dedup.pin(
      docs.select(explode(TextOps.tokens(col(text))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .withColumn("rep",
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))))

    val wantLocal = forceLocal || rounds > DriverLoopRounds
    if (wantLocal && words.count() <= DriverVocabBudget)
      runLocal(spark, words, rounds)
    else runDistributed(spark, words, rounds)
  }

  private def runDistributed(spark: SparkSession, words: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    var reps = words.select(col("w"), col("cnt"), col("rep"))
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val syms = reps.withColumn("_l", split(trim(col("rep")), " "))
      val best = syms
        .withColumn("_a", slice(col("_l"), lit(1), size(col("_l")) - 1))
        .withColumn("_b", slice(col("_l"), lit(2), size(col("_l")) - 1))
        .select(col("cnt"), explode(arrays_zip(col("_a"), col("_b"))).as("p"))
        .groupBy(col("p._a").as("a"), col("p._b").as("b"))
        .agg(sum("cnt").as("total"))
        .orderBy(col("total").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val Row(a: String, b: String, total: Long) = best.head
        merges += BpeMerge(r, a, b, a + b, total)
        reps = reps.withColumn("rep",
          call_function("replace", col("rep"),
            lit(s" $a $b "), lit(s" $a$b ")))
        // cap the plan: round r otherwise carries r stacked replace
        // projections, and past ~100 rounds analysis time dominates
        if (r % BoundaryEvery == 0) reps = Dedup.boundary(reps)
        r += 1
      }
    }
    (mergeFrame(spark, merges.result()), reps)
  }

  /** The driver-memory merge loop over the COLLECTED vocabulary —
    * byte-identical semantics to [[runDistributed]]: same weighted
    * adjacent-pair counts, same (score DESC, pair-bytes ASC) argmax
    * (UTF-8 byte order, matching Spark's UTF8String comparison), same
    * leftmost non-overlapping literal replace (`String.replace`).
    * Incremental bookkeeping: only words CONTAINING the merged pair are
    * re-scanned per round (a pair→words inverted index), and the argmax
    * is a lazy-deletion max-heap, so a round costs O(affected words +
    * log pairs), not O(vocabulary) — the structure that makes 30k+
    * merge rounds tractable. */
  private def runLocal(spark: SparkSession, words: DataFrame,
      rounds: Int): (DataFrame, DataFrame) = {
    import scala.collection.mutable
    val rows = words.select("w", "cnt", "rep").collect()
    val n = rows.length
    val ws = new Array[String](n)
    val cnts = new Array[Long](n)
    val reps = new Array[String](n)
    var i = 0
    while (i < n) {
      ws(i) = rows(i).getString(0); cnts(i) = rows(i).getLong(1)
      reps(i) = rows(i).getString(2); i += 1
    }
    def adjPairs(rep: String): Array[(String, String)] = {
      val syms = rep.trim.split(" ")
      if (syms.length < 2) Array.empty
      else Array.tabulate(syms.length - 1)(j => (syms(j), syms(j + 1)))
    }
    // UTF-8 byte comparison = Spark UTF8String / DuckDB binary collation
    def cmpUtf8(x: String, y: String): Int = java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    i = 0
    while (i < n) {
      adjPairs(reps(i)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + cnts(i))
        index.getOrElseUpdate(p, mutable.HashSet.empty) += i
      }
      i += 1
    }
    // max-heap with lazy deletion: entries are (total, a, b) snapshots;
    // an entry is live iff its total still equals the current count
    final case class Entry(total: Long, a: String, b: String)
    val heapOrd: Ordering[Entry] = (p: Entry, q: Entry) => {
      val c = java.lang.Long.compare(p.total, q.total)
      if (c != 0) c
      else {
        val ca = cmpUtf8(q.a, p.a) // smaller pair bytes = better = larger
        if (ca != 0) ca else cmpUtf8(q.b, p.b)
      }
    }
    val heap = mutable.PriorityQueue.empty[Entry](heapOrd)
    counts.foreach { case ((a, b), t) => heap.enqueue(Entry(t, a, b)) }
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      var best: Entry = null
      while (best == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.get((e.a, e.b)).contains(e.total)) best = e
      }
      if (best == null) exhausted = true
      else {
        val (a, b) = (best.a, best.b)
        merges += BpeMerge(r, a, b, a + b, best.total)
        val pat = s" $a $b "; val rep2 = s" $a$b "
        val changed = mutable.HashSet.empty[(String, String)]
        val affected = index.getOrElse((a, b), mutable.HashSet.empty).toArray
        affected.foreach { w =>
          val oldPairs = adjPairs(reps(w))
          if (!oldPairs.contains((a, b))) {
            // stale index entry (the pair disappeared via another merge)
            index.get((a, b)).foreach(_ -= w)
          } else {
            val newRep = reps(w).replace(pat, rep2)
            reps(w) = newRep
            oldPairs.foreach { p =>
              val t = counts(p) - cnts(w)
              if (t == 0L) counts.remove(p) else counts.update(p, t)
              changed += p
            }
            adjPairs(newRep).foreach { p =>
              counts.update(p, counts.getOrElse(p, 0L) + cnts(w))
              index.getOrElseUpdate(p, mutable.HashSet.empty) += w
              changed += p
            }
          }
        }
        changed.foreach { p =>
          counts.get(p).foreach(t => heap.enqueue(Entry(t, p._1, p._2)))
        }
        r += 1
      }
    }
    val repSchema = StructType(Seq(
      StructField("w", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false),
      StructField("rep", StringType, nullable = false)))
    val slices = math.max(1, n / 500000)
    val repFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Array.tabulate(n)(j => Row(ws(j), cnts(j), reps(j))).toSeq, slices),
      repSchema)
    (mergeFrame(spark, merges.result()), repFrame)
  }

  private def mergeFrame(spark: SparkSession, ms: Seq[BpeMerge]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ms, 1).map(m =>
        Row(m.round, m.merge_a, m.merge_b, m.merged, m.score)),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("merge_a", StringType, nullable = false),
        StructField("merge_b", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("score", LongType, nullable = false))))

  /** The shared CTE prefix of both oracles: w0 (distinct words with
    * counts and padded symbol reps) through w`rounds` (all merges
    * applied), one (pair count → argmax → replace) stage per round,
    * mirroring the engine's arithmetic and tie-break exactly.
    * Generated, like the simhash oracle's 64 bit-sums. */
  private def stagesSql(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT l[s.j] AS a, l[s.j + 1] AS b, sum(cnt)::BIGINT AS total
         |  FROM (SELECT cnt, string_split(trim(rep), ' ') AS l FROM w${i - 1}),
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS j) s
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, total FROM p$i ORDER BY total DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, cnt,
         |    replace(rep, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS rep
         |  FROM w${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    // w_i is read by BOTH p_{i+1} and w_{i+1} (and b_i by w_i plus the
    // train oracle's UNION tail): inlined, DuckDB re-evaluates the whole
    // upstream merge chain per reference — exponential in `rounds` (see
    // the MATERIALIZED note in [[Clustering.stagesSql]]; measured here:
    // the 4 BPE oracles cost ~23 s of the 38.5 s sf0.01 oracle wall)
    s"""w0 AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS cnt,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS rep
       |  FROM (
       |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE length(w) > 0
       |  GROUP BY w),
       |$stages""".stripMargin
  }

  /** The DuckDB re-derivation of [[train]]. */
  def oracleSql(rounds: Int): String = {
    val out = (1 to rounds).map(i =>
      s"SELECT $i AS round, a AS merge_a, b AS merge_b, a || b AS merged, " +
        s"total AS score FROM b$i").mkString("\nUNION ALL ")
    s"""WITH ${stagesSql(rounds)}
       |$out
       |ORDER BY round""".stripMargin
  }

  /** The DuckDB re-derivation of [[segmentCounts]]: re-derive the
    * trained vocabulary, then join each document's tokens to its
    * word's post-merge symbol count. */
  def segmentOracleSql(rounds: Int): String =
    s"""WITH ${stagesSql(rounds)},
       |seg AS (
       |  SELECT w, len(string_split(trim(rep), ' ')) AS n_sym FROM w$rounds),
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents)
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(n_sym)::BIGINT AS n_bpe_tokens
       |FROM dw JOIN seg USING (w)
       |WHERE length(w) > 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
