package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.{AudioFp, Blocks, BpeTrainer, Clustering, Dedup, IncrementalDedup, MinHash, Multimodal, Opq, Pca, Phash, Pq, Quantize, QualityClassifier, Similarity, SignBits, TextOps, UnigramTrainer}

/** Training-data extensions (SURVEY.md §7.8): text analysis, dedup
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine),
  * similarity search (brute-force + LSH ANN) and multimodal plumbing,
  * each demonstrated on the driver `documents` / `embeddings` tables.
  *
  * Oracles mirror the Spark arithmetic operation-for-operation (same
  * double-precision evaluation order) so hash comparison is exact.
  * xxhash64-based strategies (MinHash, SimHash) verify candidates with
  * exact measures, so MinHash still matches the exact-Jaccard oracle:
  * with 16 bands × 2 rows, P(miss a pair at j ≥ 0.9) < 3·10⁻¹².
  * SimHash output is hash-function-defined → rows-only. The ANN gates
  * (`sim_ivf_ann` / `sim_lsh_ann`) hash-gate their RECALL instead of
  * their row-set: the measured ANN pairs ride into the stash oracle as
  * literals and DuckDB recomputes the exact-top-k intersection
  * independently ([[annRecallSummary]]).
  */
object ExtQueries {

  private val canonSql = """lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"""

  /** Binary-quantization exact oracle: Hamming = count of disagreeing
    * sign bits (packing-layout-independent — no bit arithmetic needed,
    * which also sidesteps DuckDB's signed `<< 63` overflow), shortlist
    * (hamming asc, id) to 20, exact cosine re-rank to 5. Shared by the
    * in-memory gate and the persisted collection at nprobe = nlist.
    * `corpusWhere` restricts BOTH sides (a generation probe sees only
    * that generation's pinned corpus, queries drawn from it too);
    * `tailCols` append literal columns (the gen query's gens pin). */
  private def binaryRerankOracleOver(corpusWhere: String,
      tailCols: String = ""): String =
    s"""WITH scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
      |    list_sum(list_transform(range(1, len(q.embedding)+1),
      |      i -> CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
      |           THEN 1 ELSE 0 END))::BIGINT AS hamming,
      |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
      |  FROM (SELECT * FROM embeddings WHERE $corpusWhere) q
      |  JOIN (SELECT * FROM embeddings WHERE $corpusWhere) c
      |    ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |short AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY hamming, match_id) AS hr
      |  FROM scored),
      |ranked AS (
      |  SELECT query_id, match_id, hamming, cs,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
      |  FROM short WHERE hr <= 20)
      |SELECT query_id, rank, match_id, hamming, round(cs, 6) AS cosine$tailCols
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val binaryRerankOracle: String = binaryRerankOracleOver("TRUE")

  /** Shared tail of the ANN recall gates (`sim_ivf_ann` /
    * `sim_lsh_ann`): per-query `(query_id, n_hits, k)` over the exact
    * top-k (a fully-missed query keeps its row with n_hits = 0 — it
    * cannot vanish from the average), the ≥ 0.9 overall self-gate, and
    * the stash oracle that makes the recall VALUE hash-checkable: the
    * measured ANN pairs ride into DuckDB as VALUES literals
    * ([[annRecallOracleSql]]) while the exact top-k side is recomputed
    * from `embeddings` independently (the same scored/ranked fragment
    * as the `sim_ivf_exact` oracle), so the per-query intersection
    * counts are derived twice by different engines — a wrong exact
    * side, a wrong intersection, or a drifted recall all
    * hash-mismatch. Output stays integer-only: no float-repr parity
    * risk rides the gate. */
  private def annRecallSummary(name: String, label: String,
      approx: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val pairs = approx
      .select(col("query_id").cast("long"), col("match_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    OracleStash.put(name, annRecallOracleSql(pairs, k))
    val hits = exact.join(approx, Seq("query_id", "match_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val out = exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("k", lit(k.toLong))
      .orderBy("query_id")
    val rows = out.collect()
    val overall = rows.iterator.map(_.getAs[Long]("n_hits")).sum.toDouble /
      (k.toDouble * rows.length)
    QueryMeta.put(name, s"recall_at_$k", overall)
    require(overall >= 0.9,
      f"$label recall@$k = $overall%.3f under the 0.9 gate")
    out
  }

  /** The ANN recall oracle: measured ANN pairs as literals, exact
    * top-k recomputed by DuckDB, intersected per query. */
  private def annRecallOracleSql(pairs: Seq[(Long, Long)], k: Int): String = {
    val values = pairs.map { case (q, m) => s"($q, $m)" }.mkString(", ")
    s"""WITH ann AS (
       |  SELECT q::BIGINT AS query_id, m::BIGINT AS match_id
       |  FROM (VALUES $values) v(q, m)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
       |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |topk AS (
       |  SELECT query_id, match_id FROM (
       |    SELECT query_id, match_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
       |    FROM scored) s
       |  WHERE rank <= $k)
       |SELECT t.query_id, count(a.match_id)::BIGINT AS n_hits, $k::BIGINT AS k
       |FROM topk t LEFT JOIN ann a
       |  ON a.query_id = t.query_id AND a.match_id = t.match_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  /** The shared dedup-on-ingest fixture (the cosine AND the binary
    * gate): evens indexed, batch = affine twins of the evens (near-dups
    * by construction) + the untouched odds — ONE builder so the two
    * gates cannot silently screen different batches. */
  private def appendDedupFrames(c: Ctx)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val vecs = c.t("embeddings").select("vec_id", "embedding")
    val evens = vecs.filter(col("vec_id") % 2 === 0)
    val twins = evens.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.01) + lit(0.005))
        .cast("array<float>").as("embedding"))
    (evens, twins.unionByName(vecs.filter(col("vec_id") % 2 === 1)))
  }

  /** Shared oracle for the dedup-on-ingest gates: final membership
    * = evens ∪ batch rows with NO `dupsFrom` row matching `dupsCond`,
    * plus the kept/dropped counts (the screens run at nprobe = nlist,
    * so EXISTS over the all-pairs product is exact on every plane).
    * ONE builder — the batch construction and count arithmetic cannot
    * diverge between the cosine, Hamming and ADC gates. `prelude`
    * splices extra CTEs ahead of the skeleton (the ADC gate's PQ
    * reconstruction chain, [[Pq.deqCtesSql]]); `dupsFrom` swaps the
    * screen's right side (default: the raw evens; ADC: their
    * reconstructions `deq e`). */
  private def appendDedupOracleSql(dupsCond: String,
      prelude: String = "", dupsFrom: String = "evens e"): String =
    s"""WITH ${if (prelude.isEmpty) "" else prelude + ",\n"}evens AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |batch AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(x * 1.01 + 0.005 AS REAL)) AS embedding
       |  FROM evens
       |  UNION ALL
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM batch b JOIN $dupsFrom
       |    ON $dupsCond),
       |corpus AS (
       |  SELECT vec_id FROM evens
       |  UNION ALL
       |  SELECT vec_id FROM batch
       |  WHERE vec_id NOT IN (SELECT vec_id FROM dups))
       |SELECT vec_id,
       |  ((SELECT count(*) FROM batch) - (SELECT count(*) FROM dups))::BIGINT
       |    AS kept,
       |  (SELECT count(*) FROM dups)::BIGINT AS dropped
       |FROM corpus ORDER BY vec_id""".stripMargin

  /** Shared config of the four unigram-tokenizer gates (one definition
    * so query and oracle params cannot diverge): 24 multi-char pieces
    * pruned from a 96-piece substring seed over 2 rounds — sized to
    * the fixture's 31-word vocabulary so the prune genuinely BITES
    * (the seed is ~4× the target) while the unrolled oracle stays
    * cheap. */
  private val unigramCfg = UnigramTrainer.Config(vocabSize = 24,
    seedSize = 96, maxPieceLen = 4, iters = 2)

  /** The `sh` CTE body: one row per distinct (doc, trigram shingle).
    * The UNION branch mirrors WordShingles' short-doc case (< n tokens →
    * ONE whole-text shingle, TextExprs.scala:104-110) — without it the
    * oracle and engine diverge on sub-3-token documents (round-2 ADVICE;
    * invisible on the fixtures, real on short-doc corpora). */
  private val shingleSql: String =
    """  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) g
      |  UNION
      |  SELECT doc_id, array_to_string(ts, ' ') AS shingle
      |  FROM toks WHERE len(ts) < 3""".stripMargin

  /** Recursive exact-Jaccard component closure (trigram shingles →
    * pairs at j ≥ 0.9 → symmetric edges → min-label reachability) —
    * the ONE copy both the dedup_components and dedup_canonical_select
    * oracles extend (a silent divergence between them would re-open
    * the round-2 class of missed-copy bugs). Emitted PRE-stripMargin
    * (margin bars included): callers append their own tail CTEs /
    * SELECT before stripping. */
  private val componentClosureCtes: String =
    s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
         |sh AS (
         |$shingleSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |  WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.9),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.b AS id, r.r FROM reach r JOIN edges e ON e.a = r.id)"""

  /** Cross-set exact jaccard (old half vs new half, j >= 0.9) — the
    * oracle for both the batch and the streaming incremental-dedup
    * paths (the streaming query checks the same static seed index, so
    * both reduce to this full re-derivation). */
  private[queries] val incrementalDedupOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
       |sh AS (
       |$shingleSql),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS new_id, a.doc_id AS old_id, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE a.doc_id < 250 AND b.doc_id >= 250
       |  GROUP BY 1, 2)
       |SELECT new_id, old_id,
       |  round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON old_id = sa.doc_id JOIN sz sb ON new_id = sb.doc_id
       |WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.9
       |ORDER BY new_id, old_id""".stripMargin

  /** Oracle for the streaming curation front door
    * (`stream_corpus_curate` — [[graft.streaming.Streaming.curateInto]]):
    * an arriving doc (doc_id ≥ 250) lands iff its classifier score ≥
    * `minScore` (the fitted weights as round-trip literals) AND it has
    * no exact cross-set jaccard ≥ `jaccard` against the seed corpus
    * (doc_id < 250) — the same cross-set fragment
    * [[incrementalDedupOracle]] proves, under the same shingle
    * canonicalization. `loaded_once` is ASSERTED (TRUE hardcoded; the
    * engine emits measured). */
  /** The streaming-curation replay: score (literal weights) ∧ cross-set
    * jaccard vs the static seed, over `newWhere`'s documents. `prefix`
    * splices extra CTEs ahead of the final select (no leading comma);
    * `tailCols` are literal/derived gate columns riding the hash. */
  private[queries] def curateOracleSql(
      model: graft.ext.QualityClassifier.RidgeModel,
      minScore: Double, jaccard: Double,
      newWhere: String = "doc_id >= 250",
      prefix: String = "",
      tailCols: Seq[String] = Seq("TRUE AS loaded_once")): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |${graft.ext.QualityClassifier.featurizationSql}
       |  FROM documents WHERE $newWhere),
       |s AS (
       |  SELECT doc_id,
       |    ${graft.ext.QualityClassifier.scoreExprSql(model)} AS score
       |  FROM t),
       |toks AS (
       |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
       |sh AS MATERIALIZED (
       |$shingleSql),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS new_id, a.doc_id AS old_id, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |  WHERE a.doc_id < 250
       |    AND b.doc_id IN (SELECT doc_id FROM s)
       |  GROUP BY 1, 2),
       |dups AS (
       |  SELECT DISTINCT new_id
       |  FROM inter
       |  JOIN sz sa ON old_id = sa.doc_id JOIN sz sb ON new_id = sb.doc_id
       |  WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
       |        >= ${java.lang.Double.toString(jaccard)})${
        if (prefix.isEmpty) "" else s",\n$prefix"}
       |SELECT doc_id, round(score, 6) AS score,
       |  ${tailCols.mkString(",\n  ")}
       |FROM s
       |WHERE score >= ${java.lang.Double.toString(minScore)}
       |  AND doc_id NOT IN (SELECT new_id FROM dups)
       |ORDER BY doc_id""".stripMargin

  /** The DRIFT-GATED curation replay: the clean batches' curate chain
    * (score ∧ cross-set jaccard, with the shifted batch excluded from
    * the landed set), plus the quarantined batch's PSI re-derived from
    * the SAME training profile the engine persisted — baseline = the
    * literal-weight score distribution over ALL documents (the
    * profile's source), current = the shifted batch's mangled-text
    * scores. [[SketchQueries.psiOracleCtes]] is the proven
    * ops_drift_psi fragment, so binning/smoothing/Σ discipline is
    * identical on both sides; an engine that quarantined on the wrong
    * psi — or let the shifted batch land — hash-fails. */
  private[queries] def curateDriftOracleSql(
      model: graft.ext.QualityClassifier.RidgeModel,
      minScore: Double, jaccard: Double, mangledRepeats: Int,
      shiftLo: Int, shiftHi: Int, bins: Int): String = {
    val shifted = s"doc_id >= $shiftLo AND doc_id < $shiftHi"
    val baseSql =
      s"""SELECT ${graft.ext.QualityClassifier.scoreExprSql(model)} AS v
         |  FROM (SELECT doc_id,
         |${graft.ext.QualityClassifier.featurizationSql}
         |  FROM documents) pf""".stripMargin
    val curSql =
      s"""SELECT ${graft.ext.QualityClassifier.scoreExprSql(model)} AS v
         |  FROM (SELECT doc_id,
         |${graft.ext.QualityClassifier.featurizationSqlOver(
            s"repeat('zz ', $mangledRepeats)")}
         |  FROM documents WHERE $shifted) mf""".stripMargin
    curateOracleSql(model, minScore, jaccard,
      newWhere = s"doc_id >= 250 AND NOT ($shifted)",
      prefix = SketchQueries.psiOracleCtes(baseSql, curSql, bins),
      tailCols = Seq(
        s"(SELECT count(*) FROM documents WHERE $shifted)::BIGINT" +
          " AS n_quarantined",
        "(SELECT psi FROM tot) AS q_psi",
        "TRUE AS loaded_once"))
  }

  /** Exact n-gram jaccard pair SQL shared by the jaccard + minhash oracles. */
  private def jaccardSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
       |sh AS (
       |$shingleSql),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
       |WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= $threshold""".stripMargin

  /** The shared perceptual-dedup image fixture: one deterministic P6
    * raster per doc_id row of `df` — 12 pattern groups × brightness
    * variants (the variant brightens only the first dHash block
    * column). ONE owner for the four gate queries that build it
    * (pairs / incremental / cross-modal / streaming screen) and — via
    * [[phashCtes]] — their oracles: the Scala formula and the SQL
    * formula must stay bit-identical, so both live once. */
  private[queries] def phashMedia(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[Multimodal.MediaItem] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long")).as[Long].map { d =>
      val k = d % 12
      val v = d / 12
      Multimodal.MediaItem(d, "image", Multimodal.Ppm.build(36, 16,
        (x, y) => (
          ((k * 7 + x * 13 + y * 5 + (if (x < 4) v * 2 else 0L)) % 256).toInt,
          ((k * 11 + x * 3 + y * 17) % 256).toInt,
          ((k * 5 + x.toLong * y) % 256).toInt)))
    }
  }

  /** The dHash re-derivation CTE block over `$docs` (a CTE providing
    * doc_id): pixel formulas → block luma sums → gradient-sign bits →
    * UBIGINT pack (power(2, bit) is exact — 2^63 fits a double;
    * DuckDB's << overflows at bit 63) → 16-bit pigeonhole banding.
    * `ns` prefixes the CTE names so the block embeds into statements
    * with their own CTEs (the cross-modal oracle). Produces
    * `${ns}banded(doc_id, sh, blk, blk_val)`. */
  private def phashCtes(docs: String, ns: String = ""): String =
    s"""${ns}px AS (
       |  SELECT doc_id, x.x AS x, y.y AS y,
       |    (doc_id % 12 * 7 + x.x * 13 + y.y * 5 +
       |     CASE WHEN x.x < 4 THEN doc_id // 12 * 2 ELSE 0 END) % 256 AS r,
       |    (doc_id % 12 * 11 + x.x * 3 + y.y * 17) % 256 AS g,
       |    (doc_id % 12 * 5 + x.x * y.y) % 256 AS b
       |  FROM $docs,
       |    (SELECT unnest(generate_series(0, 35)) AS x) x,
       |    (SELECT unnest(generate_series(0, 15)) AS y) y),
       |${ns}blk AS (
       |  SELECT doc_id, x // 4 AS gx, y // 2 AS gy,
       |    sum(299 * r + 587 * g + 114 * b) AS lum
       |  FROM ${ns}px GROUP BY 1, 2, 3),
       |${ns}bits AS (
       |  SELECT a.doc_id, a.gy * 8 + a.gx AS bit
       |  FROM ${ns}blk a JOIN ${ns}blk b ON b.doc_id = a.doc_id
       |    AND b.gy = a.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8 AND a.lum > b.lum),
       |${ns}ph AS (
       |  SELECT d.doc_id,
       |    coalesce(bit_or(CAST(power(2, bit) AS UBIGINT)), 0::UBIGINT) AS sh
       |  FROM $docs d LEFT JOIN ${ns}bits ON ${ns}bits.doc_id = d.doc_id
       |  GROUP BY d.doc_id),
       |${ns}banded AS (
       |  SELECT doc_id, sh, gs.b AS blk, (sh >> (gs.b * 16)) & 65535 AS blk_val
       |  FROM ${ns}ph, generate_series(0, 3) gs(b))""".stripMargin

  val defs: Map[String, Q] = Map(
    // ---- text analysis ------------------------------------------------
    "text_token_count" -> q { c =>
      c.t("documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    "text_quality" -> q { c =>
      c.tw("documents").select(col("doc_id"),
        round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"),
        TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // TRAINED quality scoring — ridge seed-discriminator (the CCNet/
    // GPT-3 curation pattern: separate a seed slice from the rest on
    // surface statistics, keep high scorers). Fit = one Gram-moment
    // aggregation + driver solve; scoring = map-only literal dot
    // product. The oracle is MODEL-DERIVED (deposited at run time like
    // sim_pca_project): DuckDB replays featurization + the fitted
    // weights bit-for-bit, and the fit-quality gates ride as literal
    // booleans (model beats the best constant; seed scores higher).
    "text_quality_classifier" -> q { c =>
      val docs = c.tw("documents")
      val isSeed = col("lang") === "en"
      val label = isSeed.cast("double")
      val model = QualityClassifier.fit(docs, "text", isSeed)
      val scoreCol = QualityClassifier.score(model, col("text"))
      // ONE gate pass (was five sequential corpus scans): with
      // y ∈ {0,1}, Σy² = Σy, so the best-constant SSE is Σy − (Σy)²/n
      // — no separate mean pass; model SSE and the class-conditional
      // means ride the same aggregate
      val gr = docs.agg(
        count(lit(1L)).as("n"),
        sum(label).as("sy"),
        sum(pow(label - scoreCol, 2.0)).as("sse"),
        avg(when(isSeed, scoreCol)).as("s1"),
        avg(when(!isSeed, scoreCol)).as("s0")).head()
      require(!gr.isNullAt(3) && !gr.isNullAt(4),
        "quality-classifier gate needs BOTH classes present: the seed " +
          "predicate (lang = 'en') matched all or none of the corpus")
      val n = gr.getLong(0).toDouble
      val sy = gr.getDouble(1)
      val fitBeatsNull = gr.getDouble(2) < sy - sy * sy / n
      val seedHigher = gr.getDouble(3) > gr.getDouble(4)
      // the oracle ASSERTS TRUE for both gates — a false measurement
      // here breaks the hash (not a tautological echo of the value)
      OracleStash.put("text_quality_classifier",
        QualityClassifier.scoreOracleSql(
          model, "(lang = 'en')", threshold = 0.5,
          gates = Seq("fit_beats_null", "seed_mean_higher")))
      docs.select(col("doc_id"), isSeed.as("is_seed"),
        round(scoreCol, 6).as("score"),
        (scoreCol >= 0.5).as("kept"),
        lit(fitBeatsNull).as("fit_beats_null"),
        lit(seedHigher).as("seed_mean_higher"))
        .orderBy("doc_id")
    },

    // classifier as a PERSISTED artifact: fit, commit the weight table
    // through the lakehouse sink, score from a COLD read — parquet
    // doubles round-trip IEEE-exactly, so the same model-derived oracle
    // gates the persistence plane (roundtrip_exact asserted literally).
    "text_quality_persisted" -> q { c =>
      val docs = c.tw("documents")
      val isSeed = col("lang") === "en"
      val model = QualityClassifier.fit(docs, "text", isSeed)
      val store = new graft.write.TableStore(
        Scratch.dir("graft-qc"), c.spark)
      QualityClassifier.save(store, "qc_model", model)
      val loaded = QualityClassifier.load(store, "qc_model")
      val exact = java.util.Arrays.equals(loaded.weights, model.weights) &&
        loaded.featureNames == model.featureNames &&
        loaded.lambda == model.lambda
      val scoreCol = QualityClassifier.score(loaded, col("text"))
      // TRUE asserted by the oracle: a save/load precision regression
      // (exact = false) fails the hash instead of echoing through
      OracleStash.put("text_quality_persisted",
        QualityClassifier.scoreOracleSql(loaded, "(lang = 'en')",
          threshold = 0.5, gates = Seq("roundtrip_exact")))
      docs.select(col("doc_id"), isSeed.as("is_seed"),
        round(scoreCol, 6).as("score"),
        (scoreCol >= 0.5).as("kept"),
        lit(exact).as("roundtrip_exact"))
        .orderBy("doc_id")
    },

    // PLUGGABLE classifier features — the fastText-style curation
    // model: the default surface pack EXTENDED with user-supplied
    // (Spark column, DuckDB mirror) feature pairs (digit and uppercase
    // character ratios), fitted and scored through the same
    // one-aggregate ridge plane. The oracle is assembled from each
    // feature's OWN SQL mirror plus the fitted literal polynomial, so
    // the bit-replayable contract survives pack extension. Gate: the
    // extended fit's PENALIZED objective (SSE + λ·Σw²) must not exceed
    // the default pack's — the quantity ridge provably cannot increase
    // under pack extension (raw SSE alone CAN) — asserted TRUE by the
    // oracle.
    "text_quality_custom" -> q { c =>
      import QualityClassifier.Feature
      val docs = c.tw("documents")
      val isSeed = col("lang") === "en"
      val custom = QualityClassifier.DefaultFeatures ++ Seq(
        Feature("digit_ratio",
          t => when(length(t) === 0, lit(0.0))
            .otherwise(regexp_count(t, lit("[0-9]")).cast("double") / length(t)),
          t => s"""(CASE WHEN length($t) = 0 THEN 0.0
                  |          ELSE len(regexp_extract_all($t, '[0-9]'))::DOUBLE
                  |               / length($t) END)""".stripMargin),
        Feature("upper_ratio",
          t => when(length(t) === 0, lit(0.0))
            .otherwise(regexp_count(t, lit("[A-Z]")).cast("double") / length(t)),
          t => s"""(CASE WHEN length($t) = 0 THEN 0.0
                  |          ELSE len(regexp_extract_all($t, '[A-Z]'))::DOUBLE
                  |               / length($t) END)""".stripMargin))
      val base = QualityClassifier.fit(docs, "text", isSeed)
      val model = QualityClassifier.fit(docs, "text", isSeed, feats = custom)
      val label = isSeed.cast("double")
      val sse = docs.agg(
        sum(pow(label - QualityClassifier.score(base, col("text")), 2.0)),
        sum(pow(label -
          QualityClassifier.score(model, col("text"), custom), 2.0))).head()
      // gate on the PENALIZED objective (SSE + λ·Σ w_i², bias
      // unpenalized) — the quantity ridge actually minimizes, and the
      // one that provably cannot increase when the pack extends (the
      // extended optimum can always zero the new weights). Raw SSE
      // alone CAN rise by O(λ·Δ‖w‖²) when a new feature lets the
      // penalty shrink — gating on it would be a false theorem that a
      // correlated fixture could spuriously hash-fail.
      def penalty(m: QualityClassifier.RidgeModel): Double =
        m.lambda * m.weights.drop(1).map(w => w * w).sum
      val noWorse = sse.getDouble(1) + penalty(model) <=
        sse.getDouble(0) + penalty(base) + 1e-6
      OracleStash.put("text_quality_custom",
        QualityClassifier.scoreOracleSqlFeatures(model, custom,
          "(lang = 'en')", threshold = 0.5,
          gates = Seq("custom_objective_no_worse")))
      val sc = QualityClassifier.score(model, col("text"), custom)
      docs.select(col("doc_id"), isSeed.as("is_seed"),
        round(sc, 6).as("score"), (sc >= 0.5).as("kept"),
        lit(noWorse).as("custom_objective_no_worse"))
        .orderBy("doc_id")
    },

    // repetition / boilerplate signals: distributed explode→count plan
    "text_repetition" -> q { c =>
      TextOps.repetitionSignals(c.t("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    "text_langid" -> q { c =>
      c.tw("documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.langScore(col("text"), "en").as("score_en"),
        TextOps.langScore(col("text"), "es").as("score_es"))
        .orderBy("doc_id")
    },

    "text_fingerprint" -> q { c =>
      c.t("documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")).orderBy("doc_id")
    },

    // Gopher quality-rule bands (Rae et al. 2021 §A1.1)
    "text_gopher" -> q { c =>
      c.tw("documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_words"),
        round(TextOps.meanTokenLen(col("text")), 6).as("mean_word_len"),
        round(TextOps.Gopher.symbolRatio(col("text")), 6).as("symbol_ratio"),
        round(TextOps.Gopher.alphaWordRatio(col("text")), 6).as("alpha_ratio"),
        TextOps.Gopher.stopwordHits(col("text")).as("stop_hits"),
        TextOps.Gopher.passes(col("text")).as("gopher_pass"))
        .orderBy("doc_id")
    },

    // PII scrub: the synthetic corpus carries no PII, so deterministic
    // addresses/IPs/phones are appended per doc_id IDENTICALLY on both
    // sides, then counted and redacted — the oracle checks the regex
    // semantics byte-for-byte
    "text_pii" -> q { c =>
      val docs = c.tw("documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 ph +1 555 00"), col("doc_id"))
          .as("ptext"))
      docs.select(col("doc_id"),
        TextOps.Pii.countEmails(col("ptext")).as("n_emails"),
        TextOps.Pii.countIps(col("ptext")).as("n_ips"),
        TextOps.Pii.countPhones(col("ptext")).as("n_phones"),
        TextOps.Pii.redact(col("ptext")).as("clean"))
        .orderBy("doc_id")
    },

    // ---- deduplication -------------------------------------------------
    "dedup_exact" -> q { c =>
      Dedup.exactGroups(c.t("documents"), "doc_id", "text")
        .orderBy("fp")
    },

    // corpus BPE tokenizer training: 8 merges learned from the distinct
    // word table (Sennrich'16); oracle is the generated 8-stage DuckDB
    // re-derivation of the same iterative argmax+replace
    "text_bpe_train" -> q { c =>
      BpeTrainer.train(c.t("documents"), "text", rounds = 8)
    },

    // tokenizer APPLY: per-doc token counts under the corpus-trained
    // merge table — the vocab join is vocabulary-sized, never corpus²
    "text_bpe_segment" -> q { c =>
      BpeTrainer.segmentCounts(c.t("documents"), "doc_id", "text", rounds = 8)
    },

    // tokenizer ENCODE: actual per-doc token-ID sequences (dense-rank
    // symbol ids, bounded by alphabet + merge rounds); every id in
    // every position re-derived by the oracle. The id sequence is
    // emitted as a canonical comma-joined string: the driver's
    // comparison harness sorts result frames in pandas, which cannot
    // sort array cells — scalars only in gate output
    "text_bpe_encode" -> q { c =>
      BpeTrainer.encode(c.t("documents"), "doc_id", "text", rounds = 8)
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
    },

    // tokenizer as a PERSISTED artifact: train once, commit the merge
    // table + segmented vocabulary through the lakehouse sink, then
    // encode from the COLD-read artifact — same oracle as the in-plan
    // encode, so the store round-trip provably changes nothing
    "text_bpe_persisted" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-bpe"), c.spark)
      val docs = c.t("documents")
      graft.ext.BpeStore.save(store, "tok", docs, "text", rounds = 8)
      graft.ext.BpeStore.encodeFrom(store, "tok", docs, "doc_id", "text")
        // comma-joined ids: pandas-sortable scalars for the driver gate
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
    },

    // unigram (SentencePiece-style) tokenizer family — the second
    // trainer beside BPE: substring seed → greedy-segmentation usage
    // prune to the target vocabulary (the deterministic integer
    // variant, [[graft.ext.UnigramTrainer]]). The oracle re-derives
    // the ENTIRE training loop in SQL — seed counts, every prune
    // round's segmentation sweep, the final vocabulary — with only
    // LOOP BOUNDS (longest word, prune schedule) riding as literals,
    // so the oracles deposit through the run-time OracleStash.
    "text_unigram_train" -> q { c =>
      val docs = c.t("documents")
      val ms = UnigramTrainer.maxStepsOf(docs, "text")
      OracleStash.put("text_unigram_train",
        UnigramTrainer.oracleSql(unigramCfg, ms))
      UnigramTrainer.train(docs, "text", unigramCfg).orderBy("tok_id")
    },

    // unigram APPLY: per-doc word/piece counts under the trained
    // vocabulary — vocabulary-sized join, never corpus²
    "text_unigram_segment" -> q { c =>
      val docs = c.t("documents")
      OracleStash.put("text_unigram_segment", UnigramTrainer
        .segmentOracleSql(unigramCfg, UnigramTrainer.maxStepsOf(docs, "text")))
      UnigramTrainer.segmentCounts(docs, "doc_id", "text", unigramCfg)
    },

    // unigram ENCODE: per-doc token-id sequences (the BPE encode tail
    // over the unigram segmentation — ids are the dense byte-order
    // rank of the USED pieces); comma-joined for the pandas-sortable
    // driver gate, like text_bpe_encode
    "text_unigram_encode" -> q { c =>
      val docs = c.t("documents")
      OracleStash.put("text_unigram_encode", UnigramTrainer
        .encodeOracleSql(unigramCfg, UnigramTrainer.maxStepsOf(docs, "text")))
      UnigramTrainer.encode(docs, "doc_id", "text", unigramCfg)
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
    },

    // unigram tokenizer as a PERSISTED artifact: train, commit pieces
    // + segmented vocab through the lakehouse sink, encode from the
    // COLD-read artifact — same oracle as the in-plan encode, so the
    // store round-trip provably changes nothing (the text_bpe_persisted
    // pattern)
    "text_unigram_persisted" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-uni"), c.spark)
      val docs = c.t("documents")
      OracleStash.put("text_unigram_persisted", UnigramTrainer
        .encodeOracleSql(unigramCfg, UnigramTrainer.maxStepsOf(docs, "text")))
      graft.ext.UnigramStore.save(store, "tok", docs, "text", unigramCfg)
      graft.ext.UnigramStore.encodeFrom(store, "tok", docs, "doc_id", "text")
        .withColumn("token_ids",
          array_join(col("token_ids").cast("array<string>"), ","))
    },

    // EXACT-substring decontamination: per train doc, the longest
    // verbatim character span shared with the eval side (docs 0-24) —
    // the long-overlap complement of the shingle screen below, via a
    // broadcast generalized suffix automaton over the (bounded) eval
    // corpus; capped at 64 (the cap is the operator contract, see
    // SuffixContamination). STATIC suffix-adjacency oracle.
    "text_contamination_exact" -> q { c =>
      val docs = c.tw("documents", "doc_id", "text")
      graft.ext.SuffixContamination.maxOverlap(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text")
    },

    // benchmark decontamination: docs 0-24 stand in for the eval set;
    // every other doc is scored by distinct-shingle overlap with it
    "text_contamination" -> q { c =>
      val docs = c.tw("documents")
      Dedup.contaminationScores(
        docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // TRAIN/EVAL split with a leakage guard — the eval-hygiene
    // composition: deterministic 90/10 md5 split, then every train doc
    // sharing >= 50% of its distinct shingles with the eval side is
    // DROPPED from train (count comparison, no FP-rounding boundary);
    // 5 leaky docs trip the guard at sf0.01
    "ops_train_eval_split" -> q { c =>
      import graft.operators.HashSplit
      val split = HashSplit.assign(c.tw("documents"), "doc_id",
        Seq("train" -> 0.9, "eval" -> 0.1))
      val train = split.filter(col("split") === "train")
      val ev = split.filter(col("split") === "eval")
      val leaky = Dedup.contaminationScores(train, ev, "doc_id", "text", n = 3)
        .filter(col("n_contaminated") * 2 >= col("n_shingles"))
        .select("doc_id")
      train.join(leaky, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("split"))
        .unionByName(ev.select(col("doc_id"), col("split")))
        .orderBy("split", "doc_id")
    },

    // corpus-level duplicate-line (boilerplate) removal; the synthetic
    // corpus is single-line, so lines are derived by splitting on a
    // frequent word IDENTICALLY on both sides
    "dedup_lines" -> q { c =>
      val docs = c.t("documents").select(col("doc_id"),
        replace(col("text"), lit(" table "), lit("\n")).as("ltext"))
      Dedup.stripDuplicateLines(docs, "doc_id", "ltext", minDocs = 2)
        .orderBy("doc_id")
    },

    "dedup_ngram_jaccard" -> q { c =>
      Dedup.ngramJaccardPairs(c.tw("documents"), "doc_id", "text",
        n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    },

    "dedup_minhash_lsh" -> q { c =>
      Dedup.pairs(c.t("documents"), "doc_id", "text", MinHash(n = 3),
        threshold = 0.9).orderBy("id_a", "id_b")
    },

    // INCREMENTAL dedup against a persisted index: docs 0-249 are
    // indexed through the lakehouse sink (corpus + banded signatures),
    // then docs 250+ arrive as a new batch and are checked against the
    // STORED index — the old corpus is re-shingled only for colliding
    // candidates. Oracle = the full cross-set exact jaccard, so the
    // gate proves the index round-trip loses no pair
    "dedup_incremental" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-incdedup"),
        c.spark)
      val docs = c.tw("documents")
      IncrementalDedup.indexCorpus(store, "corpus",
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      IncrementalDedup.checkBatch(store, "corpus",
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .orderBy("new_id", "old_id")
    },

    // exact-substring duplicate spans (Lee et al. 2022): per-doc count
    // and ratio of token windows shared verbatim with another document
    "dedup_substring_spans" -> q { c =>
      Dedup.substringDupSpans(c.tw("documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // asymmetric CONTAINMENT (near-subset) pairs: catches a short doc
    // wholly quoted inside a long one, which jaccard's union term
    // swamps; one-sided prefix filter + exact inverted-index verify
    "dedup_containment" -> q { c =>
      Dedup.containmentPairs(c.tw("documents"), "doc_id", "text",
        n = 3, threshold = 0.8).orderBy("id_a", "id_b")
    },

    // near-dup CLUSTERS from pairwise matches: connected components by
    // min-label propagation over the LSH pair graph; DuckDB verifies
    // with a recursive-CTE reachability closure over the exact pairs
    "dedup_components" -> q { c =>
      val pairs = Dedup.pairs(c.t("documents"), "doc_id", "text",
        MinHash(n = 3), threshold = 0.9)
      graft.operators.ConnectedComponents.components(pairs, "id_a", "id_b",
        idCol = "doc_id")
        .orderBy("doc_id")
    },

    // CANONICAL SELECTION: after clustering near-dups, keep the
    // highest-QUALITY member of each cluster (not an arbitrary one) —
    // the curation step that follows dedup in production pipelines.
    // Survivors = corpus minus per-component quality losers; the oracle
    // re-derives cluster closure + the quality ranking end to end.
    "dedup_canonical_select" -> q { c =>
      val docs = c.tw("documents")
      val pairs = Dedup.pairs(docs, "doc_id", "text", MinHash(n = 3),
        threshold = 0.9)
      Dedup.canonicalByScore(docs, "doc_id", pairs,
        TextOps.qualityScore(col("text")))
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // md5-derived token hash → the DuckDB oracle re-derives the full
    // simhash + pigeonhole-band pipeline in SQL bit arithmetic
    "dedup_simhash" -> q { c =>
      Dedup.pairs(Dedup.simhashTable(c.t("documents"), "doc_id", "text"),
        "_id", "sh", Blocks(6)).orderBy("id_a", "id_b")
    },

    "dedup_embedding_cosine" -> q { c =>
      Dedup.embeddingCosinePairs(c.t("embeddings"), "vec_id", "embedding",
        threshold = 0.45).orderBy("id_a", "id_b")
    },

    // the SCALE path for exact near-dup: triangle-tiled self-join
    // (shuffle equi-join on the tile key, memory-bounded tasks, no
    // BroadcastNestedLoopJoin) — identical output to the quadratic
    // baseline, gated against the same exact oracle
    "dedup_embedding_tiled" -> q { c =>
      Dedup.embeddingCosinePairsTiled(c.t("embeddings"), "vec_id", "embedding",
        threshold = 0.45, tiles = 8).orderBy("id_a", "id_b")
    },

    // SemDeDup: near-dup search restricted to k-means cluster mates —
    // the pair space is Σ|cluster|², never n²; the oracle re-derives the
    // identical clustering so the within-cluster pairs hash-match
    // BINARY-ACCELERATED near-dup: sign-bit codes as the blocking
    // function (pigeonhole Hamming bands — perfect recall within the
    // budget), exact cosine verify on candidates only. The corpus is
    // the embeddings plus an affine-perturbed twin of each (the same
    // drift construction the sim gates use): every (base, twin) pair
    // sits at cosine ≈ 0.9996 with ~1 flipped sign bit, so the oracle
    // — which replays BOTH contract filters (cosine ≥ τ AND
    // sign-Hamming ≤ H) over the all-pairs product — gates the whole
    // pack → band → join → verify pipeline exactly.
    "dedup_embedding_hamming" -> q { c =>
      val base = c.t("embeddings").select("vec_id", "embedding")
      val twin = base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01) + lit(0.005))
          .cast("array<float>").as("embedding"))
      Dedup.pairs(base.unionByName(twin), "vec_id", "embedding",
        SignBits(64, 8), threshold = 0.98).orderBy("id_a", "id_b")
    },

    // the WIDE (multi-word) variant of the same operator: 128-dim
    // vectors built as concat(e, −e) — cosine-PRESERVING (the negated
    // half doubles both the dot product and the squared norms), so the
    // same near-dup geometry now spans TWO packed words and the
    // per-word pigeonhole banding (the SignBits layout, ≥ maxHamming+1
    // disjoint bands over real bits) is what's under test. The affine twin flips sign bits in
    // BOTH halves (x ∈ (0, ε) flips in the negated half), and the
    // oracle replays both contract filters over the exact all-pairs
    // product at 128 dims — a banding bug that loses a cross-word
    // candidate hash-fails.
    "dedup_hamming_wide" -> q { c =>
      val emb = c.t("embeddings").select("vec_id", "embedding")
      val wide = concat(col("embedding"),
        transform(col("embedding"), x => negate(x))).as("embedding")
      val base = emb.select(col("vec_id"), wide)
      val twin = base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01) + lit(0.005))
          .cast("array<float>").as("embedding"))
      Dedup.pairs(base.unionByName(twin), "vec_id", "embedding",
        SignBits(128, 8), threshold = 0.98).orderBy("id_a", "id_b")
    },

    // DEDUP-ON-INGEST for the vector destination: appendDeduped screens
    // the batch against the COLLECTION with a k=1 probe at
    // nprobe = nlist (exact) and appends only the rows with no
    // near-duplicate already stored — twins of indexed vectors are
    // dropped, fresh odds land. The oracle rebuilds the final corpus
    // membership (evens ∪ non-dup batch rows) plus the kept/dropped
    // counts from the same round-6 cosine contract the probe reports.
    "sim_append_dedup" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(Scratch.dir("graft-vad"), c.spark)
      val (evens, batch) = appendDedupFrames(c)
      VectorSink.writeIvf(store, "emb", evens, "vec_id", "embedding",
        nlist = 8)
      val (kept, dropped) = VectorSink.appendDeduped(store, "emb",
        batch, "vec_id", "embedding", threshold = 0.98, nprobe = 8)
      store.read("emb").select(col("vec_id"))
        .withColumn("kept", lit(kept)).withColumn("dropped", lit(dropped))
        .orderBy("vec_id")
    },

    // the BINARY twin of dedup-on-ingest: the screen is the
    // collection's own sign codes (no full-precision corpus touched —
    // the 32×-smaller scan), pruned by the coarse quantizer like
    // serving; at nprobe = nlist the Hamming budget is the exact
    // contract (sign codes carry no magnitudes, so there is no cosine
    // side here). Twins flip ≈1 bit → dropped at H = 8; odds land
    // unless they sign-agree with an even within the budget — all
    // replayed by the oracle's EXISTS over the all-pairs product.
    "sim_bq_append_dedup" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(Scratch.dir("graft-bad"), c.spark)
      val (evens, batch) = appendDedupFrames(c)
      VectorSink.writeIvf(store, "emb", evens, "vec_id", "embedding",
        nlist = 8, codec = Codec.Binary)
      val (kept, dropped) = VectorSink.appendDedupedBinary(store, "emb",
        batch, "vec_id", "embedding", maxHamming = 8, nprobe = 8)
      store.read("emb").select(col("vec_id"))
        .withColumn("kept", lit(kept)).withColumn("dropped", lit(dropped))
        .orderBy("vec_id")
    },

    // the QUANTIZED third of dedup-on-ingest: a PQ collection stores
    // m-byte codes, so the screen distance is ADC — batch vector vs
    // the DEQUANTIZED stored codes (the serving-shortlist quantity).
    // The threshold lives in ADC space: at (m=8, ksub=16) the
    // reconstruction is tight enough that twins' ADC-vs-their-even
    // concentrates ≈0.5-0.8 while unrelated odds stay under ≈0.51, so
    // t=0.52 drops nearly every twin, keeps every odd, and lets a few
    // low-ADC twins land — the documented ingest-safe degradation,
    // REPLAYED EXACTLY by the oracle (deterministic per-subspace
    // k-means → codes → reconstructions → round-6 ADC membership). A
    // screen that quietly compared raw vectors (which the collection
    // does not store) or mixed generations would hash-fail.
    "sim_pq_append_dedup" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(Scratch.dir("graft-qad"), c.spark)
      val (evens, batch) = appendDedupFrames(c)
      VectorSink.writeIvf(store, "emb", evens, "vec_id", "embedding",
        nlist = 8, codec = Codec.Pq(m = 8, ksub = 16, iters = 2))
      val (kept, dropped) = VectorSink.appendDeduped(store, "emb",
        batch, "vec_id", "embedding", threshold = 0.52, nprobe = 8)
      store.read("emb").select(col("vec_id"))
        .withColumn("kept", lit(kept)).withColumn("dropped", lit(dropped))
        .orderBy("vec_id")
    },

    // COLLECTION RETENTION policies: generations accumulate history
    // until a policy expires them (keep-N / keep-T-days — the
    // Delta/Iceberg snapshot-expiry semantics on the collection
    // plane), pinned generations are retained past any window, the
    // manual prune REFUSES over a pin, and — the core proof — a
    // pinned generation still TIME-TRAVELS after the sweep vacuumed
    // its expired siblings' segments. Sequence: 3 generations → pin
    // gen 1 → TTL=∞ sweep retains all → keep-1 sweep expires gen 2
    // (gen 1 survives on the pin) → prune(1) refuses → probe gen 1
    // cold (exact over the evens, the brute-force oracle) → unpin →
    // TTL=0 sweep at a future `now` expires gen 1 → only the live
    // gen 3 remains. Booleans/gen-lists ride the hash as literals
    // with the EXPECTED values hardcoded in the oracle.
    "lifecycle_collection_ttl" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      import c.spark.implicits._
      val store = new TableStore(Scratch.dir("graft-ttl"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      VectorSink.writeIvf(store, "emb", evens, "vec_id", "embedding",
        nlist = 8)                                                 // gen 1
      VectorSink.append(store, "emb",
        vecs.filter(col("vec_id") % 4 === 1), "vec_id", "embedding") // gen 2
      VectorSink.append(store, "emb",
        vecs.filter(col("vec_id") % 4 === 3), "vec_id", "embedding") // gen 3
      VectorSink.pinGeneration(store, "emb", 1L)
      val rA = VectorSink.applyRetention(store, "emb", keepLast = 1,
        ttlMs = Some(Long.MaxValue))
      val ttlRetains = rA.removed.isEmpty &&
        rA.remaining == Seq(1L, 2L, 3L)
      val rB = VectorSink.applyRetention(store, "emb", keepLast = 1)
      val pruneRefused =
        try { VectorSink.pruneGenerations(store, "emb", keep = 1); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("PINNED") }
      // gen 2's segments are vacuumed by now; the PINNED gen 1 must
      // still probe cold — collect (driver-small: 5 queries × k 5)
      // because the final sweep below reclaims gen 1's files too
      val g1 = VectorSink.generationAt(store, "emb", 1L)
      val probed = VectorSink.topK(store, "emb",
        evens.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nprobe = 8, at = Some(g1))
        .orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
          r.getDouble(3)))
      VectorSink.unpinGeneration(store, "emb", 1L)
      val rC = VectorSink.applyRetention(store, "emb", keepLast = 1,
        ttlMs = Some(0L), now = System.currentTimeMillis() + 600000L)
      probed.toSeq.toDF("query_id", "rank", "match_id", "cosine")
        .withColumn("ttl_retains", lit(ttlRetains))
        .withColumn("removed_mid", lit(rB.removed.mkString(",")))
        .withColumn("retained_by_pin", lit(rB.retainedByPin.mkString(",")))
        .withColumn("prune_refused", lit(pruneRefused))
        .withColumn("final_gens", lit(
          (rC.removed == Seq(1L)).toString + ":" +
            VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // INCREMENTAL embedding near-dup — the binary plane in the
    // dedup_incremental shape: the even half is indexed ONCE (vectors +
    // sign codes + pigeonhole band keys persisted through the store),
    // then a new batch (affine twins of the evens + the untouched
    // odds) screens ONLY itself against the band table — the old
    // corpus is never re-coded, and the exact verify reads back just
    // the vectors that collided. The oracle replays both contract
    // filters over the full new × old product, so a band-space
    // round-trip bug (codes persisted ≠ codes checked) hash-fails.
    "dedup_hamming_incremental" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-hinc"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      IncrementalDedup.indexCorpus(store, "corpus", evens,
        "vec_id", "embedding", SignBits(64, 8))
      val twins = evens.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01) + lit(0.005))
          .cast("array<float>").as("embedding"))
      val odds = vecs.filter(col("vec_id") % 2 === 1)
      IncrementalDedup.checkBatch(store, "corpus",
        twins.unionByName(odds), "vec_id", "embedding",
        threshold = 0.98, sig = SignBits(64, 8))
        .orderBy("new_id", "old_id")
    },

    "dedup_semantic" -> q { c =>
      Dedup.semanticPairs(c.t("embeddings"), "vec_id", "embedding",
        k = 4, iters = 3, threshold = 0.45)
        .orderBy("id_a", "id_b")
    },

    // hand-rolled Lloyd's k-means: deterministic first-k init, 3 rounds,
    // decimal-exact centroid means — the oracle re-derives every
    // iteration (assignment is a map-only broadcast-literal argmin)
    "sim_kmeans_assign" -> q { c =>
      Clustering.lloydAssign(c.t("embeddings"), "vec_id", "embedding",
        k = 4, iters = 3)
    },

    // decimal-exact covariance of the embedding coordinates — the
    // oracle-checkable face of the PCA plane (the one-pass GramMatrixAgg
    // scale path is spec-compared against this declarative formulation)
    "sim_pca_covariance" -> q { c =>
      Pca.covariance(c.t("embeddings"), "vec_id", "embedding")
    },

    // int8 scalar quantization of the embedding corpus (FAISS-SQ8
    // shape): one stats pass → 1-row broadcast → map-only codegen
    // kernel; the oracle re-derives every code and the reconstruction
    // error bit-exactly
    // the code vector is emitted comma-joined (scalar) — the driver's
    // pandas comparison cannot sort array cells
    "sim_quantize_int8" -> q { c =>
      Quantize.int8(c.t("embeddings"), "vec_id", "embedding")
        .withColumn("q", array_join(col("q").cast("array<string>"), ","))
        .orderBy("vec_id")
    },

    // PRODUCT QUANTIZATION (Jégou'11): 4 subspaces × 4 centroids
    // trained in one melted aggregate per Lloyd round, map-only encode
    // to m-byte codes + reconstruction error; the oracle re-runs all
    // four subspace k-means (namespaced stages) and re-derives every
    // code and error
    "sim_pq_codes" -> q { c =>
      val vecs = c.t("embeddings")
      val model = Pq.train(vecs, "vec_id", "embedding",
        m = 4, ksub = 4, iters = 2)
      Pq.encode(vecs, "vec_id", "embedding", model)
        .withColumn("codes", array_join(col("codes").cast("array<string>"), ","))
        .orderBy("vec_id")
    },

    // ADC search over PQ codes: the scan scores code RECONSTRUCTIONS
    // (m bytes/vector), shortlists, then exact re-ranks only the
    // shortlist's full vectors — the shared rerank tail, whole
    // pipeline oracle-re-derived
    "sim_pq_adc" -> q { c =>
      val vecs = c.t("embeddings")
      val model = Pq.train(vecs, "vec_id", "embedding",
        m = 4, ksub = 4, iters = 2)
      Pq.adcTopK(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") < 10), model, k = 5, shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // OPQ (Ge et al. 2013, parametric): PCA-eigenbasis rotation with
    // greedy eigenvalue allocation balancing Σ log λ across the m
    // subspaces, then the full PQ→ADC→re-rank chain IN ROTATED SPACE.
    // Model-derived oracle: the rotation rides the SQL as literals and
    // DuckDB re-derives everything downstream of it (rotated vectors
    // bit-exact via the unrolled MatVecMul chain, per-subspace k-means,
    // codes, shortlist, re-rank). Self-gated in-query: rotation
    // orthonormal, greedy allocation at least as balanced as the naive
    // contiguous eigen split, per-bucket spectrum non-increasing.
    "sim_opq_adc" -> q { c =>
      val vecs = c.t("embeddings")
      val model = Opq.train(vecs, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 4, iters = 2)
      OracleStash.put("sim_opq_adc", Opq.adcOracleSql(model,
        ksub = 4, iters = 2, k = 5, shortlist = 20, maxQueryId = 10))
      val (orthOk, balanced, bucketsSorted) =
        Opq.selfGates(model.rotation, model.spectrum, m = 4)
      Opq.adcTopK(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") < 10), model, k = 5, shortlist = 20)
        .withColumn("orthonormal_ok", lit(orthOk))
        .withColumn("allocation_beats_contiguous", lit(balanced))
        .withColumn("buckets_nonincreasing", lit(bucketsSorted))
        .orderBy("query_id", "rank")
    },

    // ADC search over the quantized corpus: dequantized-cosine
    // shortlist (the scan that reads 4x less data), then exact re-rank
    // of ONLY the shortlist's full-precision vectors — the whole
    // quantize→dequantize→shortlist→re-rank pipeline re-derived by the
    // oracle
    "sim_quantized_rerank" -> q { c =>
      val vecs = c.t("embeddings")
      Quantize.rerankTopK(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") < 10), k = 5, shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // rank-4 PCA fit (one-pass gram aggregate + driver Jacobi) and
    // map-only codegen projection; self-gated in-query: the empirical
    // population variance of each component must equal its eigenvalue
    // (rel. 1e-6), the component rows must be orthonormal, eigenvalues
    // non-increasing
    "sim_pca_project" -> q { c =>
      val emb = c.t("embeddings")
      val model = Pca.fit(emb, "embedding", dim = 64, r = 4)
      // deposit the model-derived DuckDB oracle (canonical-sign
      // components as literals, projection re-derived from the raw
      // parquet) for the post-run oracle dump — see Pca.projectOracleSql
      OracleStash.put("sim_pca_project", Pca.projectOracleSql(model, rOut = 3))
      val orthOk = {
        val v = model.components
        val r = v.length
        var worst = 0.0
        for (i <- 0 until r; j <- 0 until r) {
          val dot = v(i).zip(v(j)).map { case (a, b) => a * b }.sum
          worst = math.max(worst, math.abs(dot - (if (i == j) 1.0 else 0.0)))
        }
        worst < 1e-8
      }
      val varSorted = model.variances.sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1))
      val proj = graft.ext.Dedup.pin(c.t("embeddings")
        .select(col("vec_id"),
          Pca.projection(model, col("embedding")).as("pc")))
      val lams = model.variances.zipWithIndex
        .map { case (l, i) => (i, l) }.toSeq
      val lamDf = c.spark.createDataFrame(lams).toDF("k", "lam")
      val varGate = proj
        .select(posexplode(col("pc")).as(Seq("k", "y")))
        .groupBy("k").agg(avg(col("y") * col("y")).as("m2"),
          avg(col("y")).as("m1"))
        .join(broadcast(lamDf), Seq("k"))
        .agg(max(abs(col("m2") - col("m1") * col("m1") - col("lam"))
          / col("lam")).as("worst"))
        .select((col("worst") < 1e-6).as("var_matches"))
      proj.crossJoin(broadcast(varGate))
        .select(col("vec_id"),
          // + 0.0 folds IEEE negative zero (repr-distinct in the
          // driver's pandas compare) into 0.0, same as the cov oracle
          (round(element_at(col("pc"), 1), 4) + 0.0).as("pc1"),
          (round(element_at(col("pc"), 2), 4) + 0.0).as("pc2"),
          (round(element_at(col("pc"), 3), 4) + 0.0).as("pc3"),
          col("var_matches"),
          lit(orthOk).as("orthonormal_ok"),
          lit(varSorted).as("variance_sorted"))
        .orderBy("vec_id")
    },

    // ---- similarity search ----------------------------------------------
    // radius (range) search: everything within a cosine floor of each
    // broadcast query — output is data-dependent, not k-bounded
    "sim_radius_search" -> q { c =>
      val vecs = c.t("embeddings")
      Similarity.radiusSearch(vecs, vecs.filter(col("vec_id") < 5),
        "vec_id", "embedding", threshold = 0.28)
        .orderBy("query_id", "match_id")
    },

    "sim_brute_topk" -> q { c =>
      val vecs = c.t("embeddings")
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // BINARY QUANTIZATION — 1-bit sign codes, XOR+popcount Hamming
    // shortlist, exact cosine re-rank. Unlike the recall-gated ANN
    // variants this is EXACT-oracle-gated end to end: the shortlist is
    // pure integer ordering the oracle replays (hamming = count of
    // disagreeing sign bits, packing-layout-independent), so the hash
    // gates codes + Hamming kernel + re-rank, not just "rows came out".
    "sim_binary_rerank" -> q { c =>
      val vecs = c.t("embeddings")
      Similarity.binaryTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, rerank = 20)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // IVF with nprobe = nlist degrades to exact brute force by
    // construction (every list probed, exact cosine re-rank) — so the
    // same exact oracle gates the whole IVF machinery end to end
    "sim_ivf_exact" -> q { c =>
      val vecs = c.t("embeddings")
      Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // the PERSISTED index path (VectorSink): write the IVF collection
    // through the lakehouse sink, then probe it from a COLD read —
    // nprobe = nlist ≡ exact, so the brute-force oracle gates the whole
    // write→commit→read→probe cycle, not just the probe math
    "sim_ivf_persisted" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-vs"), c.spark)
      val vecs = c.t("embeddings")
      graft.write.VectorSink.writeIvf(store, "emb", vecs,
        "vec_id", "embedding", nlist = 16)
      graft.write.VectorSink.topK(store, "emb",
        vecs.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // PERSISTED BINARY collection: write the even half as 1-bit sign
    // codes, APPEND the odd half (model-free encode under the stored
    // coarse quantizer), then probe cold at nprobe = nlist — all lists
    // probed means the Hamming shortlist covers the whole live corpus,
    // so the exact sim_binary_rerank oracle gates write → append →
    // manifest commit → cold read → Hamming shortlist → re-rank.
    "sim_ivf_bq" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vbq"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      VectorSink.writeIvf(store, "emb", vecs.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nlist = 8, codec = Codec.Binary)
      VectorSink.append(store, "emb",
        vecs.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      VectorSink.topK(store, "emb", vecs.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nprobe = 8, fullVectors = Some(vecs),
        shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // REBALANCE maintenance gate: write the collection over the EVEN
    // half, append the ODD half as a DRIFTED blob (a shifted/shrunk
    // affine image that the stored quantizer piles into few lists),
    // then rebalance (retrain + rewrite through writeIvf) and probe the
    // rebalanced collection at nprobe = nlist — exact regardless of
    // centroids, so the brute-force oracle over the union corpus gates
    // the whole write→append→rebalance→read→probe cycle. The skew
    // reduction itself rides the hash as literal booleans.
    "sim_ivf_rebalance" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vrb"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val base = vecs.filter(col("vec_id") % 2 === 0)
      // the drifted ingest: x -> 0.5x + 4 per dimension, cast back to
      // float so stored widths match (the oracle replays the same two
      // correctly-rounded ops + the float rounding)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.writeIvf(store, "emb", base, "vec_id", "embedding", nlist = 8)
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")
      val before = VectorSink.listSkew(store, "emb")
      val ran = VectorSink.rebalance(store, "emb", "vec_id", "embedding",
        maxSkew = 1.5)
      val after = VectorSink.listSkew(store, "emb")
      val all = base.unionByName(blob)
      VectorSink.topK(store, "emb", all.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("rebalance_ran", lit(ran))
        .withColumn("skew_reduced", lit(after < before))
        .orderBy("query_id", "rank")
    },

    // BATCH ANN JOIN — the retrieval/semantic-dedup primitive at corpus
    // scale: EVERY odd vector (not a handful of interactive queries)
    // probes an IVF index over the even half in one plan. The probe
    // ranking is the map-only CentroidTopN explode (no queries × nlist
    // shuffle; the small keyed exchange is the AQE decision point), so
    // the shape survives a million-query batch. nprobe = nlist ≡ exact,
    // so the brute-force all-pairs top-k oracle gates it.
    "sim_batch_ann_join" -> q { c =>
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val corpus = vecs.filter(col("vec_id") % 2 === 0)
      val queries = vecs.filter(col("vec_id") % 2 === 1 &&
        col("vec_id") < 1000)
      Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // COLLECTION DESCRIBE — the operational summary endpoint every
    // vector store ships: one row of generation/model/census/
    // maintenance-trigger state off the driver-file metadata plane
    // (no data-plane scan). Built over the delete+upsert lifecycle so
    // every count is oracle-derivable; skew is model-dependent, so it
    // rides as a sanity boolean while dead_fraction (a pure count
    // ratio) is gated exactly.
    "sim_collection_describe" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vdesc"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      VectorSink.writeIvf(store, "emb", evens,
        "vec_id", "embedding", nlist = 8)                            // gen 1
      VectorSink.delete(store, "emb",
        evens.filter(col("vec_id") % 6 === 0).select("vec_id"),
        "vec_id")                                                    // gen 2
      VectorSink.upsert(store, "emb",
        vecs.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"),
            transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
              .cast("array<float>").as("embedding")),
        "vec_id", "embedding")                                       // gen 3
      VectorSink.describeCollection(store, "emb")
        .withColumn("skew_sane", col("list_skew") >= 1.0)
        .withColumn("dead_fraction", round(col("dead_fraction"), 6))
        .drop("list_skew")
    },

    // FILTERED vector search (the metadata-filtered top-k every vector
    // store exposes): the predicate applies BEFORE the rank — a
    // PRE-filter, so k survivors come back whenever the probed lists
    // hold them (a post-filter of the unfiltered top-k loses rows). At
    // nprobe = nlist the result is exactly the brute-force top-k over
    // the filtered corpus; the id-allowlist variant (`among`, a
    // left-semi restriction) must agree row-for-row and rides the hash
    // as a boolean.
    "sim_filtered_search" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vflt"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      VectorSink.writeIvf(store, "emb", vecs, "vec_id", "embedding", nlist = 16)
      val pred = col("vec_id") % 3 === 0
      val queries = vecs.filter(col("vec_id") < 10)
      val byPred = VectorSink.topK(store, "emb", queries, "vec_id",
        "embedding", k = 5, nprobe = 16, where = Some(pred))
      val byList = VectorSink.topK(store, "emb", queries, "vec_id",
        "embedding", k = 5, nprobe = 16,
        among = Some(vecs.filter(pred).select("vec_id")))
      val agree = byPred.exceptAll(byList).isEmpty &&
        byList.exceptAll(byPred).isEmpty
      byPred
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("among_agrees", lit(agree))
        .orderBy("query_id", "rank")
    },

    // MERGE-ON-READ DELETE + UPSERT on a persisted collection: delete
    // tombstones ids in one O(ids) commit (no corpus rewrite — the
    // Iceberg equality-delete shape: segment-scoped coverage, so later
    // appends resurrect); upsert lands tombstone+batch in ONE atomic
    // commit, replacing the live even rows AND resurrecting the deleted
    // multiples (%4 ⊆ %2 overlaps %6). Probe at nprobe = nlist ≡ brute
    // force over the LIVE set, so the oracle is exact over
    // (evens \ %6 \ %4 verbatim) ∪ (%4 through the affine map); the
    // physical/live row counts and the generation list ride the hash.
    "sim_ivf_delete_upsert" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vdu"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      VectorSink.writeIvf(store, "emb", evens,
        "vec_id", "embedding", nlist = 8)                            // gen 1
      VectorSink.delete(store, "emb",
        evens.filter(col("vec_id") % 6 === 0).select("vec_id"),
        "vec_id")                                                    // gen 2
      val replaced = vecs.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.upsert(store, "emb", replaced, "vec_id", "embedding") // gen 3
      val live = evens
        .filter(col("vec_id") % 6 =!= 0 && col("vec_id") % 4 =!= 0)
        .unionByName(replaced)
      VectorSink.topK(store, "emb", live.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("live_rows", lit(store.read("emb").count()))
        .withColumn("physical_rows",
          lit(VectorSink.listSizes(store, "emb").map(_._2).sum))
        .withColumn("gens",
          lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // GENERATION TIME TRAVEL over a persisted collection: write gen 1
    // (even half, SQ8), append a drifted blob (gen 2), rebalance (gen 3
    // retrains the whole model) — then probe GENERATION 1 through its
    // pinned snapshots: pre-append corpus, pre-retrain centroids/stats.
    // nprobe = nlist + corpus-wide shortlist makes the historical probe
    // exactly the ADC re-rank over the EVEN half, so the oracle replays
    // that chain over the same subset; the surviving generation list
    // rides the hash as a literal.
    "sim_ivf_generation" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-vgen"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.writeIvf(store, "emb", even, "vec_id", "embedding",
        nlist = 8, codec = Codec.Sq8)                              // gen 1
      VectorSink.append(store, "emb", blob, "vec_id", "embedding") // gen 2
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",    // gen 3
        fullVectors = Some(even.unionByName(blob)), maxSkew = 1.0)
      val g1 = VectorSink.generationAt(store, "emb", 1L)
      VectorSink.topK(store, "emb", even.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nprobe = 8, at = Some(g1),
        fullVectors = Some(even), shortlist = 20)
        .withColumn("gens",
          lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // the PQ twin of sim_ivf_generation: gen 1 persists PQ codes of the
    // even half, an append + full retrain create gens 2-3, then the
    // probe time-travels to GENERATION 1 — pinned codebooks, pinned
    // codes, pinned corpus. nprobe = nlist + corpus-wide shortlist ≡
    // the PQ ADC chain over the even half alone, so the oracle replays
    // adcOracleSql restricted to that subset.
    "sim_pq_generation" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-pgen"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.writeIvf(store, "emb", even, "vec_id", "embedding",
        nlist = 8, codec = Codec.Pq(m = 4, ksub = 4, iters = 2))      // gen 1
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")    // gen 2
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",       // gen 3
        fullVectors = Some(even.unionByName(blob)), maxSkew = 1.0)
      val g1 = VectorSink.generationAt(store, "emb", 1L)
      VectorSink.topK(store, "emb", even.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nprobe = 8, at = Some(g1),
        fullVectors = Some(even), shortlist = 20)
        .withColumn("gens",
          lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // the OPQ twin: gen 1 pins a ROTATION trained on the even half; an
    // append + full retrain (which re-derives a DIFFERENT eigenbasis
    // over the drifted union) create gens 2-3, then the probe
    // time-travels to generation 1 — it must answer with gen 1's OWN
    // rotation, codebooks and corpus, not the retrained model's. The
    // oracle replays the whole chain from gen 1's rotation LITERALS
    // read back off the pinned manifest row, so a probe that resolved
    // any model piece from the head generation hash-fails.
    "sim_opq_generation" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-ogen"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.writeIvf(store, "emb", even, "vec_id", "embedding",
        nlist = 8, codec = Codec.Opq(m = 4, ksub = 4, iters = 2))     // gen 1
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")    // gen 2
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",       // gen 3
        fullVectors = Some(even.unionByName(blob)), maxSkew = 1.0)
      val g1 = VectorSink.generationAt(store, "emb", 1L)
      val Codec.Model.Opq(_, model1) = g1.model
      OracleStash.put("sim_opq_generation", Opq.adcOracleSqlOver(model1,
        ksub = 4, iters = 2, k = 5, shortlist = 20, maxQueryId = 10,
        corpusWhere = "vec_id % 2 = 0",
        tailCols = Seq("'1,2,3' AS gens")))
      VectorSink.topK(store, "emb", even.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nprobe = 8, at = Some(g1),
        fullVectors = Some(even), shortlist = 20)
        .withColumn("gens",
          lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // the BINARY twin: sign codes are model-free, so what generation 1
    // pins is the CORPUS membership (the even half) and the coarse
    // quantizer — after an append + full retrain, the gen-1 probe at
    // nprobe = nlist must shortlist over the even half ALONE (a probe
    // that leaked the head corpus would surface drifted odd ids and
    // hash-fail against the evens-only Hamming oracle).
    "sim_bq_generation" -> q { c =>
      import graft.write.{Codec, TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-bgen"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      VectorSink.writeIvf(store, "emb", even, "vec_id", "embedding",
        nlist = 8, codec = Codec.Binary)                              // gen 1
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")    // gen 2
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",       // gen 3
        fullVectors = Some(even.unionByName(blob)), maxSkew = 1.0)
      val g1 = VectorSink.generationAt(store, "emb", 1L)
      VectorSink.topK(store, "emb", even.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, nprobe = 8, at = Some(g1),
        fullVectors = Some(even), shortlist = 20)
        .withColumn("gens",
          lit(VectorSink.generations(store, "emb").mkString(",")))
        .orderBy("query_id", "rank")
    },

    // the DATASET-FACADE vector surface (GraftDataset.vectors): the
    // reference reaches vector destinations through the dataset, not
    // the sink — describe / generations / time-travel probe in one
    // read-side handle. The gen-1 probe at nprobe = nlist ≡ brute
    // force over the even half (gen 1's corpus, before the append);
    // the describe fields ride the hash as literal columns.
    "ds_vectors" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(Scratch.dir("graft-dsv"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val even = vecs.filter(col("vec_id") % 2 === 0)
      val odd = vecs.filter(col("vec_id") % 2 === 1)
      VectorSink.writeIvf(store, "emb", even, "vec_id", "embedding",
        nlist = 8)                                                // gen 1
      VectorSink.append(store, "emb", odd, "vec_id", "embedding") // gen 2
      val ds = new graft.dataset.GraftDataset(store,
        new graft.schema.SchemaRegistry("vec"), c.spark)
      val coll = ds.vectors("emb")
      val d = coll.describe().select("gen", "metric", "dim", "nlist",
        "physical_rows", "generations").head()
      require(coll.generations == Seq(1L, 2L),
        s"expected generations 1,2 — got ${coll.generations}")
      coll.topK(even.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nprobe = 8, at = Some(1L))
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("gen", lit(d.getLong(0)))
        .withColumn("metric", lit(d.getString(1)))
        .withColumn("dim", lit(d.getInt(2)))
        .withColumn("nlist", lit(d.getInt(3)))
        .withColumn("physical_rows", lit(d.getLong(4)))
        .withColumn("generations", lit(d.getLong(5)))
        .orderBy("query_id", "rank")
    },

    // IVF + SQ8: the collection persists INT8 CODES (4x less data under
    // every probe) + dequantization stats; probe = centroid-ranked
    // lists -> ADC shortlist over stored codes -> exact re-rank of the
    // shortlist only. nprobe = nlist makes it exactly the ADC re-rank
    // pipeline, so that oracle gates the whole cold
    // write->commit->read->dequantize->probe cycle
    "sim_ivf_sq8" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-vsq"), c.spark)
      val vecs = c.t("embeddings")
      graft.write.VectorSink.writeIvf(store, "emb", vecs, "vec_id",
        "embedding", nlist = 16, codec = graft.write.Codec.Sq8)
      graft.write.VectorSink.topK(store, "emb",
        vecs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nprobe = 16, fullVectors = Some(vecs), shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // IVF + OPQ + PQ persisted collection (FAISS OPQm,IVFx,PQy): the
    // rotation is a pinned model sub-table; the probe rotates queries
    // under the generation's rotation and runs the PQ probe verbatim.
    // At nprobe = nlist the coarse lists cancel out and the chain is
    // exactly the OPQ ADC pipeline — the model-derived oracle replays
    // rotation (literals) → per-subspace k-means → codes → ADC
    // shortlist → exact re-rank, all from the STORED model read back
    // off the manifest (so a store round-trip corruption fails the gate)
    "sim_ivf_opq" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-vopq"), c.spark)
      val vecs = c.t("embeddings")
      graft.write.VectorSink.writeIvf(store, "emb", vecs, "vec_id",
        "embedding", nlist = 8,
        codec = graft.write.Codec.Opq(m = 4, ksub = 4, iters = 2))
      val g = graft.write.VectorSink.generation(store, "emb")
      val graft.write.Codec.Model.Opq(_, model) = g.model
      OracleStash.put("sim_ivf_opq", Opq.adcOracleSql(model,
        ksub = 4, iters = 2, k = 5, shortlist = 20, maxQueryId = 10))
      val (orthOk, balanced, bucketsSorted) =
        Opq.selfGates(model.rotation, model.spectrum, m = 4)
      graft.write.VectorSink.topK(store, "emb",
        vecs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nprobe = 8, fullVectors = Some(vecs), shortlist = 20)
        .withColumn("orthonormal_ok", lit(orthOk))
        .withColumn("allocation_beats_contiguous", lit(balanced))
        .withColumn("buckets_nonincreasing", lit(bucketsSorted))
        .orderBy("query_id", "rank")
    },

    // IVF + PQ (the FAISS IVFADC layout — m-byte codes, the
    // billion-vector memory story): cold write->read->probe cycle over
    // product-quantized codes; nprobe = nlist makes it exactly the PQ
    // ADC pipeline, so that oracle gates the persisted collection
    "sim_ivf_pq" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-vpq"), c.spark)
      val vecs = c.t("embeddings")
      graft.write.VectorSink.writeIvf(store, "emb", vecs, "vec_id",
        "embedding", nlist = 8,
        codec = graft.write.Codec.Pq(m = 4, ksub = 4, iters = 2))
      graft.write.VectorSink.topK(store, "emb",
        vecs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nprobe = 8, fullVectors = Some(vecs), shortlist = 20)
        .orderBy("query_id", "rank")
    },

    // IVF (k-means inverted file) ANN — the ANN ROW-SET is
    // hash-function-defined (no SQL oracle can reproduce it), but its
    // RECALL is hash-gated: the gate emits one (query_id, n_hits, k)
    // row per query and deposits the measured ANN pairs as VALUES
    // literals into a stash oracle ([[annRecallOracleSql]]) — DuckDB
    // recomputes the exact top-k INDEPENDENTLY and intersects it with
    // those literals, so a wrong exact side, a wrong intersection, or
    // a drifted recall value all hash-mismatch. The ≥ 0.9 self-gate
    // stays as the in-run floor; QueryMeta still records the value.
    "sim_ivf_ann" -> q { c =>
      val vecs = c.t("embeddings")
      val queries = vecs.filter(col("vec_id") < 10)
      // nprobe 12/16: the round-7 regenerated embeddings pack the
      // true neighbors tighter (nprobe=8 measured recall@5 0.880 at
      // sf0.1 — under the gate); 12 measures 0.96/1.0/1.0 across SFs
      // both tiny frames feed the recall join AND the two gate counts:
      // pinned, the bucket/scan lineage runs once per side
      val approx = Dedup.pin(Similarity.ivfTopK(vecs, queries,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 12))
      val exact = Dedup.pin(Similarity.bruteForceTopK(vecs, queries,
        "vec_id", "embedding", k = 5))
      annRecallSummary("sim_ivf_ann", "IVF", approx, exact, k = 5)
    },

    // LSH ANN — same recall@k hash gate as the IVF variant
    "sim_lsh_ann" -> q { c =>
      val vecs = c.t("embeddings")
      val queries = vecs.filter(col("vec_id") < 10)
      // 20 width-3 bands: recall 1-(1-p³)²⁰ — the 16×4 construction
      // measured 0.880 at sf0.1 on the round-7 regenerated embeddings;
      // width 3 admits more candidates per band (the exact re-rank
      // trims them) and measures 0.98/1.0/1.0 across SFs
      val approx = Dedup.pin(Similarity.lshTopK(vecs, queries,
        "vec_id", "embedding", k = 5, bits = 60, bands = 20))
      val exact = Dedup.pin(Similarity.bruteForceTopK(vecs, queries,
        "vec_id", "embedding", k = 5))
      annRecallSummary("sim_lsh_ann", "LSH", approx, exact, k = 5)
    },

    // ---- corpus assembly: the composed pipeline, oracle-gated ----------
    // langid → quality bands → boilerplate line strip → near-dup
    // resolution → decontamination → mix(α=1) → domain cap → sequence
    // pack, end to end through CorpusAssembly.assemble; the DuckDB
    // oracle re-derives EVERY stage (the same fragments that gate the
    // individual operators, composed). Quality = Gopher bands with the
    // stop-word floor lifted (the synthetic corpus has no English stop
    // words; bands are corpus-tuned in the published pipelines).
    // Corpus/benchmark/config construction lives in [[AssemblyFixture]]
    // — ONE owner shared by the three gates.
    "ops_corpus_assembly" -> q { c =>
      import graft.ext.CorpusAssembly
      val (corpus, bench) = AssemblyFixture.corpusAndBench(c)
      val cfg = AssemblyFixture.baseCfg
      val (packed, _) =
        CorpusAssembly.assemble(corpus, "doc_id", "ltext", "source", bench, cfg)
      packed.select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("tok_offset"),
        col("first_chunk"), col("last_chunk"))
        .orderBy("doc_id")
    },

    // the assembly landed through the WRITE PLANE: assembleTo commits
    // the packed curation output as a normal load (append disposition,
    // _dlt_loads ledger row, _dlt_load_id stamped) — the pipeline's
    // product is a queryable lakehouse table with provenance. The
    // oracle is v1's replay verbatim (the write must change NOTHING);
    // loaded_once asserts exactly one stamped load id matching exactly
    // one status-0 ledger row, so a double-write or a missed ledger
    // commit hash-fails.
    "ops_corpus_assembly_persisted" -> q { c =>
      import graft.ext.CorpusAssembly
      import graft.write.{Dispositions, TableStore}
      val store = new TableStore(Scratch.dir("graft-cap"), c.spark)
      val disp = new Dispositions(store, c.spark)
      val (corpus, bench) = AssemblyFixture.corpusAndBench(c)
      val cfg = AssemblyFixture.baseCfg
      val loadId = disp.newLoadId()
      CorpusAssembly.assembleTo(disp, "training_order", loadId,
        corpus, "doc_id", "ltext", "source", bench, cfg)
      val t = store.read("training_order")
      // both driver-small by contract: one load id, one ledger row
      val stamped = t.select("_dlt_load_id").distinct()
        .collect().map(_.getString(0)).toSeq
      val ledgered = store.read(disp.LoadsTable)
        .filter(col("load_id") === loadId && col("status") === 0).count()
      val ok = stamped == Seq(loadId) && ledgered == 1L
      t.select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("tok_offset"),
        col("first_chunk"), col("last_chunk"))
        .withColumn("loaded_once", lit(ok))
        .orderBy("doc_id")
    },

    // the FULL modern-curation composition over the same corpus: the
    // v1 chain with (a) quality-CANONICAL near-dup resolution (each
    // duplicate cluster keeps its best text_quality member, not an
    // arbitrary one), (b) a TRAINED classifier keep stage after
    // decontamination (ridge seed-discriminator fitted ON THE
    // SURVIVORS — seed = longer-than-median docs — scoring rides the
    // keep filter as a literal dot product), and (c) the deterministic
    // epoch shuffle as terminal training order. ONE oracle replays
    // every stage, the classifier weights as run-time-fitted literals
    // (model-derived, like text_quality_classifier) and the shuffle
    // rank from the same seeded md5 — filter → dedup-keep-best →
    // decontaminate → classifier-keep → mix → cap → pack → shuffle,
    // end to end under a single hash.
    "ops_corpus_assembly_v2" -> q { c =>
      import graft.ext.{ClassifierStage, CorpusAssembly}
      val (corpus, bench) = AssemblyFixture.corpusAndBench(c)
      val cfg = AssemblyFixture.baseCfg.copy(
        canonicalQuality = Some(t => TextOps.qualityScore(t)),
        classifier = Some(ClassifierStage(
          seed = t => length(t) >= 300, threshold = 0.5)),
        shuffle = Some((42L, 1)))
      val (packed, stages) =
        CorpusAssembly.assemble(corpus, "doc_id", "ltext", "source", bench, cfg)
      OracleStash.put("ops_corpus_assembly_v2",
        corpusAssemblyOracleSql(canonical = true,
          classifier = Some((QualityClassifier.scoreExprSql(
            stages.classifier.get), 0.5)),
          shuffle = Some((42L, 1))))
      packed.select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("tok_offset"),
        col("first_chunk"), col("last_chunk"), col("shuffle_rank"))
        .orderBy("doc_id")
    },

    // ---- multimodal plumbing (stub codec, real plan shape) --------------
    "mm_decode_meta" -> q { c =>
      Multimodal.decodeMeta(
        Multimodal.asMedia(c.t("documents"), "doc_id", "text"))
        .toDF().orderBy("media_id")
    },

    "mm_resize" -> q { c =>
      Multimodal.resizePlan(
        Multimodal.decodeMeta(
          Multimodal.asMedia(c.t("documents"), "doc_id", "text")), maxDim = 256)
        .orderBy("media_id")
    },

    "mm_frame_sample" -> q { c =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(
          Multimodal.asMedia(c.t("documents"), "doc_id", "text",
            modality = "video")), stride = 4)
        .orderBy("media_id", "frame_idx")
    },

    // REAL binary video containers (GVID), synthesized deterministically
    // per document, demuxed back by the byte-walking parser with
    // stride-sampling during the walk — the oracle re-derives every
    // frame field from the same arithmetic, so the build→parse→explode
    // path is exact end to end
    // REAL pixel decode: deterministic P6 images built per doc (pixel
    // values are pure integer formulas of (doc_id, x, y)), decoded by
    // the actual PPM byte-walk with full + strided sums in ONE raster
    // pass — the DuckDB oracle recomputes the same sums from the
    // formulas over the pixel grid, so the decode is hash-checked
    "mm_pixel_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "image", Multimodal.Ppm.build(32, 16,
            (x, y) => (((d + x) % 256).toInt, ((d * 31 + y) % 256).toInt,
              ((x.toLong * y + d) % 256).toInt)))
        }
      Multimodal.Ppm.decodeStats(items, stride = 4).toDF()
        .orderBy("media_id")
    },

    // REAL compressed decode: spec-compliant truecolor PNGs built per
    // doc (formula pixels, per-row cycling filters, split IDAT), then
    // decoded through the actual compressed path — CRC-verified chunk
    // walk, multi-IDAT zlib INFLATE, all-five-filter scanline
    // reconstruction — with sums accumulated during the walk; the
    // oracle recomputes the sums from the pixel formulas, so the
    // whole compressed round trip is hash-checked end to end
    "mm_png_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "image", Multimodal.Png.build(24, 15,
            (x, y) => (((d * 3 + 5 * x + 7 * y) % 256).toInt,
              ((d * 5 + x.toLong * y) % 256).toInt,
              ((d + 2 * x + 9 * y) % 256).toInt)))
        }
      Multimodal.Png.decodeStats(items, stride = 3).toDF()
        .orderBy("media_id")
    },

    // REAL compressed decode #2: GIF89a per doc — pixel indices and the
    // 256-entry palette are integer formulas, the index raster goes
    // through the actual GIF-LZW encoder (variable-width codes, clear
    // codes) and back through the real LZW decoder, which must
    // reproduce it byte-exactly before palette mapping; the oracle
    // recomputes palette(index(x,y)) sums arithmetically, so a single
    // mis-decoded bit anywhere in the LZW stream breaks the hash
    "mm_gif_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "image", Multimodal.Gif.build(20, 12,
            (x, y) => ((7 * x + 13 * y + d) % 256).toInt,
            i => (((2 * i + d) % 256).toInt, (3 * i + 1) % 256, (i * i) % 256)))
        }
      Multimodal.Gif.decodeStats(items, stride = 2).toDF()
        .orderBy("media_id")
    },

    // REAL audio decode: deterministic PCM16 WAVs built per doc (sample
    // values are integer formulas of (doc_id, frame, channel)), decoded
    // by the actual RIFF chunk walk + one pass over the samples with
    // full + strided sums — the oracle recomputes the sums arithmetically
    "mm_audio_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "audio", Multimodal.Wav.build(16000, 2, 200,
            (f, ch) => (((d * 7 + f * 13 + ch * 29) % 65536) - 32768).toInt))
        }
      Multimodal.Wav.decodeStats(items, stride = 4).toDF().orderBy("media_id")
    },

    // REAL compressed decode #4: baseline JPEG per doc — each image is
    // 8 constant 8x8 blocks (values = integer formulas), encoded
    // through the real pipeline (FDCT → quantize → zigzag → canonical
    // Huffman with DC prediction) and decoded through the full T.81
    // path (DHT-driven Huffman decode, dequant, IDCT); with DC step 8
    // constant blocks survive the lossy pipeline bit-exactly (see
    // Jpeg scaladoc), so the oracle re-derives the sums analytically
    // while the engine runs the complete bitstream machinery
    "mm_jpeg_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "image", graft.ext.Jpeg.build(32, 16,
            (x, y) => ((d * 11 + (x / 8) * 17 + (y / 8) * 29) % 256).toInt))
        }
      graft.ext.Jpeg.decodeStats(items, stride = 4).toDF()
        .orderBy("media_id")
    },

    // REAL compressed decode #3 (audio): IMA-ADPCM WAVs per doc — the
    // block headers and 4-bit nibble stream are integer formulas, the
    // engine walks the real adaptive quantizer (step table, index
    // adaptation, clamp) over two blocks, and the oracle replays the
    // SAME state machine as a recursive CTE: every decoded sample
    // depends on the entire nibble prefix, so one wrong step anywhere
    // diverges the hash
    "mm_adpcm_decode" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          Multimodal.MediaItem(d, "audio", Multimodal.Adpcm.build(
            sampleRate = 8000, blockAlign = 68, blocks = 2,
            header = b => (((d * 37 + b * 101) % 4096 - 2048).toInt,
              ((d + b * 11) % 32).toInt),
            nibble = (b, k) => ((d + b * 131 + k * 7) % 16).toInt))
        }
      Multimodal.Adpcm.decodeStats(items, stride = 4).toDF()
        .orderBy("media_id")
    },

    // REAL video: AVI/MJPEG per doc — a real RIFF/AVI container whose
    // 00dc frames are complete baseline JPEGs (constant-block, so the
    // transform decode is exact); the demux walk samples every 2nd
    // frame WITHOUT decoding the skipped ones, then each sampled frame
    // runs the full T.81 decode; the oracle re-derives every frame's
    // sum from the block formulas
    "mm_mjpeg_video" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .map { d =>
          val frames = (0 until (d % 5 + 2).toInt).map { f =>
            graft.ext.Jpeg.build(16, 8,
              (x, _) => ((d * 7 + f * 31 + (x / 8) * 13) % 256).toInt)
          }
          Multimodal.MediaItem(d, "video",
            graft.ext.Mjpeg.build(16, 8, usPerFrame = 83333, frames))
        }
      graft.ext.Mjpeg.explodeFrames(items, stride = 2).toDF()
        .select("media_id", "frame_idx", "n_frames", "width", "height",
          "pts_micros", "sum_y")
        .orderBy("media_id", "frame_idx")
    },

    "mm_video_container" -> q { c =>
      import c.spark.implicits._
      val media = c.t("documents").select(col("doc_id")).as[Long].map { id =>
        val n = (id % 7 + 1).toInt
        val cs = (0 until n).map(i => (id * 2654435761L + i * 40503L) % 4294967296L)
        Multimodal.MediaItem(id, "video",
          Multimodal.Gvid.build(320 + (id % 4).toInt * 80, 240, 24, cs, keyEvery = 4))
      }
      Multimodal.Gvid.explodeFrames(media, stride = 2)
        .toDF().select("media_id", "width", "height", "fps", "n_frames",
          "frame_idx", "is_key", "checksum", "pts_micros")
        .orderBy("media_id", "frame_idx")
    },

    // image NEAR-DUP: deterministic P6 rasters in 12 pattern groups ×
    // 4 brightness variants (the variant brightens only the first
    // dHash block column — the re-encode/levels-shift class of
    // duplicate byte-level dedup cannot see); each image is dHashed by
    // the REAL raster walk (integer luma block sums → 64 gradient-sign
    // bits) and paired through the shared SimHash pigeonhole machinery
    // (16-bit block equi-join + exact bit_count verify — never
    // all-pairs). The oracle re-derives luma sums, hash bits, banding
    // and hamming from the pixel formulas, so the whole decode→hash→
    // bucket→verify pipeline is hash-checked end to end
    "mm_phash_pairs" -> q { c =>
      Dedup.pairs(Phash.dhashTable(phashMedia(
        c.t("documents").filter(col("doc_id") < 48))), "_id", "sh",
        Blocks(3)).orderBy("id_a", "id_b")
    },

    // INCREMENTAL image near-dup against a PERSISTED dHash index (the
    // never-rescan contract on the perceptual plane — stronger than
    // the MinHash analog: the stored hash IS the exact-verify input,
    // so indexed images are never re-decoded): index two batches, then
    // screen a third against the cold index; same fixture as
    // mm_phash_pairs, oracle restricted to the (new × old) pair face
    "mm_phash_incremental" -> q { c =>
      val store = new graft.write.TableStore(
        Scratch.dir("graft-phinc"), c.spark)
      def items(lo: Long, hi: Long) = Phash.dhashTable(phashMedia(
        c.t("documents").filter(col("doc_id") >= lo && col("doc_id") < hi)))
      IncrementalDedup.indexCorpus(store, "img", items(0, 24), "_id", "sh",
        Blocks(3))
      IncrementalDedup.indexCorpus(store, "img", items(24, 36), "_id", "sh",
        Blocks(3))
      IncrementalDedup.checkBatch(store, "img", items(36, 48), "_id", "sh",
        sig = Blocks(3)).orderBy("new_id", "old_id")
    },

    // CROSS-MODAL dedup composition — the full multimodal-corpus
    // resolution pipeline: text near-dup pairs (MinHash recall + exact
    // jaccard verify, corpus-wide) UNION image near-dup pairs (dHash
    // over each doc's attached image, first 48 docs carry one) feed
    // ONE pair graph; connected components collapse chains that no
    // single modality sees whole. Every stage is the already-gated
    // machinery; the oracle replays both pair faces and the recursive
    // closure in one statement
    "mm_crossmodal_dedup" -> q { c =>
      val textPairs = Dedup.pairs(c.t("documents"), "doc_id", "text",
        MinHash(n = 3), threshold = 0.9).select("id_a", "id_b")
      val imgPairs = Dedup.pairs(Phash.dhashTable(
        phashMedia(c.t("documents").filter(col("doc_id") < 48))), "_id", "sh",
        Blocks(3)).select("id_a", "id_b")
      graft.operators.ConnectedComponents.components(
        textPairs.unionByName(imgPairs).distinct(), "id_a", "id_b",
        idCol = "doc_id")
        .orderBy("doc_id")
    },

    // video NEAR-DUP: real AVI/MJPEG videos (constant-block baseline
    // JPEG frames — transform decode exact) in 12 groups × 4 first-
    // block-brightness variants; every 2nd frame is demuxed + decoded
    // + dHashed in one walk, and videos pair when ≥ half their aligned
    // sampled frames hash within 7 bits — candidates from the
    // (frame_idx, block, value) pigeonhole join, never all-pairs. The
    // oracle re-derives frame hashes from the block formulas, replays
    // the banding, match count and fraction
    "mm_video_neardup" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .filter(_ < 48)
        .map { d =>
          val k = d % 12
          val vv = d / 12
          val n = (d % 3).toInt + 4
          val frames = (0 until n).map { f =>
            graft.ext.Jpeg.build(72, 16, (x, y) => {
              val bx = x / 8
              val by = y / 8
              // bx² and bx·k terms: group-specific, non-monotonic
              // gradients, so cross-group videos don't hash alike
              ((k * 37 + f * 29 + bx * bx * 13 + bx * k * 11 + by * 31 +
                (if (bx == 0) vv * 3 else 0L)) % 256).toInt
            })
          }
          Multimodal.MediaItem(d, "video",
            graft.ext.Mjpeg.build(72, 16, usPerFrame = 83333, frames))
        }
      Phash.videoPairs(items, stride = 2, maxHamming = 7, minMatchFrac = 0.5)
        .orderBy("id_a", "id_b")
    },

    // audio NEAR-DUP: real PCM16 WAV clips in 12 groups × 4 variants
    // (the variant bumps three scattered windows' amplitude — the
    // re-master/edit class of duplicate), energy-delta fingerprinted
    // in one sample walk, paired through the shared pigeonhole
    // machinery; the oracle re-derives window energies, slope bits,
    // banding and hamming from the sample formula
    "mm_audio_fingerprint" -> q { c =>
      import c.spark.implicits._
      val items = c.t("documents").select(col("doc_id").cast("long")).as[Long]
        .filter(_ < 48)
        .map { d =>
          val k = d % 12
          val vv = d / 12
          Multimodal.MediaItem(d, "audio", Multimodal.Wav.build(
            8000, 1, 650, (f, _) =>
              (((k * 13 + f * 7) % 97) * 50 - 2400 +
                (if (f / 10 == 0 || f / 10 == 5 || f / 10 == 9)
                  vv * 900 else 0L)).toInt))
        }
      Dedup.pairs(AudioFp.fingerprintTable(items), "_id", "sh", Blocks(7))
        .orderBy("id_a", "id_b")
    }
  )

  /** Static oracles plus the model-derived oracles deposited by the
    * gate queries at run time through the KEYED [[OracleStash]] (the
    * dump in [[graft.Verify]] happens after all queries ran, so each
    * entry is populated by then; absent → rows-only check, as before
    * round 9). */
  def oracles: Map[String, String] =
    staticOracles ++ OracleStash.entries("sim_pca_project", "sim_opq_adc",
      "sim_ivf_opq", "sim_opq_generation", "text_quality_classifier",
      "text_quality_persisted", "text_quality_custom",
      "ops_corpus_assembly_v2", "sim_ivf_ann", "sim_lsh_ann",
      "text_unigram_train", "text_unigram_segment", "text_unigram_encode",
      "text_unigram_persisted")

  /** The composed corpus-assembly oracle: every stage re-derived with
    * the same SQL fragments that gate the standalone operators. ONE
    * builder serves both the v1 pipeline and the v2 curation variant
    * (quality-canonical near-dup keeper, trained classifier keep with
    * run-time-fitted literal weights, terminal epoch shuffle) — a
    * shared prefix cannot silently diverge between the two gates.
    *
    * `classifier` = (score polynomial over the featurization column
    * names, keep threshold); the polynomial comes from
    * [[QualityClassifier.scoreExprSql]] on the model the QUERY fitted,
    * so this oracle is model-derived exactly like
    * text_quality_classifier's. */
  private def corpusAssemblyOracleSql(canonical: Boolean,
      classifier: Option[(String, Double)],
      shuffle: Option[(Long, Int)]): String = {
    val scores = TextOps.LangProfiles.map { case (l, ws) =>
      s"""len(list_filter(string_split_regex(trim(t), '\\s+'),
         |        w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l""".stripMargin
    }.mkString(",\n    ")
    val langs = TextOps.LangProfiles.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs
      .map(l => s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'")
      .mkString("\n         ")
    // near-dup keeper: component minimum (v1) or the best-quality
    // member under the text_quality composite over the CLEANED text
    // (v2 — the exact dedup_canonical_select ranking, rounded-6 on
    // both engines, ties to the lowest id)
    val losers =
      if (!canonical)
        """losers AS (
          |  SELECT id AS doc_id
          |  FROM (SELECT id, min(r) AS component FROM reach GROUP BY id)
          |  WHERE id <> component),""".stripMargin
      else
        s"""comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
           |cqual AS (
           |  SELECT doc_id,
           |    round(0.4 * least(1.0, n_tok::DOUBLE / 50.0)
           |        + 0.3 * (1.0 - pr)
           |        + 0.3 * least(1.0, (CASE WHEN n_tok = 0 THEN 0.0
           |                            ELSE n_stop::DOUBLE / n_tok END) * 5.0),
           |          6) AS quality
           |  FROM (
           |    SELECT doc_id,
           |${QualityClassifier.featurizationSqlOver("tc")}
           |    FROM cleand)),
           |losers AS (
           |  SELECT doc_id FROM (
           |    SELECT c.doc_id,
           |      row_number() OVER (PARTITION BY component
           |        ORDER BY quality DESC, c.doc_id) AS rn
           |    FROM comp c JOIN cqual USING (doc_id))
           |  WHERE rn > 1),""".stripMargin
    // trained classifier keep: featurize the cleaned text of the
    // decontamination survivors, apply the fitted literal polynomial,
    // keep scores at/above the threshold
    val classifierCtes = classifier.map { case (scoreExpr, thr) =>
      s"""feat AS (
         |  SELECT doc_id,
         |${QualityClassifier.featurizationSqlOver("tc")}
         |  FROM kept),
         |cls AS (
         |  SELECT doc_id,
         |    $scoreExpr AS score
         |  FROM feat),
         |curated AS (
         |  SELECT kept.* FROM kept JOIN cls USING (doc_id)
         |  WHERE score >= ${java.lang.Double.toString(thr)}),""".stripMargin
    }.getOrElse("")
    val cappedFrom = if (classifier.isDefined) "curated" else "kept"
    // terminal training order: the deterministic epoch-shuffle rank
    // (seeded md5 over the id — TrainingOrder.orderKey verbatim)
    val shuffleCol = shuffle.map { case (seed, epoch) =>
      s""",
         |  (row_number() OVER (
         |    ORDER BY md5('$seed:$epoch:' || doc_id::VARCHAR), doc_id) - 1)::BIGINT
         |    AS shuffle_rank""".stripMargin
    }.getOrElse("")
    // every MULTIPLY-REFERENCED CTE is MATERIALIZED: DuckDB inlines
    // plain CTEs, so each extra reference re-evaluates the whole
    // upstream tree — with this chain's depth the evaluation count grew
    // exponentially (measured: the v2 oracle at sf0.01 cost 277 s
    // inlined vs 0.7 s materialized, bit-identical rows). Single-
    // reference CTEs stay inlined (nothing to share); `reach` is
    // recursive (iterative by construction — the keyword is redundant
    // there).
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT doc_id, source, replace(text, ' table ', chr(10)) AS t
       |  FROM documents WHERE doc_id >= 25),
       |lidscore AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM d),
       |lid AS MATERIALIZED (
       |  SELECT d.* FROM d JOIN (
       |    SELECT doc_id,
       |      CASE $cases
       |           ELSE 'und' END AS lang_pred
       |    FROM lidscore) lp USING (doc_id)
       |  WHERE lp.lang_pred = 'en'),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(t)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(t), '\\s+')) END AS n_words,
       |    length(regexp_replace(t, '\\s+', '', 'g')) AS n_nonspace,
       |    len(regexp_extract_all(t, '#|\\.\\.\\.')) AS n_sym,
       |    len(list_filter(string_split_regex(trim(t), '\\s+'),
       |        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha
       |  FROM lid),
       |qual AS MATERIALIZED (
       |  SELECT lid.* FROM lid JOIN g USING (doc_id)
       |  WHERE n_words >= 50 AND n_words <= 100000
       |    AND n_nonspace::DOUBLE / n_words >= 3.0
       |    AND n_nonspace::DOUBLE / n_words <= 10.0
       |    AND n_sym::DOUBLE / n_words <= 0.1
       |    AND n_alpha::DOUBLE / n_words >= 0.8),
       |l AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS idx, ls[i] AS line, trim(ls[i]) AS norm
       |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM qual),
       |       LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g2),
       |b AS (
       |  SELECT norm AS dup FROM l WHERE norm <> ''
       |  GROUP BY norm HAVING count(DISTINCT doc_id) >= 2),
       |clean AS (
       |  SELECT l.doc_id,
       |    coalesce(string_agg(line, chr(10) ORDER BY idx)
       |      FILTER (WHERE b.dup IS NULL), '') AS tc
       |  FROM l LEFT JOIN b ON l.norm = b.dup
       |  GROUP BY l.doc_id),
       |cleand AS MATERIALIZED (
       |  SELECT c.doc_id, q.source, c.tc,
       |    len(regexp_extract_all(c.tc, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
       |      AS n_tokens
       |  FROM clean c JOIN qual q USING (doc_id)),
       |toks AS MATERIALIZED (
       |  SELECT doc_id,
       |    string_split(lower(regexp_replace(trim(tc), '\\s+', ' ', 'g')), ' ') AS ts
       |  FROM cleand),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) g3
       |  UNION
       |  SELECT doc_id, array_to_string(ts, ' ') AS shingle
       |  FROM toks WHERE len(ts) < 3),
       |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
       |  WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.9),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.b AS id, r.r FROM reach r JOIN edges e ON e.a = r.id),
       |$losers
       |dedup AS MATERIALIZED (
       |  SELECT * FROM cleand WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
       |benchtoks AS MATERIALIZED (
       |  SELECT doc_id, string_split(lower(regexp_replace(
       |    trim(replace(text, ' table ', chr(10))), '\\s+', ' ', 'g')), ' ') AS ts
       |  FROM documents WHERE doc_id < 25),
       |benchsh AS (
       |  SELECT DISTINCT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |  FROM benchtoks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) g4
       |  UNION
       |  SELECT DISTINCT array_to_string(ts, ' ') FROM benchtoks WHERE len(ts) < 3),
       |dsh AS (SELECT doc_id, shingle FROM sh JOIN dedup USING (doc_id)),
       |contam AS (
       |  SELECT d2.doc_id, count(*) AS n_shingles, count(bs.shingle) AS n_contaminated
       |  FROM dsh d2 LEFT JOIN benchsh bs USING (shingle)
       |  GROUP BY 1),
       |kept AS MATERIALIZED (
       |  SELECT dedup.* FROM dedup JOIN contam USING (doc_id)
       |  WHERE NOT (n_contaminated::DOUBLE >= n_shingles::DOUBLE * 0.2)),
       |$classifierCtes
       |capped AS (
       |  SELECT doc_id, source, n_tokens FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_tokens DESC, doc_id) AS rn FROM $cappedFrom)
       |  WHERE rn <= 10),
       |packed AS (
       |  SELECT doc_id, source, n_tokens::BIGINT AS n_tokens,
       |    coalesce(sum(n_tokens::BIGINT) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS tok_offset
       |  FROM capped)
       |SELECT doc_id, source, n_tokens, tok_offset,
       |  tok_offset // 512 AS first_chunk,
       |  (tok_offset + greatest(n_tokens, 1) - 1) // 512 AS last_chunk$shuffleCol
       |FROM packed ORDER BY doc_id""".stripMargin
  }

  private val staticOracles: Map[String, String] = Map(
    "text_token_count" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // featurization = the ONE guarded fragment the classifier oracles
    // share (QualityClassifier.featurizationSql): blank docs tokenize
    // to 0, empty docs never divide by zero — same values as before on
    // every non-degenerate doc
    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |${graft.ext.QualityClassifier.featurizationSql}
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, pr, n_tok,
         |    CASE WHEN n_tok = 0 THEN 0.0
         |         ELSE n_stop::DOUBLE / n_tok END AS sr
         |  FROM t)
         |SELECT doc_id, round(pr, 6) AS punct_ratio,
         |  round(sr, 6) AS stop_ratio,
         |  round(0.4 * least(1.0, n_tok::DOUBLE / 50.0)
         |      + 0.3 * (1.0 - pr)
         |      + 0.3 * least(1.0, sr * 5.0), 6) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
        |tops AS (
        |  SELECT doc_id, max(n) AS top_n, sum(n) AS total
        |  FROM counts GROUP BY doc_id),
        |lines AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls
        |  FROM documents)
        |SELECT l.doc_id,
        |  round(CASE WHEN len(ls) <= 1 THEN 0.0
        |        ELSE 1.0 - len(list_distinct(ls))::DOUBLE / len(ls) END, 6)
        |    AS dup_line_ratio,
        |  round(coalesce(t.top_n::DOUBLE / t.total, 0.0), 6) AS top_token_share
        |FROM lines l LEFT JOIN tops t ON l.doc_id = t.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    "text_langid" -> {
      val scores = TextOps.LangProfiles.map { case (l, ws) =>
        s"""len(list_filter(string_split_regex(trim(text), '\\s+'),
           |        t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l""".stripMargin
      }.mkString(",\n    ")
      val langs = TextOps.LangProfiles.map(_._1)
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs
        .map(l => s"WHEN s_$l > 0 AND s_$l = $best THEN '$l'")
        .mkString("\n       ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM documents)
         |SELECT doc_id,
         |  CASE $cases
         |       ELSE 'und' END AS lang_pred,
         |  s_en AS score_en, s_es AS score_es
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      s"SELECT doc_id, md5($canonSql) AS fp FROM documents ORDER BY doc_id",

    // full simhash pipeline in DuckDB bit arithmetic: per-token 64-bit
    // hash from the two md5 halves (same construction as the engine's
    // Dedup.tokenHash64), 64 per-bit majority votes, packed UBIGINT
    // simhash, 7 pigeonhole 9-bit blocks, exact hamming verify
    "dedup_simhash" -> {
      val sums = (0 until 64).map(b =>
        s"sum(((h >> $b) & 1)::BIGINT) AS s$b").mkString(", ")
      // literal 2^b values: DuckDB's << overflows at bit 63 even under
      // an UBIGINT cast, a plain literal casts fine
      val pack = (0 until 64).map(b =>
        s"(CASE WHEN 2 * s$b > n THEN ${BigInt(1) << b}::UBIGINT ELSE 0::UBIGINT END)")
        .mkString(" | ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($canonSql, ' ')) AS tok
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::UBIGINT * 4294967296::UBIGINT
         |      + ('0x' || substr(md5(tok), 9, 8))::UBIGINT AS h
         |  FROM toks),
         |votes AS (SELECT doc_id, count(*) AS n, $sums FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, $pack AS sh FROM votes),
         |banded AS (
         |  SELECT doc_id, sh, gs.b AS blk, (sh >> (gs.b * 9)) & 511 AS blk_val
         |  FROM sh, generate_series(0, 6) gs(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
         |FROM banded a JOIN banded b
         |  ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 6
         |ORDER BY id_a, id_b""".stripMargin
    },

    "text_gopher" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
        |    len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(string_split_regex(trim(text), '\s+'), s)))
        |      AS stop_hits
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_words, stop_hits,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE n_nonspace::DOUBLE / n_words END AS mwl,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE n_sym::DOUBLE / n_words END AS sr,
        |    CASE WHEN n_words = 0 THEN 0.0
        |         ELSE n_alpha::DOUBLE / n_words END AS ar
        |  FROM t)
        |SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
        |  round(sr, 6) AS symbol_ratio, round(ar, 6) AS alpha_ratio, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |   AND sr <= 0.1 AND ar >= 0.8 AND stop_hits >= 2) AS gopher_pass
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_pii" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 10.0.'
        |      || (doc_id % 256) || '.7 ph +1 555 00' || doc_id AS ptext
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(ptext,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(ptext,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(ptext, '\+\d[\d ()-]{6,}\d')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(ptext,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+\d[\d ()-]{6,}\d', '[PHONE]', 'g') AS clean
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_bpe_train" -> BpeTrainer.oracleSql(rounds = 8),

    "text_bpe_segment" -> BpeTrainer.segmentOracleSql(rounds = 8),

    "text_bpe_encode" -> BpeTrainer.encodeOracleSql(rounds = 8),

    "text_bpe_persisted" -> BpeTrainer.encodeOracleSql(rounds = 8),

    "text_contamination_exact" ->
      graft.ext.SuffixContamination.oracleSql(evalSplit = 25),

    "text_contamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
         |sh AS (
         |$shingleSql),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
         |corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 25),
         |counts AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_contaminated
         |  FROM corpus c JOIN bench b USING (shingle) GROUP BY 1)
         |SELECT counts.doc_id, n_shingles,
         |  coalesce(n_contaminated, 0) AS n_contaminated,
         |  round(coalesce(n_contaminated, 0)::DOUBLE / n_shingles, 6)
         |    AS contaminated_share
         |FROM counts LEFT JOIN hits ON counts.doc_id = hits.doc_id
         |ORDER BY counts.doc_id""".stripMargin,

    "ops_train_eval_split" ->
      s"""WITH s AS (
         |  SELECT doc_id, text,
         |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |              < 3865470566
         |         THEN 'train' ELSE 'eval' END AS split
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split($canonSql, ' ') AS ts FROM s),
         |sh AS (
         |$shingleSql),
         |evs AS (
         |  SELECT DISTINCT shingle FROM sh JOIN s USING (doc_id)
         |  WHERE split = 'eval'),
         |tr AS (
         |  SELECT sh.doc_id AS doc_id, shingle FROM sh JOIN s USING (doc_id)
         |  WHERE split = 'train'),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1),
         |hits AS (
         |  SELECT t.doc_id, count(*) AS n_hit
         |  FROM tr t JOIN evs USING (shingle) GROUP BY 1),
         |leaky AS (
         |  SELECT counts.doc_id FROM counts JOIN hits USING (doc_id)
         |  WHERE 2 * n_hit >= n_sh)
         |SELECT doc_id, split FROM s WHERE split = 'eval'
         |UNION ALL
         |SELECT doc_id, 'train' AS split FROM s
         |WHERE split = 'train'
         |  AND doc_id NOT IN (SELECT doc_id FROM leaky)
         |ORDER BY split, doc_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
         |sh AS (
         |$shingleSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(n_inter::DOUBLE / n_sh, 6) AS containment
         |FROM inter JOIN sz ON id_a = sz.doc_id
         |WHERE n_inter::DOUBLE / n_sh >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_lines" ->
      """WITH d AS (
        |  SELECT doc_id, replace(text, ' table ', chr(10)) AS ltext
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, i - 1 AS idx, ls[i] AS line, trim(ls[i]) AS norm
        |  FROM (SELECT doc_id, string_split(ltext, chr(10)) AS ls FROM d),
        |       LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
        |b AS (
        |  SELECT norm AS dup FROM l WHERE norm <> ''
        |  GROUP BY norm HAVING count(DISTINCT doc_id) >= 2)
        |SELECT l.doc_id, count(*) AS n_lines, count(b.dup) AS n_dropped,
        |  coalesce(string_agg(line, chr(10) ORDER BY idx)
        |    FILTER (WHERE b.dup IS NULL), '') AS clean_text
        |FROM l LEFT JOIN b ON l.norm = b.dup
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,

    "dedup_exact" ->
      s"""SELECT md5($canonSql) AS fp, min(doc_id) AS keeper_id,
         |  count(*) AS dup_count
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    // the composed pipeline: every stage re-derived with the same SQL
    // fragments that gate the standalone operators
    "ops_corpus_assembly" ->
      corpusAssemblyOracleSql(canonical = false, classifier = None,
        shuffle = None),

    // the persisted run must replay v1's oracle verbatim (the write
    // plane changes nothing); loaded_once asserted TRUE
    "ops_corpus_assembly_persisted" ->
      s"""SELECT *, TRUE AS loaded_once FROM (
         |${corpusAssemblyOracleSql(canonical = false, classifier = None,
              shuffle = None)}
         |) ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" -> (jaccardSql(0.8) + " ORDER BY id_a, id_b"),

    "dedup_substring_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
         |sh AS (
         |$shingleSql),
         |dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
         |tot AS (SELECT doc_id, count(*) AS n_windows FROM sh GROUP BY doc_id),
         |dups AS (
         |  SELECT doc_id, count(*) AS n_dup_windows
         |  FROM sh JOIN dup USING (shingle) GROUP BY doc_id)
         |SELECT t.doc_id, n_windows,
         |  coalesce(n_dup_windows, 0) AS n_dup_windows,
         |  round(coalesce(n_dup_windows, 0)::DOUBLE / n_windows, 6) AS dup_ratio
         |FROM tot t LEFT JOIN dups USING (doc_id) ORDER BY doc_id""".stripMargin,

    "dedup_components" ->
      s"""$componentClosureCtes
         |SELECT id AS doc_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" -> (jaccardSql(0.9) + " ORDER BY id_a, id_b"),

    // component closure (as dedup_components) + quality ranking within
    // each component; survivors = docs minus rank>1 members. Quality is
    // the text_quality composite — round(…, 6) INSIDE qualityScore on
    // both engines, so the ranking compares identical rounded values
    // (ties broken by doc_id identically).
    "dedup_canonical_select" ->
      s"""$componentClosureCtes,
         |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         |qual AS (
         |  SELECT doc_id,
         |    round(0.4 * least(1.0, n_tok::DOUBLE / 50.0)
         |        + 0.3 * (1.0 - pr)
         |        + 0.3 * least(1.0, (CASE WHEN n_tok = 0 THEN 0.0
         |                            ELSE n_stop::DOUBLE / n_tok END) * 5.0),
         |          6) AS quality
         |  FROM (
         |    SELECT doc_id,
         |${graft.ext.QualityClassifier.featurizationSql}
         |    FROM documents)),
         |losers AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |      row_number() OVER (PARTITION BY component
         |        ORDER BY quality DESC, c.doc_id) AS rn
         |    FROM comp c JOIN qual USING (doc_id))
         |  WHERE rn > 1)
         |SELECT doc_id, quality FROM qual
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "dedup_incremental" -> incrementalDedupOracle,

    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
        |    AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // tiling is lossless → the exact all-pairs oracle applies verbatim
    "dedup_embedding_tiled" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
        |    AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_semantic" ->
      Clustering.semanticOracleSql(k = 4, iters = 3, threshold = 0.45),

    // both contract filters replayed over the exact all-pairs product:
    // cosine ≥ 0.98 AND sign-disagreement Hamming ≤ 8 (the blocking
    // has perfect recall within the budget, so the sets coincide)
    "dedup_embedding_hamming" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(x * 1.01 + 0.005 AS REAL))
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding)+1),
        |      i -> CASE WHEN (a.embedding[i] > 0) <> (b.embedding[i] > 0)
        |           THEN 1 ELSE 0 END))::INTEGER AS hamming,
        |    list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]) AS cs
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, hamming, round(cs, 6) AS cosine
        |FROM pairs WHERE cs >= 0.98 AND hamming <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // dedup-on-ingest ≡ membership: evens ∪ batch rows with NO even
    // neighbor at round-6 cosine ≥ 0.98 (exists ≥ t, exact at
    // nprobe = nlist)
    "sim_append_dedup" -> appendDedupOracleSql(
      """round(list_cosine_similarity(b.embedding::DOUBLE[],
        |         e.embedding::DOUBLE[]), 6) >= 0.98""".stripMargin),

    // binary dedup-on-ingest ≡ membership under the Hamming-only
    // contract: a batch row drops iff ANY even sign-agrees within the
    // budget (nprobe = nlist makes the pruned screen exact)
    "sim_bq_append_dedup" -> appendDedupOracleSql(
      """list_sum(list_transform(range(1, len(b.embedding)+1),
        |         i -> CASE WHEN (b.embedding[i] > 0) <> (e.embedding[i] > 0)
        |              THEN 1 ELSE 0 END)) <= 8""".stripMargin),

    // quantized (ADC) dedup-on-ingest ≡ the SAME membership skeleton
    // with the screen's right side swapped to the evens' PQ code
    // reconstructions (training replayed deterministically on the
    // evens, Pq.deqCtesSql) under "round-6 ADC cosine ≥ 0.52"
    "sim_pq_append_dedup" -> appendDedupOracleSql(
      """round(list_cosine_similarity(b.embedding::DOUBLE[], e.deq), 6)
        |       >= 0.52""".stripMargin,
      prelude = Pq.deqCtesSql("vec_id % 2 = 0",
        dim = 64, m = 8, ksub = 16, iters = 2),
      dupsFrom = "deq e"),

    // retention gate: the pinned gen-1 probe at nprobe = nlist ≡ brute
    // force over the EVEN half (gen 1's corpus — proving the pin kept
    // it time-travelable after two sweeps vacuumed its siblings), and
    // every policy outcome hardcoded at its EXPECTED value (the
    // engine emits measured)
    "lifecycle_collection_ttl" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10 AND q.vec_id % 2 = 0 AND c.vec_id % 2 = 0),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine,
        |  TRUE AS ttl_retains, '2' AS removed_mid,
        |  '1' AS retained_by_pin, TRUE AS prune_refused,
        |  'true:3' AS final_gens
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // incremental screen ≡ both contract filters over the full
    // new × old product (the banding is recall-only)
    "dedup_hamming_incremental" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |batch AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(x * 1.01 + 0.005 AS REAL)) AS embedding
        |  FROM corpus
        |  UNION ALL
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
        |pairs AS (
        |  SELECT n.vec_id AS new_id, o.vec_id AS old_id,
        |    list_sum(list_transform(range(1, len(n.embedding)+1),
        |      i -> CASE WHEN (n.embedding[i] > 0) <> (o.embedding[i] > 0)
        |           THEN 1 ELSE 0 END))::INTEGER AS hamming,
        |    list_cosine_similarity(n.embedding::DOUBLE[],
        |      o.embedding::DOUBLE[]) AS cs
        |  FROM batch n CROSS JOIN corpus o)
        |SELECT new_id, old_id, hamming, round(cs, 6) AS cosine
        |FROM pairs WHERE cs >= 0.98 AND hamming <= 8
        |ORDER BY new_id, old_id""".stripMargin,

    // the 128-dim twin: concat(e, −e) preserves cosine exactly (the
    // negated half doubles dot and squared norms alike) while the code
    // spans two packed words — the all-pairs replay of both contract
    // filters gates the multi-word banding
    "dedup_hamming_wide" ->
      """WITH wide AS (
        |  SELECT vec_id,
        |    list_concat(embedding, list_transform(embedding, x -> -x))
        |      AS embedding
        |  FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, embedding FROM wide
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(x * 1.01 + 0.005 AS REAL))
        |  FROM wide),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding)+1),
        |      i -> CASE WHEN (a.embedding[i] > 0) <> (b.embedding[i] > 0)
        |           THEN 1 ELSE 0 END))::INTEGER AS hamming,
        |    list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]) AS cs
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, hamming, round(cs, 6) AS cosine
        |FROM pairs WHERE cs >= 0.98 AND hamming <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // decimal-exact covariance: element products cast DECIMAL(28,12)
    // per row pre-sum; final cov arithmetic is the same fixed double
    // formula on both engines
    "sim_pca_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id, unnest(v) AS xv,
        |    unnest(range(1, len(v) + 1)) AS i
        |  FROM e),
        |p AS (
        |  SELECT a.i AS i, b.i AS j,
        |    (a.xv * b.xv)::DECIMAL(28,12) AS xx
        |  FROM x a JOIN x b USING (vec_id)
        |  WHERE a.i <= b.i),
        |s2 AS (SELECT i, j, sum(xx) AS sxx FROM p GROUP BY 1, 2),
        |m AS (
        |  SELECT i, sum(xv::DECIMAL(28,12)) AS s, count(*) AS n
        |  FROM x GROUP BY 1)
        |SELECT s2.i AS i, s2.j AS j,
        |  round(sxx::DOUBLE / ma.n
        |    - (ma.s::DOUBLE / ma.n) * (mb.s::DOUBLE / mb.n), 6) + 0.0 AS cov
        |FROM s2 JOIN m ma ON ma.i = s2.i JOIN m mb ON mb.i = s2.j
        |ORDER BY s2.i, s2.j""".stripMargin,

    "sim_kmeans_assign" -> Clustering.oracleSql(k = 4, iters = 3),

    "sim_quantize_int8" -> Quantize.OracleSql,

    "sim_pq_codes" -> Pq.encodeOracleSql(dim = 64, m = 4, ksub = 4, iters = 2),

    "sim_pq_adc" -> Pq.adcOracleSql(dim = 64, m = 4, ksub = 4, iters = 2,
      k = 5, shortlist = 20, maxQueryId = 10),

    // nprobe = nlist ≡ the full PQ ADC pipeline — same oracle
    "sim_ivf_pq" -> Pq.adcOracleSql(dim = 64, m = 4, ksub = 4, iters = 2,
      k = 5, shortlist = 20, maxQueryId = 10),

    "sim_quantized_rerank" -> Quantize.RerankOracleSql,

    "sim_ivf_sq8" -> Quantize.RerankOracleSql,

    // the historical generation ≡ the ADC re-rank chain over the even
    // half alone (its training corpus); generations 1,2,3 all survive
    "sim_ivf_generation" ->
      s"""SELECT query_id, rank, match_id, cosine, '1,2,3' AS gens
         |FROM (${Quantize.rerankOracleSqlOver("vec_id % 2 = 0")}) h
         |ORDER BY query_id, rank""".stripMargin,

    // every odd vector probes the even-half index at nprobe = nlist —
    // exactly the brute-force all-pairs top-k (sides disjoint, so no
    // self-match subtlety)
    "sim_batch_ann_join" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c ON c.vec_id % 2 = 0
        |  WHERE q.vec_id % 2 = 1 AND q.vec_id < 1000),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // physical census = evens + the upsert batch; tombstones = the
    // deleted sixths + the upserted quarters; dead_fraction is the
    // same double division on both sides (IEEE-exact, then round 6)
    "sim_collection_describe" ->
      """SELECT 'emb' AS collection, 3::BIGINT AS gen,
        |  'cosine' AS metric, 64 AS dim, 8 AS nlist,
        |  ((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |    + (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |  )::BIGINT AS physical_rows,
        |  ((SELECT count(*) FROM embeddings WHERE vec_id % 6 = 0)
        |    + (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |  )::BIGINT AS tombstoned_ids,
        |  round(LEAST(1.0,
        |    ((SELECT count(*) FROM embeddings WHERE vec_id % 6 = 0)
        |      + (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |    )::DOUBLE /
        |    ((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |      + (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |    )::DOUBLE), 6) AS dead_fraction,
        |  3::BIGINT AS generations, TRUE AS skew_sane""".stripMargin,

    // pre-filter + nprobe = nlist ≡ brute force with matches drawn from
    // the filtered corpus only (queries themselves are unrestricted)
    "sim_filtered_search" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c
        |    ON c.vec_id <> q.vec_id AND c.vec_id % 3 = 0
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine,
        |  TRUE AS among_agrees
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // nprobe = nlist ≡ exact over the LIVE set after the merge-on-read
    // delete (%6 tombstoned) and upsert (%4 replaced through the affine
    // map — including RESURRECTED ids on the %6 ∩ %4 overlap)
    "sim_ivf_delete_upsert" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id % 6 <> 0 AND vec_id % 4 <> 0
        |  UNION ALL
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(x * 0.5 + 4.0 AS REAL))::DOUBLE[]
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |counts AS (
        |  SELECT
        |    (SELECT count(*) FROM corpus)::BIGINT AS live_rows,
        |    ((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |      + (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0)
        |    )::BIGINT AS physical_rows),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM corpus q JOIN corpus c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine,
        |  live_rows, physical_rows, '1,2,3' AS gens
        |FROM ranked, counts WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the PQ generation probe ≡ the PQ ADC chain over the even half
    // alone (gen 1's training corpus); generations 1,2,3 all survive
    "sim_pq_generation" ->
      s"""SELECT query_id, rank, match_id, cosine, '1,2,3' AS gens
         |FROM (${Pq.adcOracleSqlOver("vec_id % 2 = 0", dim = 64, m = 4,
               ksub = 4, iters = 2, k = 5, shortlist = 20, maxQueryId = 10)}) h
         |ORDER BY query_id, rank""".stripMargin,

    "sim_radius_search" ->
      """SELECT q.vec_id AS query_id, v.vec_id AS match_id,
        |  round(list_cosine_similarity(q.embedding::DOUBLE[],
        |    v.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings q JOIN embeddings v
        |  ON q.vec_id < 5 AND v.vec_id != q.vec_id
        |WHERE list_cosine_similarity(q.embedding::DOUBLE[],
        |  v.embedding::DOUBLE[]) >= 0.28
        |ORDER BY query_id, match_id""".stripMargin,

    "sim_brute_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Hamming shortlist = pure integer ordering: replay it exactly
    // (count of disagreeing sign bits — packing-layout-independent),
    // then the same cosine re-rank as brute force over the shortlist
    "sim_binary_rerank" -> binaryRerankOracle,

    // the persisted binary collection at nprobe = nlist shortlists over
    // the whole live corpus — identical pipeline to sim_binary_rerank
    // (sign codes are data-independent: append vs write cannot change a
    // code, and with every list probed the assignment is invisible)
    "sim_ivf_bq" -> binaryRerankOracle,

    // the BINARY generation probe ≡ the Hamming shortlist + exact
    // re-rank over the even half alone (gen 1's pinned corpus);
    // generations 1,2,3 all survive
    "sim_bq_generation" ->
      binaryRerankOracleOver("vec_id % 2 = 0", ", '1,2,3' AS gens"),

    // facade time-travel probe ≡ brute force over the even half (gen
    // 1's corpus); describe fields asserted as literals — gen 2 after
    // the append, physical rows = the whole table
    "ds_vectors" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM corpus q JOIN corpus c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine,
        |  2::BIGINT AS gen, 'cosine' AS metric, 64 AS dim, 8 AS nlist,
        |  (SELECT count(*) FROM embeddings)::BIGINT AS physical_rows,
        |  2::BIGINT AS generations
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // nprobe = nlist ≡ exact: the brute-force oracle applies verbatim
    "sim_ivf_exact" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the persisted collection probes with the same exact math at
    // nprobe = nlist, so the identical brute-force oracle gates it
    "sim_ivf_persisted" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs
        |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // nprobe = nlist after the rebalance ≡ exact over the union corpus
    // (even half verbatim + odd half through the same affine drift and
    // float rounding); the in-query skew booleans asserted as TRUEs
    "sim_ivf_rebalance" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id % 2 = 0
        |  UNION ALL
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(x * 0.5 + 4.0 AS REAL))::DOUBLE[]
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM corpus q JOIN corpus c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine,
        |  TRUE AS rebalance_ran, TRUE AS skew_reduced
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "mm_decode_meta" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  (octet_length(encode(text)) % 640 + 1)::INT AS width,
        |  (octet_length(encode(text)) % 480 + 1)::INT AS height,
        |  3 AS channels,
        |  (octet_length(encode(text)) // 32 + 1)::INT AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "mm_resize" ->
      """WITH meta AS (
        |  SELECT doc_id AS media_id, 'image' AS modality,
        |    octet_length(encode(text))::BIGINT AS n_bytes,
        |    (octet_length(encode(text)) % 640 + 1)::INT AS width,
        |    (octet_length(encode(text)) % 480 + 1)::INT AS height,
        |    3 AS channels,
        |    (octet_length(encode(text)) // 32 + 1)::INT AS n_frames
        |  FROM documents),
        |s AS (SELECT *, least(1.0, 256 / greatest(width, height)) AS scale FROM meta)
        |SELECT media_id, modality, n_bytes, width, height, channels, n_frames,
        |  greatest(floor(width * scale), 1)::BIGINT AS out_width,
        |  greatest(floor(height * scale), 1)::BIGINT AS out_height
        |FROM s ORDER BY media_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |    (octet_length(encode(text)) // 32 + 1)::INT AS n_frames
        |  FROM documents)
        |SELECT media_id, n_frames, unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx
        |FROM meta ORDER BY media_id, frame_idx""".stripMargin,

    "mm_pixel_decode" ->
      """WITH px AS (
        |  SELECT doc_id, x.x, y.y,
        |    (doc_id + x.x) % 256 AS r,
        |    (doc_id * 31 + y.y) % 256 AS g,
        |    (x.x * y.y + doc_id) % 256 AS b
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 31)) AS x) x,
        |       (SELECT unnest(generate_series(0, 15)) AS y) y)
        |SELECT doc_id AS media_id, 32 AS width, 16 AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b,
        |  sum(CASE WHEN x % 4 = 0 AND y % 4 = 0 THEN r ELSE 0 END)::BIGINT AS s_sum_r,
        |  sum(CASE WHEN x % 4 = 0 AND y % 4 = 0 THEN g ELSE 0 END)::BIGINT AS s_sum_g,
        |  sum(CASE WHEN x % 4 = 0 AND y % 4 = 0 THEN b ELSE 0 END)::BIGINT AS s_sum_b
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "mm_png_decode" ->
      """WITH px AS (
        |  SELECT doc_id, x.x, y.y,
        |    (doc_id * 3 + 5 * x.x + 7 * y.y) % 256 AS r,
        |    (doc_id * 5 + x.x * y.y) % 256 AS g,
        |    (doc_id + 2 * x.x + 9 * y.y) % 256 AS b
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 23)) AS x) x,
        |       (SELECT unnest(generate_series(0, 14)) AS y) y)
        |SELECT doc_id AS media_id, 24 AS width, 15 AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b,
        |  sum(CASE WHEN x % 3 = 0 AND y % 3 = 0 THEN r ELSE 0 END)::BIGINT AS s_sum_r,
        |  sum(CASE WHEN x % 3 = 0 AND y % 3 = 0 THEN g ELSE 0 END)::BIGINT AS s_sum_g,
        |  sum(CASE WHEN x % 3 = 0 AND y % 3 = 0 THEN b ELSE 0 END)::BIGINT AS s_sum_b
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "mm_gif_decode" ->
      """WITH px AS (
        |  SELECT doc_id, x.x, y.y,
        |    (7 * x.x + 13 * y.y + doc_id) % 256 AS i
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 19)) AS x) x,
        |       (SELECT unnest(generate_series(0, 11)) AS y) y),
        |cl AS (
        |  SELECT doc_id, x, y,
        |    (2 * i + doc_id) % 256 AS r, (3 * i + 1) % 256 AS g,
        |    (i * i) % 256 AS b
        |  FROM px)
        |SELECT doc_id AS media_id, 20 AS width, 12 AS height,
        |  sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
        |  sum(b)::BIGINT AS sum_b,
        |  sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN r ELSE 0 END)::BIGINT AS s_sum_r,
        |  sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN g ELSE 0 END)::BIGINT AS s_sum_g,
        |  sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN b ELSE 0 END)::BIGINT AS s_sum_b
        |FROM cl GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "mm_audio_decode" ->
      """WITH sm AS (
        |  SELECT doc_id, f.f, c.c,
        |    (doc_id * 7 + f.f * 13 + c.c * 29) % 65536 - 32768 AS v
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 199)) AS f) f,
        |       (SELECT unnest(generate_series(0, 1)) AS c) c)
        |SELECT doc_id AS media_id, 16000 AS sample_rate, 2 AS channels,
        |  200::BIGINT AS n_frames,
        |  sum(v)::BIGINT AS sum_amp, sum(abs(v))::BIGINT AS sum_abs,
        |  sum(CASE WHEN f % 4 = 0 THEN v ELSE 0 END)::BIGINT AS s_sum_amp,
        |  sum(CASE WHEN f % 4 = 0 THEN abs(v) ELSE 0 END)::BIGINT AS s_sum_abs
        |FROM sm GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "mm_jpeg_decode" ->
      """WITH blk AS (
        |  SELECT doc_id, bx.bx, by.by,
        |    (doc_id * 11 + bx.bx * 17 + by.by * 29) % 256 AS v
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 3)) AS bx) bx,
        |       (SELECT unnest(generate_series(0, 1)) AS by) by)
        |SELECT doc_id AS media_id, 32 AS width, 16 AS height, 8 AS n_blocks,
        |  sum(64 * v)::BIGINT AS sum_y,
        |  sum(4 * v)::BIGINT AS s_sum_y
        |FROM blk GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "mm_adpcm_decode" -> {
      val steps = "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37," +
        "41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209," +
        "230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963," +
        "1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327," +
        "3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442," +
        "11487,12635,13899,15289,16818,18500,20350,22385,24623,27086," +
        "29794,32767]"
      val idxAdj = "[-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8]"
      s"""WITH RECURSIVE dec AS (
         |  SELECT d.doc_id, b.b AS b, 0 AS k,
         |    ((d.doc_id * 37 + b.b * 101) % 4096 - 2048) AS pred,
         |    ((d.doc_id + b.b * 11) % 32) AS idx
         |  FROM documents d,
         |       (SELECT unnest(generate_series(0, 1)) AS b) b
         |  UNION ALL
         |  SELECT doc_id, b, k + 1,
         |    greatest(-32768, least(32767,
         |      CASE WHEN n >= 8 THEN pred - diff ELSE pred + diff END)) AS pred,
         |    greatest(0, least(88, idx + ($idxAdj)[n + 1])) AS idx
         |  FROM (
         |    SELECT doc_id, b, k, pred, idx,
         |      (doc_id + b * 131 + (k + 1) * 7) % 16 AS n,
         |      ($steps)[idx + 1] AS st,
         |      (st // 8)
         |        + CASE WHEN n % 2 = 1 THEN st // 4 ELSE 0 END
         |        + CASE WHEN (n // 2) % 2 = 1 THEN st // 2 ELSE 0 END
         |        + CASE WHEN (n // 4) % 2 = 1 THEN st ELSE 0 END AS diff
         |    FROM dec WHERE k < 128) s
         |)
         |SELECT doc_id AS media_id, 8000 AS sample_rate, 2 AS n_blocks,
         |  258::BIGINT AS n_samples,
         |  sum(pred)::BIGINT AS sum_amp, sum(abs(pred))::BIGINT AS sum_abs,
         |  sum(CASE WHEN (b * 129 + k) % 4 = 0 THEN pred ELSE 0 END)::BIGINT
         |    AS s_sum_amp,
         |  sum(CASE WHEN (b * 129 + k) % 4 = 0 THEN abs(pred) ELSE 0 END)::BIGINT
         |    AS s_sum_abs
         |FROM dec GROUP BY doc_id ORDER BY media_id""".stripMargin
    },

    "mm_mjpeg_video" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, (doc_id % 5 + 1)::BIGINT, 2)) AS fi
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, fi, bx.bx,
        |    (doc_id * 7 + fi * 31 + bx.bx * 13) % 256 AS v
        |  FROM f, (SELECT unnest(generate_series(0, 1)) AS bx) bx)
        |SELECT doc_id AS media_id, fi::INT AS frame_idx,
        |  (doc_id % 5 + 2)::INT AS n_frames,
        |  16 AS width, 8 AS height,
        |  (fi * 83333)::BIGINT AS pts_micros,
        |  sum(64 * v)::BIGINT AS sum_y
        |FROM s GROUP BY doc_id, fi ORDER BY media_id, frame_idx""".stripMargin,

    "mm_video_container" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, (doc_id % 7)::BIGINT, 2)) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  (320 + (doc_id % 4) * 80)::INT AS width,
        |  240::INT AS height,
        |  24::INT AS fps,
        |  (doc_id % 7 + 1)::INT AS n_frames,
        |  i::INT AS frame_idx,
        |  (CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END)::INT AS is_key,
        |  (doc_id * 2654435761 + i * 40503) % 4294967296 AS checksum,
        |  (i * 1000000 // 24)::BIGINT AS pts_micros
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // dHash re-derivation (shared [[phashCtes]] block), exact
    // bit_count(xor) verify — SQL-identical machinery to the engine's
    "mm_phash_pairs" ->
      s"""WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         |${phashCtes("docs")}
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
         |FROM banded a JOIN banded b
         |  ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // both pair faces + the recursive closure in one statement: the
    // exact-jaccard text pairs, the dHash image pairs (48-doc face),
    // their union, and min-label reachability
    "mm_crossmodal_dedup" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, string_split($canonSql, ' ') AS ts FROM documents),
         |sh AS (
         |$shingleSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tp AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |  WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.9),
         |imgdocs AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         |${phashCtes("imgdocs", ns = "i")},
         |ip AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ibanded a JOIN ibanded b
         |    ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |pairs AS (SELECT id_a, id_b FROM tp UNION SELECT id_a, id_b FROM ip),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.b AS id, r.r FROM reach r JOIN edges e ON e.a = r.id)
         |SELECT id AS doc_id, min(r) AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // same dHash re-derivation, restricted to the (new >= 36) × (old
    // < 36) cross-set face the incremental screen reports
    "mm_phash_incremental" ->
      s"""WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         |${phashCtes("docs")}
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id,
         |  bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
         |FROM banded a JOIN banded b
         |  ON a.blk = b.blk AND a.blk_val = b.blk_val
         |WHERE a.doc_id >= 36 AND b.doc_id < 36
         |  AND bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY new_id, old_id""".stripMargin,

    // per-(video, sampled frame) dHash from the constant-block
    // formulas (each 9×8 grid cell is one constant 8×8 JPEG block's
    // slice, so cell compares ≡ block-value compares), then the
    // frame-aligned pigeonhole join, match count and fraction — the
    // engine's videoPairs replayed in SQL
    "mm_video_neardup" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 12 AS k, doc_id // 12 AS vv,
        |    doc_id % 3 + 4 AS nf
        |  FROM documents WHERE doc_id < 48),
        |fr AS (
        |  SELECT doc_id, k, vv,
        |    unnest(generate_series(0, (nf - 1)::BIGINT, 2)) AS fi
        |  FROM docs),
        |cells AS (
        |  SELECT doc_id, fi, g.gx, byy.byy,
        |    (k * 37 + fi * 29 + g.gx * g.gx * 13 + g.gx * k * 11 +
        |     byy.byy * 31 +
        |     CASE WHEN g.gx = 0 THEN vv * 3 ELSE 0 END) % 256 AS v
        |  FROM fr,
        |    (SELECT unnest(generate_series(0, 8)) AS gx) g,
        |    (SELECT unnest(generate_series(0, 1)) AS byy) byy),
        |bits AS (
        |  SELECT a.doc_id, a.fi, gy.gy * 8 + a.gx AS bit
        |  FROM cells a
        |  JOIN cells b ON b.doc_id = a.doc_id AND b.fi = a.fi
        |    AND b.byy = a.byy AND b.gx = a.gx + 1,
        |    (SELECT unnest(generate_series(0, 7)) AS gy) gy
        |  WHERE a.gx < 8 AND gy.gy // 4 = a.byy AND a.v > b.v),
        |ph AS (
        |  SELECT f.doc_id, f.fi,
        |    coalesce(bit_or(CAST(power(2, bit) AS UBIGINT)), 0::UBIGINT) AS sh
        |  FROM fr f LEFT JOIN bits
        |    ON bits.doc_id = f.doc_id AND bits.fi = f.fi
        |  GROUP BY f.doc_id, f.fi),
        |banded AS (
        |  SELECT doc_id, fi, sh, gs.b AS blk, (sh >> (gs.b * 8)) & 255 AS blk_val
        |  FROM ph, generate_series(0, 7) gs(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fi,
        |    a.sh AS sa, b.sh AS sb
        |  FROM banded a JOIN banded b ON a.fi = b.fi AND a.blk = b.blk
        |    AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id),
        |m AS (
        |  SELECT id_a, id_b, count(*) AS n_matching
        |  FROM cand WHERE bit_count(xor(sa, sb)) <= 7
        |  GROUP BY id_a, id_b),
        |cnt AS (SELECT doc_id, count(*) AS ns FROM ph GROUP BY doc_id)
        |SELECT id_a, id_b, n_matching::BIGINT AS n_matching,
        |  least(ca.ns, cb.ns)::BIGINT AS n_compared,
        |  round(n_matching::DOUBLE / least(ca.ns, cb.ns), 6) AS match_frac
        |FROM m
        |JOIN cnt ca ON ca.doc_id = id_a
        |JOIN cnt cb ON cb.doc_id = id_b
        |WHERE n_matching::DOUBLE / least(ca.ns, cb.ns) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // energy-delta fingerprint re-derivation: 65 window abs-sums over
    // the sample formula, slope-sign bits packed UBIGINT, 8-bit
    // pigeonhole banding, exact hamming — SQL-identical to AudioFp
    "mm_audio_fingerprint" ->
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 12 AS k, doc_id // 12 AS vv
        |  FROM documents WHERE doc_id < 48),
        |s AS (
        |  SELECT doc_id, f.f // 10 AS w,
        |    abs((k * 13 + f.f * 7) % 97 * 50 - 2400 +
        |        CASE WHEN f.f // 10 IN (0, 5, 9) THEN vv * 900 ELSE 0 END) AS a
        |  FROM docs, (SELECT unnest(generate_series(0, 649)) AS f) f),
        |e AS (SELECT doc_id, w, sum(a) AS e FROM s GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id, a.w AS bit
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
        |  WHERE a.w < 64 AND a.e > b.e),
        |ph AS (
        |  SELECT d.doc_id,
        |    coalesce(bit_or(CAST(power(2, bit) AS UBIGINT)), 0::UBIGINT) AS sh
        |  FROM docs d LEFT JOIN bits ON bits.doc_id = d.doc_id
        |  GROUP BY d.doc_id),
        |banded AS (
        |  SELECT doc_id, sh, gs.b AS blk, (sh >> (gs.b * 8)) & 255 AS blk_val
        |  FROM ph, generate_series(0, 7) gs(b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
        |FROM banded a JOIN banded b
        |  ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 7
        |ORDER BY id_a, id_b""".stripMargin
  )
}

/** The shared corpus/benchmark/config fixture of the three
  * `ops_corpus_assembly*` gates. The v2 gate layers its extra stages
  * with `baseCfg.copy(...)`. */
private[graft] object AssemblyFixture {
  import graft.ext.{AssemblyConfig, TextOps}

  /** (corpus, benchmark): docs ≥ 25 with the ' table '→newline line
    * structure vs the sub-25 benchmark slice. */
  def corpusAndBench(c: Ctx): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val docs = c.tw("documents", "doc_id", "source", "text")
      .withColumn("ltext", replace(col("text"), lit(" table "), lit("\n")))
    (docs.filter(col("doc_id") >= 25).select("doc_id", "source", "ltext"),
      docs.filter(col("doc_id") < 25).select("doc_id", "ltext"))
  }

  /** Gopher bands with the stop-word floor lifted (corpus-tuned, see
    * the gate comment) + the gates' dedup/decontamination/mix/pack
    * knobs; throughput path — boundaries materialize inside the single
    * consuming action, not one count per stage. */
  def baseCfg: AssemblyConfig = AssemblyConfig(
    quality = t => {
      import TextOps.Gopher._
      val n = TextOps.tokenCount(t)
      n >= MinWords && n <= MaxWords &&
        TextOps.meanTokenLen(t) >= MinMeanWordLen &&
        TextOps.meanTokenLen(t) <= MaxMeanWordLen &&
        symbolRatio(t) <= MaxSymbolRatio &&
        alphaWordRatio(t) >= MinAlphaWordRatio
    },
    lineMinDocs = 2, shingleN = 3, nearDupThreshold = 0.9,
    maxContaminatedShare = 0.2, mixAlpha = 1.0, domainCap = 10,
    packBudget = 512L, collectStageCounts = false)
}
