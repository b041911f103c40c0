package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{HashSplit, SequencePack}

/** Knobs for one end-to-end corpus assembly run; defaults follow the
  * published web-corpus pipelines the individual operators cite
  * (Gopher §A1.1 bands, CCNet/Dolma line dedup, MinHash near-dup,
  * RefinedWeb host caps, XLM-R α-sampling). */
final case class AssemblyConfig(
    lang: String = "en",
    /** the quality gate over the raw text column; defaults to the full
      * Gopher band composite. Pluggable because real pipelines tune the
      * bands per corpus (Gopher itself reports per-source tuning) —
      * e.g. a synthetic or non-web corpus may need a different
      * stop-word floor. */
    quality: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextOps.Gopher.passes,
    /** a trimmed line in >= this many docs is boilerplate */
    lineMinDocs: Int = 2,
    shingleN: Int = 3,
    nearDupThreshold: Double = 0.9,
    /** drop docs with >= this share of shingles found in the benchmark */
    maxContaminatedShare: Double = 0.2,
    /** temperature-mix α over the domain column (1 = proportional) */
    mixAlpha: Double = 1.0,
    /** max docs kept per domain (rank: longest first) */
    domainCap: Int = 1000,
    /** token budget per packed training chunk */
    packBudget: Long = 2048L,
    /** DSIR stage (5c): keep this many docs by importance weight
      * against the `dsirTarget` corpus passed to [[CorpusAssembly
      * .assemble]]; ignored when no target is given */
    dsirKeep: Int = 1000,
    /** hash-bucket count for the DSIR n-gram models */
    dsirBuckets: Int = 1024,
    /** CCNet perplexity gate (Wenzek et al. 2019): keep only these
      * cross-entropy tercile bands ("head" = most fluent third) under
      * the corpus-trained bigram LM. None disables the stage — CCNet
      * itself ships head+middle for most languages. */
    perplexityKeep: Option[Set[String]] = None,
    /** Stage 5d: TRAINED quality-classifier gate (the GPT-3/LLaMA
      * curation pattern — fit a linear seed-discriminator, keep high
      * scorers). The ridge model fits ON THE SURVIVORS of the previous
      * stages (seed label = `seed` evaluated over them) and the fitted
      * model is handed back through [[CorpusAssembly.StageCounts
      * .classifier]] so a caller can replay the literal weights in an
      * external oracle. None disables the stage. */
    classifier: Option[ClassifierStage] = None,
    /** Quality-AWARE near-dup resolution: when set, each duplicate
      * component keeps its best-scoring member under this column
      * (ties → lowest id; [[Dedup.canonicalByScore]]) instead of the
      * arbitrary component minimum ([[Dedup.resolveNearDups]]). */
    canonicalQuality: Option[
      org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None,
    /** Terminal ordering: (seed, epoch) for a deterministic
      * [[graft.operators.TrainingOrder.epochShuffle]] over the packed
      * output — the pipeline then emits training order, not id order.
      * None leaves the packed frame unordered. */
    shuffle: Option[(Long, Int)] = None,
    /** collect per-stage survivor counts (one small action per stage
      * boundary). Observability for interactive runs; switch off in a
      * throughput path — the boundaries then materialize once, inside
      * the single consuming action, and StageCounts reads -1. */
    collectStageCounts: Boolean = true)

/** The classifier-keep stage's knobs: `seed` labels the high-quality
  * slice as a predicate over the (cleaned) text column — the same
  * pluggable Column => Column shape as [[AssemblyConfig.quality]];
  * both classes must be present among the survivors it is fitted on.
  * `threshold` is the keep cut on the fitted score. */
final case class ClassifierStage(
    seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
    threshold: Double = 0.5)

/** CORPUS ASSEMBLY — the composed training-data pipeline the individual
  * operators exist for: language-ID → Gopher quality gate → corpus-level
  * boilerplate line strip → MinHash near-dup resolution → benchmark
  * decontamination → temperature source mixing → per-domain cap →
  * sequence packing. One call, one lazy plan per stage, stage
  * boundaries pinned so no stage re-runs its predecessors.
  *
  * Tokenization discipline (the cost that dominates at 100 TB): each
  * stage tokenizes AT MOST once —
  *  - langid + quality run single-pass codegen kernels on the raw text;
  *  - the BPE-ish token count is computed ONCE on the post-strip text
  *    and CARRIED as a column; ranking (domain cap) and sequence
  *    packing both consume the carried column, never re-tokenizing;
  *  - the near-dup and decontamination stages each build ONE pinned
  *    shingle index internally ([[Dedup.withPins]] scope) that all
  *    their sub-plans (size filter, candidate join, exact verify)
  *    share.
  */
object CorpusAssembly {

  /** Stage-boundary survivor counts, in pipeline order; `classifier`
    * carries the stage-5d fitted model when that stage ran (so callers
    * can persist it or replay its literal weights in an oracle). */
  final case class StageCounts(counts: Seq[(String, Long)],
      classifier: Option[QualityClassifier.RidgeModel] = None) {
    def apply(stage: String): Long = counts.find(_._1 == stage).get._2
  }

  /** Run the assembly and hand the packed result to `consume` while the
    * stage pins are alive (loan pattern). The pins are lineage-TRUNCATING
    * (lazy localCheckpoint, see [[assemble]]'s boundary): a frame
    * escaping the consume block fails loudly ("checkpoint block not
    * found") once the scope's ASYNCHRONOUS block release lands —
    * typically the next action, not a guaranteed point — where the old
    * persist pins would silently recompute the whole multi-stage chain
    * unpinned. Either way an escaped frame is unusable: consume the
    * result inside the block. The packed frame carries (id, domain,
    * n_tokens, tok_offset, first_chunk, last_chunk) plus the cleaned
    * text. */
  def assemble[A](docs: DataFrame, id: String, text: String, domain: String,
      benchmark: DataFrame, cfg: AssemblyConfig = AssemblyConfig(),
      dsirTarget: Option[DataFrame] = None)(
      consume: (DataFrame, StageCounts) => A): A = {
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // LINEAGE-TRUNCATING pin. A persist() boundary stops re-EXECUTION
    // (consumers read the InMemoryRelation) but not re-ANALYSIS: cache
    // substitution happens after analysis, so every consumer of a late
    // stage re-analyzes the full upstream tree — and with eight-plus
    // stacked boundaries (several self-consuming: the line strip, the
    // candidate joins, the packing) the analyzed tree grows
    // multiplicatively down the chain. Driver thread dumps during the
    // v2 gate showed the main thread in Analyzer rules /
    // TreeNode.argString (AQE plan-update events stringify every node)
    // for ~40% of the warm wall (13.5 s in jobs vs 22.5-25.7 s wall,
    // solo box). A lazy localCheckpoint materializes once like persist
    // but roots every consumer at a LogicalRDD LEAF, so downstream
    // analysis, optimization and AQE plan events are O(stage), not
    // O(whole chain). Join-size stats are gone from the leaf — AQE
    // re-picks broadcast joins from runtime shuffle sizes, which every
    // session here enables. Known trade-off: localCheckpoint partitions
    // cannot be recomputed from lineage, so an executor lost mid-assembly
    // (cluster decommission, dynamic deallocation) fails the run instead
    // of recomputing — acceptable for a batch pipeline whose unit of
    // retry is the assembly itself; persist's recompute-on-loss came at
    // the analysis cost above on EVERY healthy run.
    def boundary(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(false)
      pinned += p
      p
    }
    try Dedup.withPins {
      val base = docs.select(col(id), col(domain), col(text).as("__text"))

      // 1-2. language gate then quality bands. `lid` is single-consumer
      //    (stays unpinned, fusing into qual's filter); `qual` is NOT:
      //    stripDuplicateLines consumes it twice internally (its
      //    exploded `lines` frame feeds both the boilerplate-frequency
      //    aggregate and the join-back) and the domain join below reads
      //    it a third time — unpinned, the langid + quality codegen
      //    kernel pass over the corpus SCAN ran 3× per assembly (and a
      //    4th time when the planner broadcast the join side). The
      //    boundary pins doc-sized rows (pre-explode), so the kernels
      //    and the scan run once at any corpus size.
      val lid = base.filter(TextOps.langId(col("__text")) === cfg.lang)
      val qual = boundary(lid.filter(cfg.quality(col("__text"))))

      // 3. corpus-level boilerplate line strip; the cleaned text becomes
      //    THE text, and the token count is computed ONCE here and
      //    carried — later stages never re-tokenize
      val cleaned = boundary(
        Dedup.stripDuplicateLines(qual, id, "__text", cfg.lineMinDocs)
          .join(qual.drop("__text"), Seq(id))
          .select(col(id), col(domain), col("clean_text").as("__text"))
          .withColumn("n_tokens", TextOps.bpeTokenCount(col("__text"))))

      // 4. near-duplicate resolution: LSH pairs → components → keeper
      //    (component minimum by default; best-quality member when
      //    canonicalQuality is set — the "keep the copy you actually
      //    want" variant, same candidate generation either way)
      val pairs = Dedup.pairs(cleaned, id, "__text", MinHash(cfg.shingleN),
        threshold = cfg.nearDupThreshold)
      val deduped = boundary(cfg.canonicalQuality match {
        case None => Dedup.resolveNearDups(cleaned, id, pairs)
        case Some(qual) =>
          Dedup.canonicalByScore(cleaned, id, pairs, qual(col("__text")))
      })

      // 5. benchmark decontamination (inverted-index overlap share).
      //    The threshold compares counts (n_cont >= n_sh * s), not the
      //    rounded share column — the exact same arithmetic an external
      //    SQL re-derivation uses, no FP-rounding boundary drift
      val bench = benchmark.select(col(id), col(text).as("__text"))
      val dropIds = Dedup.contaminationScores(deduped, bench, id,
          "__text", cfg.shingleN)
        .filter(col("n_contaminated").cast("double") >=
          col("n_shingles").cast("double") * cfg.maxContaminatedShare)
        .select(col(id))
      val decontaminated = boundary(deduped.join(dropIds, Seq(id), "left_anti"))

      // 5b (optional). CCNet perplexity gate: band the survivors under
      //     the corpus-trained bigram LM and keep the configured
      //     terciles. The LM's pins ride this scope; the kept set is a
      //     semi-join on ids (the heavy text column never shuffles
      //     through the scoring plan's aggregates)
      val fluent = cfg.perplexityKeep match {
        case None => decontaminated
        case Some(keep) =>
          val keepIds = TextIR.lmPerplexityBands(decontaminated, id, "__text")
            .filter(col("band").isin(keep.toSeq: _*))
            .select(col(id))
          boundary(decontaminated.join(keepIds, Seq(id), "left_semi"))
      }

      // 5c (optional). DSIR domain-match selection (Xie et al. 2023):
      //     keep the dsirKeep survivors whose hashed-n-gram distribution
      //     best matches the target corpus — the "select web data that
      //     looks like Wikipedia" step, between the fluency gate and the
      //     mixing stages. Same semi-join-on-ids discipline as the
      //     perplexity stage: the text column never rides the scoring
      //     aggregates
      val selected = dsirTarget match {
        case None => fluent
        case Some(tgt) =>
          val keepIds = Dsir.select(
              fluent.select(col(id), col("__text")),
              tgt.select(col(id), col(text).as("__text")),
              id, "__text", m = cfg.dsirBuckets, k = cfg.dsirKeep)
            .select(col(id))
          boundary(fluent.join(keepIds, Seq(id), "left_semi"))
      }

      // 5d (optional). TRAINED classifier keep: ridge seed-discriminator
      //     fit ON THE SURVIVORS (one Gram-moment aggregate + driver
      //     solve), scoring as a map-only literal dot product riding
      //     the keep filter — a 100 TB curation pass stays one scan.
      //     The fitted model is surfaced through StageCounts so the
      //     caller can replay the weights externally.
      var fitted: Option[QualityClassifier.RidgeModel] = None
      val curated = cfg.classifier match {
        case None => selected
        case Some(cs) =>
          val model = QualityClassifier.fit(selected, "__text",
            cs.seed(col("__text")))
          fitted = Some(model)
          boundary(selected.filter(
            QualityClassifier.score(model, col("__text")) >= cs.threshold))
      }

      // 6-7. temperature mix (pure projection filter over broadcast
      //      counts) then the domain cap ranking on the CARRIED token
      //      count — no tokenizer in either stage
      // mix is a pure projection filter (single consumer — unpinned);
      // the capped boundary IS pinned: sequence packing reads it twice
      // (bucket-offset aggregate + the join back)
      val capped = boundary(HashSplit.domainCap(
        HashSplit.temperatureMix(curated, id, domain, cfg.mixAlpha),
        id, domain, cfg.domainCap, rankBy = "n_tokens"))

      // 8. sequence packing consumes the carried count as well
      val packed0 = SequencePack.chunkAssignments(capped, id, "n_tokens",
        cfg.packBudget)

      // 8b (optional). terminal training order: the deterministic epoch
      //     shuffle over the packed set — rank is a pure function of
      //     (seed, epoch, id), two-level bucketed windows, so the
      //     pipeline hands back ready-to-stream training order
      val packed = cfg.shuffle match {
        case None => packed0
        case Some((seed, epoch)) =>
          graft.operators.TrainingOrder.epochShuffle(packed0, id, seed, epoch)
      }

      def n(df: DataFrame): Long = if (cfg.collectStageCounts) df.count() else -1L
      val stages = StageCounts(Seq(
        "langid" -> n(lid),
        "quality" -> n(qual),
        "line_strip" -> n(cleaned),
        "near_dup" -> n(deduped),
        "decontaminated" -> n(decontaminated)) ++
        cfg.perplexityKeep.map(_ => "perplexity" -> n(fluent)) ++
        dsirTarget.map(_ => "dsir_selected" -> n(selected)) ++
        cfg.classifier.map(_ => "classifier_kept" -> n(curated)) ++
        Seq("mixed_capped" -> n(capped)),
        classifier = fitted)
      consume(packed, stages)
    } finally pinned.foreach { p =>
      // free the checkpointed partitions deterministically (the
      // ContextCleaner would reclaim them on GC, but a bench loop of
      // assemblies must not depend on GC timing): the checkpointed RDD
      // is the LogicalRDD leaf the lazy checkpoint planted. Nothing
      // recomputes after the consuming action, so dropping local
      // checkpoint data here is safe.
      p.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  /** [[assemble]] landed through the WRITE PLANE: the packed (and
    * optionally shuffled) curation output commits to `table` as one
    * load package — append disposition, then the package's one
    * `_dlt_loads` row, recorded after the append commits — so
    * the pipeline's product is a queryable lakehouse table with
    * provenance, not a frame that dies with the session (the
    * reference's pipelines always end at a destination). The heavy
    * `__text` column is dropped at the door: the training-order table
    * is (ids, domain, token counts, chunk spans, rank) — readers
    * needing text join back to the source corpus by id. Runs inside
    * [[assemble]]'s loan scope, so the write is the single consuming
    * action the stage pins exist for. Returns the stage counts (with
    * the fitted classifier when that stage ran). */
  def assembleTo(disp: graft.write.Dispositions, table: String,
      loadId: String, docs: DataFrame, id: String, text: String,
      domain: String, benchmark: DataFrame,
      cfg: AssemblyConfig = AssemblyConfig(),
      dsirTarget: Option[DataFrame] = None): StageCounts =
    assemble(docs, id, text, domain, benchmark, cfg, dsirTarget) {
      (packed, stages) =>
        disp.append(table, packed.drop("__text"), loadId)
        disp.recordLoad(loadId)
        stages
    }
}
