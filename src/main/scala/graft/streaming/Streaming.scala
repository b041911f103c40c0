package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Pipeline, Resource}
import graft.write.{Dispositions, TableStore}

/** Structured-Streaming bridge for the load plane (SURVEY.md §2.8).
  *
  * The reference is micro-batch by construction: one run = one atomic
  * load package, exactly-once via incremental boundary dedup and
  * deterministic row ids (dlt/common/storages/load_package.py). The
  * Spark-native expression of the same contract is a file-source stream
  * with `Trigger.AvailableNow` + `foreachBatch` feeding the SAME
  * load path batch loads use ([[intoPipeline]]) — each micro-batch is a
  * load package whose id carries the streaming `batchId`, the checkpoint
  * directory is the durable "what was already loaded" state, and
  * replays after failure hit the idempotent merge/append paths.
  *
  * Beyond parity, the watermark/window helpers expose what the
  * reference cannot do (stateful event-time processing) as plain
  * Spark constructs — at cluster scale state lives in the HDFS/RocksDB
  * state store, partitioned by grouping key, so these run unchanged on
  * a 1000-executor cluster.
  */
object Streaming {

  /** Read a file-backed table as a bounded stream (schema inferred from
    * the files via a batch peek — file-source streams require an
    * explicit schema). The file-stream source only accepts directories;
    * a single-file path is exposed through a temp dir symlink. */
  def fileStream(spark: SparkSession, path: String,
      format: String = "parquet", schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val s = schema.getOrElse(spark.read.format(format).load(path).schema)
    val p = java.nio.file.Paths.get(path)
    val dir =
      if (java.nio.file.Files.isRegularFile(p)) {
        val d = Files.createTempDirectory("graft-stream-src")
        java.nio.file.Files.createSymbolicLink(d.resolve(p.getFileName), p)
        d.toString
      } else path
    spark.readStream.format(format).schema(s).options(options).load(dir)
  }

  /** Drain `stream` with Trigger.AvailableNow, applying `sink` to each
    * micro-batch (batchId = load id). Blocks until all available input
    * is processed; `checkpoint` (fresh temp dir by default) makes
    * restarts resume after the last committed batch. */
  def drainAvailableNow(stream: DataFrame,
      checkpoint: Option[String] = None,
      outputMode: String = "append")(sink: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint.getOrElse(freshCheckpoint()))
      .outputMode(outputMode)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // else every batch job reads the stream's `.start()` call site
        df.sparkSession.sparkContext.clearCallSite()
        sink(df, id)
      }
      .start()
    q.awaitTermination()
  }

  /** An ephemeral checkpoint directory (no caller-provided location = no
    * durability contract), on tmpfs when present: streaming state does
    * many small fsync'd writes that disk-backed temp dirs serialize. */
  private def freshCheckpoint(): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft-stream-cp").toString
    else Files.createTempDirectory("graft-stream-cp").toString
  }

  /** Stream `source` into a pipeline: every micro-batch runs the full
    * load path (normalize → contracts → disposition → ledger) as its own
    * load package `s<drain>-<batchId>` ([[drainStamp]]). The
    * streaming-native equivalent of `Pipeline.run` for one resource,
    * and the one stream route for every disposition:
    * `template(batch, batchId)` builds the batch's resource, so a merge
    * template attaches `withMerge(cfg)` (staged rows dedup per key on
    * `dedupSort`, and a replayed batch re-merges idempotently on its
    * keys), and an SCD2 template derives its
    * `boundaryTs` from the batch id so validity boundaries are totally
    * ordered across batches. A micro-batch is NOT a full snapshot, so a
    * streamed SCD2 config MUST scope retirement with a `mergeKey`
    * (partitioned SCD2): only entities present in the batch can retire.
    *
    * Incremental cursors compose: a template attaching
    * `.withIncremental(cfg)` gives each micro-batch the cursor window,
    * boundary-fingerprint dedup, and state advance of a batch load —
    * the cursor persists in the pipeline's StateStore across batches
    * AND restarts, so a re-delivered boundary row (at-least-once file
    * sources, replayed batches) loads exactly once even when the
    * checkpoint directory is lost (reference incremental semantics,
    * dlt/extract/incremental/__init__.py:92-970, on a stream). */
  def intoPipeline(pipeline: Pipeline, source: DataFrame,
      template: (DataFrame, Long) => Resource,
      checkpoint: Option[String] = None): Unit = {
    val cp = checkpoint.getOrElse(freshCheckpoint())
    val drain = drainStamp(source.sparkSession, cp)
    drainAvailableNow(source, Some(cp)) { (batch, id) =>
      if (!batch.isEmpty) {
        val r = template(batch, id)
        require(r.scd2Config.forall(_.mergeKey.nonEmpty),
          "streaming scd2 requires a mergeKey: a micro-batch is not a full snapshot")
        pipeline.run(Seq(r), f"s$drain%016d-$id%012d")
      }
    }
  }

  /** The drain stamp of checkpoint `cp`: epoch micros, minted when a
    * drain first uses `cp` and read back by every restart from it. Batch
    * ids restart at 0 under every fresh checkpoint, so the stamp is what
    * keeps two drains into one pipeline from sharing a load id, while a
    * batch replayed from `cp` keeps its id. Both parts are zero-padded,
    * so ids stay monotone under the string ordering the load-recording
    * duplicate guard falls back to for non-numeric ids: a later drain
    * sorts after an earlier one, and batch 10 after batch 9. */
  private def drainStamp(spark: SparkSession, cp: String): Long = {
    val p = new org.apache.hadoop.fs.Path(cp, "_graft_drain")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val out = fs.create(p, false)
      try out.write(Dispositions.nextMicros().toString.getBytes("UTF-8"))
      finally out.close()
    }
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
  }

  /** A curated micro-batch's load id, zero-padded so ids stay monotone
    * under the string ordering of the duplicate guard. */
  private def loadIdOf(id: Long): String = f"s$id%012d"

  /** Stream embedding batches into a persisted VECTOR COLLECTION
    * ([[graft.write.VectorSink]]): each micro-batch appends under the
    * STORED model — a map-only codegen argmin + one segment write +
    * a driver-file manifest commit, O(batch) end to end — then runs the
    * post-append maintenance check ([[graft.write.VectorSink.appendAndMaintain]]:
    * manifest-census skew + dead-fraction reads, ZERO Spark jobs on the
    * no-rebalance path). A drifted stream that piles into few coarse
    * lists triggers a retrain mid-stream exactly like a batch ingest
    * would; probes stay exact at nprobe = nlist regardless of where
    * the batch boundaries fell. Plain-IVF collections only — they store
    * their own vectors, so maintenance is self-contained (quantized
    * collections need the caller's full-precision corpus to retrain;
    * compose [[drainAvailableNow]] + `append` directly for those). */
  def intoCollection(store: TableStore, source: DataFrame, table: String,
      id: String, vec: String, maxSkew: Double = 4.0,
      maxDeadFraction: Double = 0.5,
      checkpoint: Option[String] = None,
      retainLast: Option[Int] = None,
      retainTtlMs: Option[Long] = None): Unit = {
    require(graft.write.VectorSink.generation(store, table)
      .model.codec.storesVectors,
      s"collection '$table' is quantized: streaming self-maintenance " +
        "needs the stored vectors — drain into VectorSink.append and " +
        "rebalance with fullVectors out of band")
    // retainLast/TtlMs ride each batch's append (the unattended-stream
    // generation-history bound — see [[graft.write.VectorSink
    // .appendAndMaintain]]'s retention contract: pins survive,
    // best-effort after the commit)
    drainAvailableNow(source, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        graft.write.VectorSink.appendAndMaintain(store, table, batch,
          id, vec, maxSkew = maxSkew, maxDeadFraction = maxDeadFraction,
          retainLast = retainLast, retainTtlMs = retainTtlMs)
    }
  }

  /** Streaming ANN serving — the read-side dual of [[intoCollection]]:
    * probe each micro-batch of queries against a persisted collection
    * and append the hits to `out`. Each batch resolves the collection's
    * pinned generation at ITS OWN time (serving semantics: a concurrent
    * rebalance flips probes to the new model at the NEXT batch boundary,
    * never mid-batch — the manifest read inside
    * [[graft.write.VectorSink.topK]] is the linearization point), and
    * the probe itself is the map-only broadcast centroid ranking +
    * segment-pruned equi-join, so per-batch cost is O(batch × nprobe
    * list fraction of the corpus), never a corpus scan.
    *
    * `out` is owned by ONE stream lineage: hits are stamped with the
    * micro-batch id and a replayed id is skipped (the foreachBatch
    * idempotence contract — a crash between the append and the stream
    * commit must not double the batch's hits). Starting a NEW stream
    * (fresh checkpoint, batch ids restarting at 0) against an existing
    * `out` therefore skips colliding ids — give a new stream a new
    * output table. */
  def probeCollection(store: TableStore, queries: DataFrame, table: String,
      id: String, vec: String, k: Int, nprobe: Int, out: String,
      checkpoint: Option[String] = None): Unit = {
    // guard BEFORE the stream starts: a code-only collection needs the
    // caller's full-precision corpus for the re-rank — topK would die
    // on the first batch; fail here with the routing message instead
    require(graft.write.VectorSink.generation(store, table)
      .model.codec.storesVectors,
      s"collection '$table' is quantized: streaming probes need the " +
        "stored vectors — drain batches into VectorSink.topK(fullVectors " +
        "= <the full-precision corpus>) out of band")
    // IDEMPOTENT per batchId — foreachBatch's replay contract: with a
    // durable checkpoint, a crash between an append and the stream
    // commit re-runs that batch on restart; the hits it already wrote
    // must not double. Batch ids are MONOTONIC within the one stream
    // lineage that owns `out` (contract above), so "already written" ≡
    // bid <= the max `_batch_id` any committed segment declares (each
    // append stamps the column and declares stats on it). That max is
    // read ONCE at stream start — one driver-file manifest walk, no
    // Spark job, spec-pinned via [[guardManifestReads]] — and carried
    // in driver memory across batches: O(1) per batch where the old
    // per-batch segments(out) walk was O(committed segments), a cost
    // that grew with every batch on a never-compacted serving stream.
    // A restart re-reads the manifest, which is exactly what covers the
    // crash-between-append-and-commit replay.
    var maxWritten = maxBatchIdStat(store, out)
    drainAvailableNow(queries, checkpoint) { (batch, bid) =>
      // a replayed batch id is settled by the watermark, with no probe job
      if (bid > maxWritten && !batch.isEmpty) {
        store.append(out, graft.write.VectorSink.topK(
            store, table, batch, id, vec, k, nprobe)
          .withColumn(Pipeline.BatchIdColumn, org.apache.spark.sql.functions.lit(bid)),
          statsFor = Seq(Pipeline.BatchIdColumn))
        maxWritten = bid
      }
    }
  }

  /** Micro-batch CURATION through the write plane — the streaming face
    * of [[graft.ext.CorpusAssembly.assembleTo]]'s per-document stages:
    * each arriving batch is (a) scored by the COLD-LOADED persisted
    * quality classifier (loaded once at stream start, scoring is a
    * map-only literal polynomial) and thresholded at `minScore`, (b)
    * near-dup screened against the PERSISTED MinHash seed index — only
    * the batch is shingled, the stored corpus is read candidate-sized
    * (the [[graft.ext.IncrementalDedup.checkBatch]] contract) — and
    * (c) landed into `table` through [[Dispositions.append]] as one
    * load package per micro-batch: `_dlt_load_id` stamped, one
    * `_dlt_loads` row recorded after the append, and O(1) replay
    * idempotence via the max-`_batch_id`
    * manifest stat (the [[probeCollection]] serve-plane discipline; the
    * same one-stream-owns-the-table contract applies).
    *
    * Screening is against the STATIC seed index, so the landed set is
    * batch-order independent — growing the index per batch would make
    * survival depend on arrival order; callers wanting greedy in-stream
    * self-dedup index each landed batch again
    * ([[graft.ext.IncrementalDedup.indexCorpus]] appends to the seed
    * index) after each land. Corpus-GLOBAL curation (near-dup WITHIN the
    * landed output, mixing, domain caps, sequence pack, epoch shuffle,
    * classifier refit) stays batch — run
    * [[graft.ext.CorpusAssembly.assemble]] over the landed table; this
    * operator is the always-on front door that keeps junk and known
    * duplicates from landing at all.
    *
    * MODEL-STALENESS gate (`scoreProfile`): the classifier is
    * cold-loaded and FROZEN for the stream's lifetime, so a shifted
    * incoming distribution would silently keep scoring on a model
    * trained for a different population — the streaming analog of the
    * reference's schema contracts gating evolution, but on VALUE drift
    * the types cannot see. When set, each batch's score distribution is
    * PSI-checked against the named persisted [[graft.operators.Drift]]
    * profile (the training-time score histogram — saved once via
    * `Drift.saveProfile`, checked per batch against literals, zero
    * baseline rescans); a batch breaching `maxPsi` DEAD-LETTERS whole
    * into `<table>__quarantine` (stamped `_dlt_load_id` /
    * `_drift_column` / `_drift_psi` — the [[graft.pipeline.Pipeline]]
    * quarantine layout, so `replayQuarantine` works unchanged) with a
    * status-2 `_dlt_loads` row under `<table>#quarantine`, and the main
    * table never sees it. The drift decision is per-batch-content, not
    * per-arrival-order, so the landed set stays replayable. Quarantined
    * batches carry `_batch_id` too: the restart watermark is the max
    * over BOTH tables, so a re-run neither re-lands nor re-quarantines
    * a handled batch. */
  /** Periodic-refit config for [[curateInto]]: after every `every`
    * LANDED batches, the classifier refits on the accumulated landed
    * table (the survivors — the streaming twin of
    * [[graft.ext.CorpusAssembly]]'s fit-on-survivors stage) with
    * `seed` as the 0/1 label column, persists under the classifier
    * name (a restart cold-loads the newest refit), and scores every
    * later batch with the refreshed weights. When the drift gate is
    * active, the refit ALSO re-profiles: the persisted score histogram
    * is recomputed under the NEW model from the current RAW batch ∪
    * the other landed survivors (the raw batch supplies the
    * sub-threshold mass a survivor-only baseline would lose —
    * systematically breaching clean batches; the landed history damps
    * single-batch sampling variance). Model and profile are kept a
    * consistent pair: a profile-save failure rolls the persisted model
    * back and the stream continues on the previous pair (a hard crash
    * between the two driver-file writes can still leave one refit's
    * window inconsistent — the failure mode is recoverable
    * false-quarantining, never data loss). NOTE: refit makes the kept
    * set depend on
    * arrival ORDER by design (later batches meet a model trained on
    * earlier survivors) — this is the explicitly-ordered adaptation
    * mode; the default frozen-model path keeps the replayable
    * batch-order-independence contract. */
  final case class RefitConfig(seed: Column, every: Int) {
    require(every >= 1, s"refit cadence must be >= 1, got $every")
  }

  def curateInto(store: TableStore, source: DataFrame, table: String,
      seedIndex: String, classifierName: String, id: String, text: String,
      minScore: Double, nearDupThreshold: Double = 0.9, n: Int = 3,
      scoreColumn: Option[String] = None,
      checkpoint: Option[String] = None,
      scoreProfile: Option[String] = None,
      maxPsi: Double = 0.25,
      refit: Option[RefitConfig] = None): Unit = {
    var model = graft.ext.QualityClassifier.load(store, classifierName)
    // withColumn REPLACES a same-named existing column: a source already
    // carrying e.g. '__score' would silently lose its data to the
    // stamped provenance score — refuse up front (schema is known before
    // any batch drains)
    scoreColumn.foreach(nm => require(!source.columns.contains(nm),
      s"scoreColumn '$nm' already exists on the source — stamping the " +
        "classifier score there would overwrite landed provenance data"))
    val disp = new Dispositions(store, source.sparkSession)
    // the profile loads ONCE at stream start (cold, like the model);
    // both are vars only for the refit path, which swaps them together
    var profile = scoreProfile.map(p =>
      graft.operators.Drift.loadProfile(store, p))
    // the refit cadence counts TOTAL landed batches, derived at startup
    // from durable state (distinct `_batch_id` segment stats — one
    // manifest read, no Spark job) rather than zero: a per-process
    // counter would reset on every restart, so frequent restarts could
    // postpone refits indefinitely while the landed table keeps
    // growing, and the refit points would not replay deterministically.
    // Caveat: an explicit compaction of the landed table can merge
    // batch segments and lower the derived count — the cadence then
    // re-anchors to the compacted census, still monotone from there.
    var landedBatches = landedBatchCount(store, table)
    var maxWritten = math.max(maxBatchIdStat(store, table),
      maxBatchIdStat(store, s"${table}__quarantine"))
    drainAvailableNow(source, checkpoint) { (rawBatch, bid) =>
      // a replayed batch id is settled by the watermark, with no probe job
      if (bid > maxWritten && !rawBatch.isEmpty) graft.ext.Dedup.withPins {
        import org.apache.spark.sql.functions.lit
        // re-spread BEFORE the classifier featurization: a micro-batch
        // arrives at file-split parallelism (one file under
        // maxFilesPerTrigger=1) and AQE never splits a scan stage, so
        // the regex-kernel scoring pass — the per-batch compute hog —
        // would serialize on the file's few splits (100× soak: 14.9 s
        // 5-task stages per batch where session width runs ~2 s). The
        // RDD round-trip is the [[graft.Tables.loadWide]] pushdown
        // BARRIER: a bare repartition is not enough — the optimizer
        // pushes the score FILTER below a round-robin exchange, putting
        // the kernels right back in the file-split-bound scan stage
        // (re-measured at the 100× soak: the 5-task stages survived a
        // plain repartition). The shuffle moves O(batch) bytes once;
        // every consumer below (PSI gate, scoring filter, screen,
        // quarantine land) inherits full width, and the screen sees the
        // batch spread and does not shuffle it again. Row content is
        // unchanged (append-disposition lands are orderless).
        val spread0 = rawBatch.repartition(
          rawBatch.sparkSession.sparkContext.defaultParallelism)
        val batch = rawBatch.sparkSession.createDataFrame(
          spread0.rdd, rawBatch.schema)
        val scoreCol = graft.ext.QualityClassifier.score(model,
          org.apache.spark.sql.functions.col(text))
        val breach = profile.flatMap { h =>
          // distribution of the WHOLE incoming batch (not the
          // threshold survivors — the gate asks "is this population
          // the one the model was trained for", which the filter would
          // mask); one tiny aggregate, scoring is map-only codegen
          val psi = graft.operators.Drift.psiVsProfile(h,
              batch.select(scoreCol.as("__qc_score")), "__qc_score")
            .select("psi").head().getDouble(0)
          Some(psi).filter(_ > maxPsi)
        }
        breach match {
          case Some(psi) =>
            // DEAD-LETTER: the raw batch lands in quarantine with its
            // provenance stamps; the main table never sees it, and the
            // batch counts as handled (watermark advances) — retrying a
            // drifted batch forever would stall the stream behind it
            store.append(s"${table}__quarantine", batch
              .withColumn(Pipeline.BatchIdColumn, lit(bid))
              .withColumn(graft.normalize.Ids.DltLoadId, lit(loadIdOf(bid)))
              .withColumn(Pipeline.DriftColumnStamp, lit("__qc_score"))
              .withColumn(Pipeline.DriftPsiStamp, lit(psi)),
              statsFor = Seq(Pipeline.BatchIdColumn))
            disp.recordLoad(loadIdOf(bid), s"$table#quarantine", status = 2)
            maxWritten = bid
          case None =>
            // optional provenance: land the (raw double) score beside
            // the row, so downstream curation can re-threshold without
            // rescoring
            val withScore = scoreColumn.fold(batch)(nm =>
              batch.withColumn(nm, scoreCol))
            val scored = withScore.filter(scoreCol >= minScore)
            // pin: the survivors feed BOTH the screen (shingled) and
            // the anti-join — without it the classifier scan runs twice
            val pinned = graft.ext.Dedup.pin(scored)
            val dups = graft.ext.IncrementalDedup.checkBatch(store,
              seedIndex, pinned, id, text, threshold = nearDupThreshold,
              sig = graft.ext.MinHash(n))
              .select(org.apache.spark.sql.functions.col("new_id").as(id))
              .distinct()
            // pin the SURVIVORS too (the screen's candidate join +
            // exact verify is the dominant cost — without this the
            // emptiness check and the append each execute it once,
            // doubling per-batch latency; the screenedAppend scaffold
            // persists kept for the same reason). Scope-released with
            // the batch's withPins. Building it builds the screen's
            // pins first, one job each, and its row count answers the
            // emptiness check with no probe job.
            val kept = graft.ext.Dedup.pin(
              pinned.join(dups, Seq(id), "left_anti")
                .withColumn(Pipeline.BatchIdColumn,
                  org.apache.spark.sql.functions.lit(bid)))
            if (graft.ext.Dedup.rowCount(kept) > 0) {
              disp.append(table, kept, loadIdOf(bid),
                statsFor = Seq(Pipeline.BatchIdColumn))
              disp.recordLoad(loadIdOf(bid))
              maxWritten = bid
              landedBatches += 1
              refit.filter(rc => landedBatches % rc.every == 0)
                .foreach { rc =>
                  val prev = model
                  // keep the drift gate honest against the NEW model:
                  // the re-profile source is the CURRENT RAW batch ∪
                  // the OTHER landed survivors, all re-scored under the
                  // refit weights. The raw batch contributes the
                  // sub-threshold score mass a survivor-only baseline
                  // loses (which would systematically breach every
                  // later clean batch — the gate compares WHOLE
                  // unfiltered batches); the landed history damps the
                  // sampling variance a single small batch would bake
                  // into the histogram. The batch's own landed rows are
                  // anti-joined out of the history side so they are not
                  // counted twice.
                  //
                  // The FIT and the initial model save sit INSIDE the
                  // rollback guard with the profile save: a fit failure
                  // (e.g. the accumulated seed labels degenerate to one
                  // class on some batch) must degrade to continuing on
                  // the previous pair — the documented contract — not
                  // propagate out of foreachBatch and kill the stream.
                  try {
                    val fitted = graft.ext.QualityClassifier.fit(
                      store.read(table), text, rc.seed)
                    graft.ext.QualityClassifier.save(
                      store, classifierName, fitted)
                    scoreProfile.foreach { p =>
                      val sc = graft.ext.QualityClassifier.score(fitted,
                        org.apache.spark.sql.functions.col(text))
                      val history = store.read(table)
                        .join(batch.select(
                          org.apache.spark.sql.functions.col(id)),
                          Seq(id), "left_anti")
                        .select(sc.as("__qc_score"))
                      graft.operators.Drift.saveProfile(store, p,
                        batch.select(sc.as("__qc_score"))
                          .unionByName(history),
                        "__qc_score",
                        bins = profile.map(_.bins).getOrElse(10))
                      profile = Some(
                        graft.operators.Drift.loadProfile(store, p))
                    }
                    model = fitted
                  } catch { case e: Exception =>
                    // whatever failed — the fit itself, the model save,
                    // or the profile save — the persisted state must end
                    // up a CONSISTENT pair. A persisted new-model/
                    // stale-profile split would false-breach every batch
                    // after a restart (new score scale vs the old
                    // histogram); a fit failure may have saved nothing.
                    // Re-saving the previous model is idempotent in the
                    // fit-failure case and the rollback in the split
                    // case; the stream continues on the previous pair
                    // and the next cadence point retries the refit.
                    graft.ext.QualityClassifier.save(
                      store, classifierName, prev)
                    System.err.println(
                      s"[curateInto] refit of '$classifierName' rolled " +
                        s"back (fit or save failed; retrying at the " +
                        s"next cadence point): $e")
                  }
                }
            }
        }
      }
    }
  }

  /** Distinct `_batch_id` stat values across `table`'s committed
    * segments (0 when absent) — the durable landed-batch census that
    * seeds [[RefitConfig]]'s cadence counter across restarts. One
    * manifest read, no Spark job, like [[maxBatchIdStat]]. */
  private[streaming] def landedBatchCount(store: TableStore,
      table: String): Long =
    batchIdStats(store, table).distinct.size.toLong

  /** Max `_batch_id` declared by any committed segment of `table` (−1
    * when the table is absent or carries no such stat): ONE manifest
    * read, no Spark job — the serving stream's restart watermark. */
  private[streaming] def maxBatchIdStat(store: TableStore,
      table: String): Long = {
    guardManifestReads.incrementAndGet()
    batchIdStats(store, table).foldLeft(-1L)(math.max)
  }

  /** The `_batch_id` max stat of every committed segment of `table`
    * (empty when the table is absent) — one manifest walk. */
  private def batchIdStats(store: TableStore, table: String): Seq[Long] =
    if (!store.exists(table)) Nil
    else store.segments(table).flatMap(_.stats.get(Pipeline.BatchIdColumn))
      .flatMap(s => scala.util.Try(BigDecimal(s.max).toLong).toOption)

  /** Test hook: manifest walks performed by the serving idempotence
    * guard — the spec pins ONE per stream run regardless of how many
    * micro-batches drain (the O(1)-per-batch claim, made measurable). */
  private[graft] val guardManifestReads =
    new java.util.concurrent.atomic.AtomicLong

  /** Exactly-once key dedup across micro-batches: event-time watermark
    * bounds the dedup state, `dropDuplicates` keeps the first arrival
    * of each key (the streaming analog of the reference's incremental
    * boundary-fingerprint dedup, SURVEY.md §2.7). */
  def dedupByKey(stream: DataFrame, eventTime: String, delay: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(eventTime, delay)
      .dropDuplicates(keys :+ eventTime)

  /** Unbounded-state variant for id-keyed streams where keys never
    * repeat outside the replay window (state = one hash per key). */
  def dedupByKeyUnbounded(stream: DataFrame, keys: Seq[String]): DataFrame =
    stream.dropDuplicates(keys)

  /** Tumbling event-time window aggregation: counts per (window, key).
    * Emits (window_start epoch-seconds, key, n). */
  def tumblingCounts(stream: DataFrame, eventTime: String, width: String,
      key: String): DataFrame =
    stream.groupBy(window(col(eventTime), width), col(key))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col(key), col("n"))

  /** Gap-based session windows (`session_window`): per-key sessions
    * close after `gap` of event-time inactivity; a new event within the
    * gap extends the session (two events exactly `gap` apart do NOT
    * merge — ranges `[t, t+gap)` must overlap). Emits (key,
    * session_start epoch-micros, n). State is per (key, session) in the
    * state store and merges incrementally across micro-batches. */
  def sessionCounts(stream: DataFrame, eventTime: String, gap: String,
      key: String): DataFrame =
    stream.groupBy(session_window(col(eventTime), gap), col(key))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("session_window.start")).as("session_start"),
        col(key), col("n"))

  /** Stream-stream inner join: rows of `left` matched to rows of
    * `right` satisfying `cond` whose event time falls in
    * [leftTime - lookback, leftTime]. Both sides are watermarked (the
    * bound that lets the join state be garbage-collected — without it a
    * stream-stream join buffers forever); the time-range predicate is
    * what Spark uses to expire buffered rows at scale. Column names
    * must be disjoint across the two sides. */
  def intervalJoinOn(left: DataFrame, leftTime: String,
      right: DataFrame, rightTime: String,
      cond: org.apache.spark.sql.Column, lookback: String,
      delay: String): DataFrame = {
    val l = left.withWatermark(leftTime, delay)
    val r = right.withWatermark(rightTime, delay)
    l.join(r,
      cond &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
        col(rightTime) <= col(leftTime))
  }

  /** Arbitrary per-key streaming state via `mapGroupsWithState` — the
    * custom-state escape hatch (SURVEY.md §2.8). Here: a running count
    * per key, emitted in update mode after every micro-batch; the
    * pattern generalizes to any `case class` state (sessions, cursors,
    * sketches). State is partitioned by key in the state store, so it
    * scales horizontally with executors. Drain with
    * `outputMode = "update"`; counts are monotonic, so the final value
    * per key is `max(n)` over all emitted updates. */
  def statefulCounts(stream: DataFrame, key: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col(key).cast("string")).as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (k, n)
      }
      .toDF(key, "n")
  }
}
