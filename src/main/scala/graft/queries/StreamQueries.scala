package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{Pipeline, Resource}
import graft.streaming.Streaming
import graft.write.TableStore

/** Structured-Streaming plane (SURVEY.md §2.8): the AvailableNow
  * micro-batch bridge into the load plane, event-time windows, and
  * stateful stream dedup — each drained to a table and checked against
  * a DuckDB oracle over the same input.
  *
  * `events.ts` arrives as epoch-nanos LongType (see Verify's
  * nanosAsLong note); `ts DIV 1000` keeps integer precision where a
  * double-typed division would corrupt 1e18-scale nanos.
  */
object StreamQueries {

  /** Stateful streaming operators materialize one state-store instance
    * per shuffle partition per operator per micro-batch (checkpoint
    * files included). With driver-small key cardinality the session
    * default (32 here) is pure commit overhead — a cloned session
    * scopes a smaller setting to the stream without touching the
    * global conf. On a real cluster the same dial sizes state-store
    * parallelism to key cardinality, not executor count. */
  private def streamSession(c: Ctx, partitions: Int = 4) = {
    val s = c.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  val defs: Map[String, Q] = Map(
    // file stream → AvailableNow → full pipeline load path per batch
    "stream_pipeline_append" -> q { c =>
      val p = new Pipeline("st", Scratch.dir("graft-st"), c.spark)
      val src = Streaming.fileStream(c.spark, s"${c.dir}/events.parquet")
      Streaming.intoPipeline(p, src, (b, _) =>
        Resource("events_stream", b.select("event_id", "user_id", "event_type")))
      p.store.read("events_stream")
        .select("event_id", "user_id", "event_type").orderBy("event_id")
    },

    // STREAMING VECTOR INGEST: a drifted embedding stream drains into a
    // persisted IVF collection — each micro-batch is a map-only append
    // under the stored model + a zero-job manifest maintenance check,
    // retraining mid-stream when the drift skews the lists. The final
    // probe at nprobe = nlist is exact over the union corpus REGARDLESS
    // of where the micro-batch boundaries fell (batch composition and
    // rebalance points are runtime-dependent; the answer is not), so
    // the brute-force oracle gates the whole stream→append→maintain→
    // probe cycle. Final row count rides the hash.
    "stream_vector_append" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-svec"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      VectorSink.writeIvf(store, "emb", evens, "vec_id", "embedding",
        nlist = 8)
      val blob = vecs.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(0.5) + lit(4.0))
            .cast("array<float>").as("embedding"))
      val srcDir = Scratch.dir("graft-svecsrc")
      blob.repartition(4).write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(c.spark, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.intoCollection(store, src, "emb", "vec_id", "embedding",
        maxSkew = 2.0)
      val all = evens.unionByName(blob)
      VectorSink.topK(store, "emb", all.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .withColumn("n_rows", lit(store.read("emb").count()))
        .orderBy("query_id", "rank")
    },

    // streaming ANN SERVING: micro-batches of queries probe a persisted
    // IVF collection (pinned-generation resolution per batch, map-only
    // centroid ranking + segment-pruned join) and the hits land in an
    // output table; probed exactly at nprobe = nlist so the accumulated
    // results hash-match the exact-cosine oracle
    "stream_ann_probe" -> q { c =>
      import graft.write.{TableStore, VectorSink}
      val store = new TableStore(
        Scratch.dir("graft-sprobe"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      VectorSink.writeIvf(store, "emb", vecs, "vec_id", "embedding",
        nlist = 8)
      val srcDir = Scratch.dir("graft-sprobesrc")
      vecs.filter(col("vec_id") < 12).repartition(3)
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(c.spark, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.probeCollection(store, src, "emb", "vec_id", "embedding",
        k = 5, nprobe = 8, out = "hits")
      store.read("hits") // drop the _batch_id idempotence stamp
        .select("query_id", "rank", "match_id", "cosine")
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // streaming sketch maintenance: each micro-batch appends its HLL
    // register rows to the store (sketch-sized commits — the raw batch
    // is never retained); the distinct-user estimate over the merged
    // registers hash-matches the oracle computed directly from ALL raw
    // rows, proving the incremental rollup is lossless
    "stream_hll_rollup" -> q { c =>
      val store = new TableStore(
        Scratch.dir("graft-shll"), c.spark)
      val src = Streaming.fileStream(c.spark, s"${c.dir}/events.parquet")
      Streaming.drainAvailableNow(src) { (batch, _) =>
        store.append("regs", graft.operators.Sketches.hllRegisters(
          batch, Seq("event_type"), "user_id", m = 64))
      }
      val merged = graft.operators.Sketches.hllMerge(
        store.read("regs"), Seq("event_type"))
      graft.operators.Sketches.hllEstimate(merged, Seq("event_type"), m = 64)
        .orderBy("event_type")
    },

    // event-time tumbling window counts, complete mode → overwrite
    "stream_window_tumbling" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-stw"), c.spark)
      val src = graft.Tables.nanosNormalize(
          Streaming.fileStream(ss, s"${c.dir}/events.parquet"))
        .withColumn("ets", timestamp_micros(expr("ts DIV 1000")))
      val agg = Streaming.tumblingCounts(src, "ets", "1 hour", "event_type")
      Streaming.drainAvailableNow(agg, outputMode = "complete") {
        (batch, _) => store.overwrite("win", batch)
      }
      store.read("win").orderBy("window_start", "event_type")
    },

    // custom keyed state (mapGroupsWithState): running per-key counts in
    // update mode; the final value per key is the max of its updates
    "stream_stateful_counts" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-sts"), c.spark)
      val src = Streaming.fileStream(ss, s"${c.dir}/events.parquet")
      val counts = Streaming.statefulCounts(src, "event_type")
      Streaming.drainAvailableNow(counts, outputMode = "update") {
        (batch, _) => store.append("sc", batch)
      }
      store.read("sc").groupBy("event_type").agg(max(col("n")).as("n"))
        .orderBy("event_type")
    },

    // streaming MERGE: revisions of the same key arrive on the stream;
    // each micro-batch is a merge load package through the pipeline
    // (staging deduped per key on `rev`, segment-pruned delete-insert);
    // the final table holds the highest revision per key
    "stream_merge_upsert" -> q { c =>
      val tmp = Scratch.dir("graft-stm")
      val ev = c.spark.read.parquet(s"${c.dir}/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      // rev 1: every event; rev 2: a bumped value for event_id % 3 == 0
      ev.withColumn("rev", lit(1L))
        .unionByName(ev.filter(col("event_id") % 3 === 0)
          .withColumn("value", col("value") * 2).withColumn("rev", lit(2L)))
        .write.parquet(s"$tmp/src")
      val p = new Pipeline("stm", s"$tmp/store", c.spark)
      val src = Streaming.fileStream(c.spark, s"$tmp/src")
      val cfg = graft.write.MergeConfig(primaryKey = Seq("event_id"), dedupSort = Some("rev"))
      Streaming.intoPipeline(p, src, (b, _) => Resource("ev", b).withMerge(cfg))
      p.store.read("ev")
        .select(col("event_id"), col("user_id"),
          round(col("value").cast("decimal(18,4)") * 10000).cast("long").as("value_s"))
        .orderBy("event_id")
    },

    // streaming SCD2: two revision files admitted as SEPARATE micro-
    // batches (maxFilesPerTrigger=1, mtime order); each batch is a
    // partitioned-SCD2 load package through the pipeline (mergeKey
    // scoping: only keys present in the batch may retire), validity
    // boundaries keyed off the batch id
    "stream_scd2" -> q { c =>
      val tmp = Scratch.dir("graft-stscd")
      val base = c.t("orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val changed = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("price",
          when(col("o_orderkey") % 5 === 0, col("price") * 2)
            .otherwise(col("price")))
      def emit(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
        val staging = s"$tmp/_stage_$name"
        df.repartition(1).write.parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = java.nio.file.Paths.get(s"$tmp/src/$name.parquet")
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(part.toPath, dst)
        // batch admission order rides mtime; a silent setLastModified
        // failure (or coarse fs granularity) would let r2 beat r1 and
        // surface as a baffling oracle mismatch — fail loudly instead
        require(dst.toFile.setLastModified(mtime) &&
          dst.toFile.lastModified() == mtime,
          s"could not pin mtime of $dst — file-stream batch order undefined")
      }
      emit(base, "r1", 1700000000000L)
      emit(changed, "r2", 1700009000000L)
      val p = new Pipeline("stscd", s"$tmp/store", c.spark)
      val src = Streaming.fileStream(c.spark, s"$tmp/src",
        options = Map("maxFilesPerTrigger" -> "1"))
      val bounds = Seq("2024-01-01 00:00:00", "2024-06-01 00:00:00")
      Streaming.intoPipeline(p, src, (b, id) =>
        Resource("t", b, hints = graft.schema.TableHints(writeDisposition = "merge"),
          scd2Config = Some(graft.write.Scd2Config(
            trackedColumns = Seq("o_orderkey", "price"),
            boundaryTs = bounds(id.toInt), mergeKey = Seq("o_orderkey")))))
      p.store.read("t").select(
        col("o_orderkey"), col("price"),
        date_format(col("_dlt_valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("_dlt_valid_to"), "yyyy-MM-dd").as("valid_to"))
        .orderBy("o_orderkey", "valid_from")
    },

    // event-time SESSION windows (30-min gap), complete mode: per-user
    // sessions merge incrementally in the state store across batches
    "stream_session_window" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-stsw"), c.spark)
      val src = graft.Tables.nanosNormalize(
          Streaming.fileStream(ss, s"${c.dir}/events.parquet"))
        .withColumn("ets", timestamp_micros(expr("ts DIV 1000")))
      val sessions = Streaming.sessionCounts(src, "ets", "30 minutes", "user_id")
      Streaming.drainAvailableNow(sessions, outputMode = "complete") {
        (batch, _) => store.overwrite("sw", batch)
      }
      store.read("sw").orderBy("user_id", "session_start")
    },

    // STREAM-STREAM inner join: each purchase matched to the same
    // user's clicks in the preceding 30 minutes; both sides watermarked
    // so join state is GC-able, the range predicate bounds buffering
    "stream_stream_join" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-stj"), c.spark)
      def side(t: String, idAs: String, tsAs: String) =
        graft.Tables.nanosNormalize(
            Streaming.fileStream(ss, s"${c.dir}/events.parquet"))
          .filter(col("event_type") === t)
          .select(col("user_id"), col("event_id").as(idAs),
            timestamp_micros(expr("ts DIV 1000")).as(tsAs))
      val purchases = side("purchase", "purchase_id", "p_ts")
      val clicks = side("click", "click_id", "c_ts")
        .withColumnRenamed("user_id", "c_user_id")
      val joined = Streaming.intervalJoinOn(
        purchases, "p_ts", clicks, "c_ts",
        col("user_id") === col("c_user_id"), "30 minutes", "10 minutes")
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      Streaming.drainAvailableNow(joined)((batch, _) => store.append("sj", batch))
      store.read("sj").orderBy("purchase_id", "click_id")
    },

    // stateful dedup: input duplicated 2x, dropDuplicates state keeps
    // exactly one row per event_id across micro-batches
    "stream_dedup_exactly_once" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-std"), c.spark)
      val src = Streaming.fileStream(ss, s"${c.dir}/events.parquet")
        .select(col("event_id"), col("user_id"))
        .withColumn("_copy", explode(array(lit(1), lit(2))))
        .drop("_copy")
      val deduped = Streaming.dedupByKeyUnbounded(src, Seq("event_id"))
      Streaming.drainAvailableNow(deduped)((batch, _) => store.append("dd", batch))
      store.read("dd").orderBy("event_id")
    },

    // streaming near-dup screening against the persisted MinHash index
    // (the "nightly index, streaming checks" topology): docs 0-249 are
    // indexed once; the arriving half is split into 3 files so
    // AvailableNow delivers real micro-batches (maxFilesPerTrigger=1),
    // each checked against the STORED index and its pairs committed per
    // batch. Batches are checked against the static seed index, so the
    // result is batch-order independent and the full cross-set jaccard
    // oracle gates it exactly
    "stream_incremental_dedup" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(
        Scratch.dir("graft-sid"), c.spark)
      val docs = c.tw("documents")
      graft.ext.IncrementalDedup.indexCorpus(store, "corpus",
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val srcDir = Scratch.dir("graft-sid-src")
      docs.filter(col("doc_id") >= 250)
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.drainAvailableNow(src) { (batch, _) =>
        // per-batch pin scope: checkBatch pins the batch's shingle
        // index; without the scope a long stream grows the cache per
        // batch (the Dedup.pin contract)
        if (!batch.isEmpty) graft.ext.Dedup.withPins {
          store.append("pairs", graft.ext.IncrementalDedup.checkBatch(
            store, "corpus", batch, "doc_id", "text"))
        }
      }
      store.read("pairs").orderBy("new_id", "old_id")
    },

    // streaming SEMANTIC screening — the binary plane in the same
    // topology: the even embeddings are sign-coded and band-indexed
    // once, then micro-batches (affine twins + the odds, 3 files under
    // maxFilesPerTrigger=1) screen only themselves against the stored
    // band table, exact-verifying just the collisions. Batches check
    // against the static seed index, so the union is batch-order
    // independent and dedup_hamming_incremental's full new × old
    // oracle gates it verbatim.
    "stream_vector_dedup" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(Scratch.dir("graft-svd"), c.spark)
      val vecs = c.t("embeddings").select("vec_id", "embedding")
      val evens = vecs.filter(col("vec_id") % 2 === 0)
      graft.ext.IncrementalDedup.indexCorpus(store, "corpus", evens,
        "vec_id", "embedding", graft.ext.SignBits(64, 8))
      val twins = evens.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01) + lit(0.005))
          .cast("array<float>").as("embedding"))
      val odds = vecs.filter(col("vec_id") % 2 === 1)
      val srcDir = Scratch.dir("graft-svd-src")
      twins.unionByName(odds).repartitionByRange(3, col("vec_id"))
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.drainAvailableNow(src) { (batch, _) =>
        // per-batch pin scope: checkBatch pins the batch's codes
        if (!batch.isEmpty) graft.ext.Dedup.withPins {
          store.append("pairs", graft.ext.IncrementalDedup.checkBatch(
            store, "corpus", batch, "vec_id", "embedding",
            threshold = 0.98, sig = graft.ext.SignBits(64, 8)))
        }
      }
      store.read("pairs").orderBy("new_id", "old_id")
    },

    // streaming PERCEPTUAL screening: micro-batches of images checked
    // against the persisted dHash index (the mm_phash_incremental
    // machinery under AvailableNow) — stored hashes are the verify
    // input, so per batch the old corpus rides the band equi-join only
    "stream_phash_screen" -> q { c =>
      import graft.ext.{Blocks, IncrementalDedup, Phash}
      val ss = streamSession(c)
      val store = new TableStore(
        Scratch.dir("graft-sps"), c.spark)
      IncrementalDedup.indexCorpus(store, "img",
        Phash.dhashTable(ExtQueries.phashMedia(
          c.tw("documents").filter(col("doc_id") < 36))), "_id", "sh",
        Blocks(3))
      val srcDir = Scratch.dir("graft-sps-src")
      c.tw("documents").filter(col("doc_id") >= 36 && col("doc_id") < 48)
        .select("doc_id")
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      // no pin scope needed: a Blocks check caches nothing (the stored
      // hash IS the verify input)
      Streaming.drainAvailableNow(src) { (batch, _) =>
        if (!batch.isEmpty)
          store.append("pairs", IncrementalDedup.checkBatch(store, "img",
            Phash.dhashTable(ExtQueries.phashMedia(batch)), "_id", "sh",
            sig = Blocks(3)))
      }
      store.read("pairs").orderBy("new_id", "old_id")
    },

    // streaming DRIFT MONITOR: every micro-batch's value distribution
    // scores a PSI against a fixed baseline (the 'view' events) and
    // the score commits to a monitor table — the continuous face of
    // the load-plane drift gate. Batches carry a content-derived key
    // (event_id % 3, one residue class per source file), so the
    // monitor rows are deterministic under any trigger order
    "stream_drift_monitor" -> q { c =>
      val ss = streamSession(c)
      val store = new TableStore(
        Scratch.dir("graft-sdm"), c.spark)
      val srcDir = Scratch.dir("graft-sdm-src")
      // plain load (tw's wide repartition would be pure shuffle waste
      // ahead of a coalesce(1) file write)
      val ev = c.t("events").select("event_id", "event_type", "value")
      (0 until 3).foreach { r =>
        ev.filter(pmod(col("event_id"), lit(3)) === r)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      // the production-monitor shape: the baseline's bin counts are
      // computed ONCE before the stream (Drift.histogram — the same
      // binExpr/psiTail arithmetic as the live-baseline psi, shared by
      // construction), and every micro-batch compares against those ≤
      // bins literals — the old per-batch Drift.psi re-scanned the
      // WHOLE baseline table once per batch (3 full scans per run
      // here; unbounded on a long-lived monitor). Plain numbers also
      // compose across sessions, so the cross-session re-read goes too.
      val baseHist = graft.operators.Drift.histogram(
        c.t("events").filter(col("event_type") === "view"), "value", bins = 8)
      Streaming.drainAvailableNow(src) { (batch, _) =>
        if (!batch.isEmpty) {
          val s2 = batch.sparkSession
          import s2.implicits._
          val key = batch.agg(min(pmod(col("event_id"), lit(3))))
            .head().getLong(0)
          val psi = graft.operators.Drift.psiVsProfile(baseHist, batch,
            "value").select("psi").head().getDouble(0)
          store.append("monitor", Seq((key, psi)).toDF("batch_key", "psi"))
        }
      }
      store.read("monitor").orderBy("batch_key")
    },

    // STREAMING QUALITY GATE — train-offline / score-online: an
    // OFFLINE-fitted classifier is committed as a store artifact, the
    // serving side cold-loads it ONCE and scores each micro-batch with
    // the map-only literal polynomial, appending survivors. Per-row
    // scoring makes the kept set batch-boundary-independent, so the
    // model-derived oracle (kept rows only) gates the whole
    // fit → save → cold load → stream → filter cycle exactly.
    "stream_quality_filter" -> q { c =>
      import graft.ext.QualityClassifier
      val ss = streamSession(c)
      val docs = c.tw("documents")
      val model = QualityClassifier.fit(docs, "text", col("lang") === "en")
      val store = new TableStore(
        Scratch.dir("graft-sqf"), c.spark)
      QualityClassifier.save(store, "qc_model", model)
      // the serving process loads the artifact once at startup
      val loaded = QualityClassifier.load(store, "qc_model")
      OracleStash.put("stream_quality_filter",
        QualityClassifier.keptOracleSql(loaded, threshold = 0.5))
      val srcDir = Scratch.dir("graft-sqf-src")
      docs.select("doc_id", "text")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.drainAvailableNow(src) { (batch, _) =>
        if (!batch.isEmpty) {
          val scoreCol = QualityClassifier.score(loaded, col("text"))
          store.append("kept", batch
            .filter(scoreCol >= 0.5)
            .select(col("doc_id"), round(scoreCol, 6).as("score")))
        }
      }
      store.read("kept").orderBy("doc_id")
    },

    // STREAMING CURATION FRONT DOOR — assembleTo's per-document stages
    // as one always-on operator: the seed corpus (docs < 250) is
    // minhash-indexed once and a classifier artifact committed; each
    // arriving micro-batch (3 files, maxFilesPerTrigger=1) is scored
    // by the COLD-LOADED classifier, thresholded, near-dup screened
    // against the STATIC seed index (batch-order-independent by
    // construction), and landed through the write plane — load id per
    // batch, ledger rows, O(1) replay idempotence. The model-derived
    // oracle replays score ≥ τ ∧ no cross-set jaccard ≥ 0.9 over the
    // raw tables; loaded_once asserts each landed batch stamped
    // exactly one load id backed by exactly one status-0 ledger row.
    "stream_corpus_curate" -> q { c =>
      import graft.ext.{IncrementalDedup, QualityClassifier}
      val ss = streamSession(c)
      val docs = c.tw("documents")
      val store = new TableStore(Scratch.dir("graft-scc"), c.spark)
      IncrementalDedup.indexCorpus(store, "seed",
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val model = QualityClassifier.fit(docs, "text", col("lang") === "en")
      QualityClassifier.save(store, "qc_model", model)
      OracleStash.put("stream_corpus_curate",
        ExtQueries.curateOracleSql(model, minScore = 0.42, jaccard = 0.9))
      val srcDir = Scratch.dir("graft-scc-src")
      docs.filter(col("doc_id") >= 250).select("doc_id", "text")
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.curateInto(store, src, "curated", "seed", "qc_model",
        "doc_id", "text", minScore = 0.42, nearDupThreshold = 0.9,
        scoreColumn = Some("__score"))
      val t = store.read("curated")
      // loaded-once: every landed batch stamped one load id, each
      // backed by exactly one status-0 ledger row (driver-small)
      val stamped = t.select("_dlt_load_id").distinct()
        .collect().map(_.getString(0)).toSet
      val ledgered = store.read("_dlt_loads")
        .filter(col("status") === 0)
        .select("load_id").collect().map(_.getString(0)).toSet
      val ok = stamped.nonEmpty && stamped == ledgered
      t.select(col("doc_id"), round(col("__score"), 6).as("score"))
        .withColumn("loaded_once", lit(ok))
        .orderBy("doc_id")
    },

    // MODEL-STALENESS drift gate on the curation front door
    // (stream_corpus_curate + the quarantine plane composed): the
    // frozen classifier scores a stream whose MIDDLE batch is
    // population-shifted (every doc replaced by the same degenerate
    // text) — that batch's score-distribution PSI against the PERSISTED
    // training profile breaches maxPsi and the whole batch dead-letters
    // into curated__quarantine (status-2 ledger row), while the clean
    // batches land exactly as the drift-free curate oracle replays
    // them. The PSI itself is re-derived by the oracle from the same
    // static profile (deterministic fixture → deterministic psi), so an
    // engine that quarantined on the wrong value — or silently kept
    // scoring the shifted population on the stale model — hash-fails.
    "stream_curate_drift" -> q { c =>
      import graft.ext.{IncrementalDedup, QualityClassifier}
      import graft.operators.Drift
      val ss = streamSession(c)
      val docs = c.tw("documents")
      val store = new TableStore(Scratch.dir("graft-scd"), c.spark)
      IncrementalDedup.indexCorpus(store, "seed",
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val model = QualityClassifier.fit(docs, "text", col("lang") === "en")
      QualityClassifier.save(store, "qc_model", model)
      // the training profile: score distribution over the fit corpus,
      // persisted once — per-batch checks compare against its literals
      Drift.saveProfile(store, "qc_profile",
        docs.select(QualityClassifier.score(model, col("text")).as("__s")),
        "__s", bins = 10)
      OracleStash.put("stream_curate_drift",
        ExtQueries.curateDriftOracleSql(model, minScore = 0.42,
          jaccard = 0.9, mangledRepeats = 60,
          shiftLo = 330, shiftHi = 400, bins = 10))
      val srcDir = Scratch.dir("graft-scd-src")
      // three FIXED batch sets, one file each (maxFilesPerTrigger=1 →
      // one micro-batch per file); the drift decision is
      // per-batch-content, so arrival order cannot change the outcome
      docs.filter(col("doc_id") >= 250 && col("doc_id") < 330)
        .select("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)
      docs.filter(col("doc_id") >= 330 && col("doc_id") < 400)
        .select(col("doc_id"), lit("zz " * 60).as("text"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      docs.filter(col("doc_id") >= 400).select("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)
      val src = Streaming.fileStream(ss, srcDir,
        options = Map("maxFilesPerTrigger" -> "1"))
      Streaming.curateInto(store, src, "curated", "seed", "qc_model",
        "doc_id", "text", minScore = 0.42, nearDupThreshold = 0.9,
        scoreColumn = Some("__score"),
        scoreProfile = Some("qc_profile"), maxPsi = 0.8)
      val qt = store.read("curated__quarantine")
      val nQ = qt.count()
      val psis = qt.select("_drift_psi").distinct()
        .collect().map(_.getDouble(0)).toSeq
      require(psis.size == 1,
        s"expected exactly ONE quarantined batch, got psi stamps $psis")
      // ledger: one status-2 dead-letter row; landed loads all status-0
      val qLedgered = store.read("_dlt_loads")
        .filter(col("status") === 2).count() == 1L
      val t = store.read("curated")
      val stamped = t.select("_dlt_load_id").distinct()
        .collect().map(_.getString(0)).toSet
      val ledgered = store.read("_dlt_loads")
        .filter(col("status") === 0)
        .select("load_id").collect().map(_.getString(0)).toSet
      val ok = stamped.nonEmpty && stamped == ledgered && qLedgered
      t.select(col("doc_id"), round(col("__score"), 6).as("score"))
        .withColumn("n_quarantined", lit(nQ))
        .withColumn("q_psi", lit(psis.head))
        .withColumn("loaded_once", lit(ok))
        .orderBy("doc_id")
    }
  )

  /** Static oracles plus the model-derived stream_quality_filter oracle
    * deposited at run time (same keyed-stash contract as
    * ExtQueries.oracles). */
  def oracles: Map[String, String] =
    staticOracles ++
      OracleStash.entries("stream_quality_filter", "stream_corpus_curate",
        "stream_curate_drift")

  private val staticOracles: Map[String, String] = Map(
    "stream_pipeline_append" ->
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id",

    // the stream drains every odd id through the affine drift; at
    // nprobe = nlist the probe is brute force over evens ∪ drifted odds
    "stream_vector_append" ->
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
        |  (SELECT count(*) FROM corpus)::BIGINT AS n_rows
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "stream_ann_probe" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 12),
        |ranked AS (
        |  SELECT query_id, match_id, cs,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cs DESC, match_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, match_id, round(cs, 6) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "stream_hll_rollup" ->
      """WITH h AS (
        |  SELECT event_type, md5(user_id::VARCHAR) AS hx FROM events),
        |regs AS (
        |  SELECT event_type,
        |    ('0x' || substr(hx, 1, 3))::BIGINT % 64 AS register,
        |    max(33 - length(ltrim(bin(('0x' || substr(hx, 4, 8))::BIGINT), '0'))) AS rank
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, count(*) AS present,
        |    sum(power(0.5, rank)) AS s_hit, 64 - count(*) AS zeros
        |  FROM regs GROUP BY 1)
        |SELECT event_type, present,
        |  round(CASE WHEN raw_e <= 160.0 AND zeros > 0
        |    THEN 64.0 * ln(64.0 / zeros) ELSE raw_e END, 2) AS estimate
        |FROM (SELECT *, 0.709 * 64 * 64 / (s_hit + zeros) AS raw_e FROM agg)
        |ORDER BY event_type""".stripMargin,

    "stream_window_tumbling" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_stateful_counts" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_merge_upsert" ->
      """SELECT event_id, user_id,
        |  CAST(ROUND(CAST(CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END
        |    AS DECIMAL(18,4)) * 10000) AS BIGINT) AS value_s
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_dedup_exactly_once" ->
      "SELECT event_id, user_id FROM events ORDER BY event_id",

    "stream_incremental_dedup" -> ExtQueries.incrementalDedupOracle,

    // identical fixture + split as the batch incremental screen — the
    // streaming drain must change nothing
    "stream_phash_screen" -> ExtQueries.oracles("mm_phash_incremental"),

    // static-seed-index screening ≡ the batch variant's oracle verbatim
    "stream_vector_dedup" -> ExtQueries.oracles("dedup_hamming_incremental"),

    // per-residue-class PSI vs the view baseline, one statement: the
    // Drift.psi pipeline (baseline-fixed bins, Laplace smoothing,
    // decimal-exact Σ) grouped by batch key
    "stream_drift_monitor" ->
      """WITH b AS (
        |  SELECT value::DOUBLE AS v FROM events
        |  WHERE event_type = 'view' AND value IS NOT NULL),
        |cur AS (
        |  SELECT event_id % 3 AS r, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |st AS (SELECT min(v) AS mn, max(v) AS mx FROM b),
        |bb AS (
        |  SELECT CASE WHEN mx > mn
        |    THEN CAST(least(7, greatest(0,
        |      floor((v - mn) / ((mx - mn) / 8)))) AS INT)
        |    ELSE (CASE WHEN v = mn THEN 0 ELSE 7 END) END AS bin,
        |    count(*) AS n_base
        |  FROM b, st GROUP BY 1),
        |cb AS (
        |  SELECT r, CASE WHEN mx > mn
        |    THEN CAST(least(7, greatest(0,
        |      floor((v - mn) / ((mx - mn) / 8)))) AS INT)
        |    ELSE (CASE WHEN v = mn THEN 0 ELSE 7 END) END AS bin,
        |    count(*) AS n_cur
        |  FROM cur, st GROUP BY 1, 2),
        |grid AS (
        |  SELECT rr.r, g.bin
        |  FROM (SELECT unnest(generate_series(0, 2)) AS r) rr,
        |    (SELECT unnest(generate_series(0, 7)) AS bin) g),
        |m AS (
        |  SELECT grid.r, grid.bin, coalesce(bb.n_base, 0) AS n_base,
        |    coalesce(cb.n_cur, 0) AS n_cur
        |  FROM grid LEFT JOIN bb ON grid.bin = bb.bin
        |  LEFT JOIN cb ON cb.r = grid.r AND cb.bin = grid.bin),
        |tt AS (SELECT r, sum(n_base) AS tb, sum(n_cur) AS tc FROM m GROUP BY r),
        |tm AS (
        |  SELECT x.r, (p - q) * ln(p / q) AS term
        |  FROM (
        |    SELECT m.r, m.bin,
        |      (n_base + 0.5) / (tb + 0.5 * 8) AS p,
        |      (n_cur + 0.5) / (tc + 0.5 * 8) AS q
        |    FROM m JOIN tt ON tt.r = m.r) x)
        |SELECT r AS batch_key,
        |  round(sum(term::DECIMAL(28,12))::DOUBLE, 6) AS psi
        |FROM tm GROUP BY r ORDER BY batch_key""".stripMargin,

    // partitioned SCD2 over the stream: keys absent from batch 2
    // (o_orderkey % 7 = 0) are NOT retired — only keys present in a
    // batch may close
    "stream_scd2" ->
      """SELECT o_orderkey, o_totalprice AS price, '2024-01-01' AS valid_from,
        |  CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |       THEN '2024-06-01' END AS valid_to
        |FROM orders WHERE o_orderkey < 1000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, '2024-06-01', NULL
        |FROM orders
        |WHERE o_orderkey < 1000 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    // gap-sessionization from first principles; a diff of EXACTLY the
    // gap starts a new session ([t, t+gap) ranges must overlap to merge)
    "stream_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS b
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us, sum(b) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT min(us) AS session_start, user_id, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "stream_stream_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT user_id, purchase_id, click_id, p_us, c_us
        |FROM p JOIN c ON user_id = c_user_id
        |  AND c_us BETWEEN p_us - 1800000000 AND p_us
        |ORDER BY purchase_id, click_id""".stripMargin
  )
}
