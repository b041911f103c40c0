package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Pipeline, Resource}
import graft.write.TableStore

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeSourceDir(): String = {
    val dir = tmp("st-src")
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30))
      .toDF("id", "k", "v").write.mode("overwrite").parquet(s"$dir/t")
    s"$dir/t"
  }

  test("drainAvailableNow processes all input then terminates") {
    val store = new TableStore(tmp("st-out"), spark)
    val src = Streaming.fileStream(spark, writeSourceDir())
    Streaming.drainAvailableNow(src)((b, id) =>
      store.append("t", b.withColumn("_load", lit(id))))
    assert(store.read("t").count() === 3)
  }

  test("intoPipeline runs the full load path per micro-batch") {
    val p = new Pipeline("sp", tmp("st-pipe"), spark)
    val src = Streaming.fileStream(spark, writeSourceDir())
    Streaming.intoPipeline(p, src, (b, _) => Resource("rows", b))
    val out = p.store.read("rows")
    assert(out.count() === 3)
    // pipeline system columns present; load id carries the drain stamp
    // and the batch id, each zero-padded so ids stay monotone under
    // string order
    assert(out.columns.contains("_dlt_id"))
    val ids = out.select("_dlt_load_id").distinct().as[String].collect().toSeq
    assert(ids.size === 1 && ids.head.matches("s\\d{16}-000000000000"), ids)
  }

  test("intoPipeline merges across genuine micro-batches (checkpoint resume)") {
    val srcDir = tmp("st-mrg-src")
    val cp = tmp("st-mrg-cp")
    val p = new Pipeline("smrg", tmp("st-mrg-out"), spark)
    val store = p.store
    val cfg = graft.write.MergeConfig(primaryKey = Seq("id"), dedupSort = Some("rev"))
    def drain(): Unit = Streaming.intoPipeline(p,
      Streaming.fileStream(spark, srcDir,
        schema = Some(Seq((0L, "x", 0L)).toDF("id", "v", "rev").schema)),
      (b, _) => Resource("t", b).withMerge(cfg), checkpoint = Some(cp))
    // batch 1: two keys
    Seq((1L, "a1", 1L), (2L, "b1", 1L)).toDF("id", "v", "rev")
      .write.mode("append").parquet(srcDir)
    drain()
    assert(store.read("t").orderBy("id").select("v").as[String].collect().toSeq
      === Seq("a1", "b1"))
    // batch 2 (same checkpoint → only the new file): key 1 updated, key 3 new
    Seq((1L, "a2", 2L), (3L, "c1", 1L)).toDF("id", "v", "rev")
      .write.mode("append").parquet(srcDir)
    drain()
    assert(store.read("t").orderBy("id").select("v").as[String].collect().toSeq
      === Seq("a2", "b1", "c1"))
    // one ledger row per micro-batch; a resumed checkpoint keeps its
    // drain stamp, so the second batch's id follows the first's
    val ids = p.dataset.loadIds
    assert(ids.size === 2 && ids.head.matches("s\\d{16}-000000000000"), ids)
    assert(ids(1) === ids.head.dropRight(1) + "1")
  }

  test("intoPipeline SCD2 keeps per-entity history across micro-batches") {
    val srcDir = tmp("st-scd-src")
    val cp = tmp("st-scd-cp")
    val p = new Pipeline("sscd", tmp("st-scd-out"), spark)
    val store = p.store
    def scd2(b: org.apache.spark.sql.DataFrame, id: Long,
        mergeKey: Seq[String] = Seq("id")) =
      Resource("t", b, hints = graft.schema.TableHints(writeDisposition = "merge"),
        scd2Config = Some(graft.write.Scd2Config(
          trackedColumns = Seq("id", "v"), mergeKey = mergeKey,
          boundaryTs = s"2024-01-0${id + 1} 00:00:00")))
    def src = Streaming.fileStream(spark, srcDir,
      schema = Some(Seq((0L, "x")).toDF("id", "v").schema))
    def drain(): Unit =
      Streaming.intoPipeline(p, src, (b, id) => scd2(b, id), checkpoint = Some(cp))
    Seq((1L, "a1"), (2L, "b1")).toDF("id", "v").write.mode("append").parquet(srcDir)
    drain()
    // batch 2 revises entity 1 only; entity 2 is absent from the batch
    // and must NOT retire (mergeKey scoping)
    Seq((1L, "a2")).toDF("id", "v").write.mode("append").parquet(srcDir)
    drain()
    val out = store.read("t")
    assert(out.count() === 3) // a1 retired, a2 + b1 active
    assert(out.filter(col("_dlt_valid_to").isNull).orderBy("id")
      .select("v").as[String].collect().toSeq === Seq("a2", "b1"))
    // a1 retires at batch 1's boundary
    assert(out.filter(col("v") === "a1").select(date_format(col("_dlt_valid_to"),
      "yyyy-MM-dd")).as[String].head() === "2024-01-02")
    // a batch is not a snapshot: an SCD2 template without a mergeKey fails
    val e = intercept[Exception](Streaming.intoPipeline(p, src,
      (b, id) => scd2(b, id, mergeKey = Nil)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("requires a mergeKey"))), e)
  }

  test("intoPipeline + incremental: cursor window applies across micro-batches") {
    import graft.incremental.Incremental
    val srcDir = tmp("st-inc-src")
    val root = tmp("st-inc-out")
    val cfg = Incremental.Config("ts", primaryKey = Seq("id"))
    // fresh checkpoint per drain = every file re-delivered each time:
    // the WORST case for a file source — incremental state alone must
    // provide exactly-once
    def drain(): Unit = {
      val p = new Pipeline("sinc", root, spark)
      Streaming.intoPipeline(p,
        Streaming.fileStream(spark, srcDir,
          schema = Some(Seq((0L, 0L, "x")).toDF("id", "ts", "v").schema)),
        (b, _) => Resource("rows", b).withIncremental(cfg))
    }
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    val p0 = new Pipeline("sinc", root, spark)
    assert(p0.store.read("rows").count() === 2)
    // second file: one row AT the stored boundary (ts=20, re-delivery
    // shape) plus genuinely new rows; the old file is also replayed
    Seq((2L, 20L, "b"), (3L, 20L, "c"), (4L, 30L, "d")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    val out = p0.store.read("rows")
    // replayed ts<20 rows cut by the window; the boundary re-delivery of
    // id=2 cut by fingerprint dedup; boundary newcomer id=3 and id=4 load
    assert(out.count() === 4)
    assert(out.orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L, 4L))
    // cursor advanced to the new max across batches
    val p1 = new Pipeline("sinc", root, spark)
    assert(p1.states.load("sinc", "rows/ts").lastValue === Some("30"))
  }

  test("intoPipeline + incremental lag: reopened window composes with merge") {
    import graft.incremental.Incremental
    val srcDir = tmp("st-lag-src")
    val root = tmp("st-lag-out")
    // lag reopens the window by 10 cursor units each run; re-processed
    // rows are expected and the MERGE disposition absorbs them (the
    // reference's documented lag + merge pairing) — boundary dedup is
    // intentionally off under lag
    val inc = Incremental.Config("ts", primaryKey = Seq("id"), lag = Some(10.0))
    val mrg = graft.write.MergeConfig(primaryKey = Seq("id"))
    def drain(): Unit = {
      val p = new Pipeline("slag", root, spark)
      Streaming.intoPipeline(p,
        Streaming.fileStream(spark, srcDir,
          schema = Some(Seq((0L, 0L, "x")).toDF("id", "ts", "v").schema)),
        (b, _) => Resource("rows", b).withMerge(mrg).withIncremental(inc))
    }
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    val p0 = new Pipeline("slag", root, spark)
    assert(p0.states.load("slag", "rows/ts").lastValue === Some("20"))
    // fresh checkpoint: everything re-delivers. The lagged window opens
    // at 20-10=10, so the replayed ts=10 row re-processes (merge keeps it
    // single), a LATE row at ts=15 that a plain cursor would cut now
    // loads, and ts=25 advances the cursor.
    Seq((5L, 15L, "late"), (4L, 25L, "d")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    val out = p0.store.read("rows")
    assert(out.orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 4L, 5L))
    val p1 = new Pipeline("slag", root, spark)
    assert(p1.states.load("slag", "rows/ts").lastValue === Some("25"))
  }

  test("intoPipeline + custom last_value_func composes with boundary dedup") {
    import graft.incremental.Incremental
    val srcDir = tmp("st-cf-src")
    val root = tmp("st-cf-out")
    // custom window: max aggregate with an INCLUSIVE accepts — boundary
    // rows re-enter the window every run and only the fingerprint dedup
    // keeps them exactly-once
    val inc = Incremental.Config("ts", primaryKey = Seq("id"),
      lastValueFunc = Incremental.CustomFunc(
        agg = c => max(c), accepts = (last, cur) => cur >= last))
    def drain(): Unit = {
      val p = new Pipeline("scf", root, spark)
      Streaming.intoPipeline(p,
        Streaming.fileStream(spark, srcDir,
          schema = Some(Seq((0L, 0L, "x")).toDF("id", "ts", "v").schema)),
        (b, _) => Resource("rows", b).withIncremental(inc))
    }
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    // fresh checkpoint replays the old file: the boundary row (id=2,
    // ts=20) passes the custom window but must dedup; the boundary
    // NEWCOMER (id=3, ts=20) and a later row load
    Seq((3L, 20L, "c"), (6L, 40L, "f")).toDF("id", "ts", "v")
      .write.mode("append").parquet(srcDir)
    drain()
    val p0 = new Pipeline("scf", root, spark)
    val out = p0.store.read("rows")
    assert(out.count() === 4)
    assert(out.orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L, 6L))
    assert(p0.states.load("scf", "rows/ts").lastValue === Some("40"))
  }

  test("probeCollection serves each micro-batch against the pinned generation") {
    import graft.write.VectorSink
    val store = new TableStore(tmp("st-ann"), spark)
    val corpus = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(k =>
        (math.sin(i * 0.7 + k) + (i % 4) * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)
    val srcDir = tmp("st-annq")
    corpus.filter($"vec_id" < 6).repartition(2)
      .write.mode("overwrite").parquet(s"$srcDir/q")
    val src = Streaming.fileStream(spark, s"$srcDir/q",
      options = Map("maxFilesPerTrigger" -> "1"))
    val guardBefore = Streaming.guardManifestReads.get()
    Streaming.probeCollection(store, src, "emb", "vec_id", "embedding",
      k = 3, nprobe = 4, out = "hits")
    // O(1)-per-batch idempotence: the guard reads the manifest ONCE at
    // stream start (the restart watermark), never once per micro-batch
    // — with 2 source files at maxFilesPerTrigger=1 this stream drains
    // at least 2 batches, so a per-batch walk would count >= 2 here
    assert(Streaming.guardManifestReads.get() - guardBefore === 1L,
      "the serving idempotence guard must walk the manifest once per " +
        "stream run, not once per micro-batch")
    val hits = store.read("hits")
    assert(hits.count() === 18L, "6 queries x k=3 across micro-batches")
    val byQ = hits.select("query_id", "rank").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byQ.keySet === (0L until 6L).toSet)
    byQ.values.foreach(r => assert(r === Seq(1, 2, 3)))
    // nprobe = nlist → every batch's hits equal the exact batch probe
    val exact = VectorSink.topK(store, "emb",
      corpus.filter($"vec_id" < 6), "vec_id", "embedding",
      k = 3, nprobe = 4)
      .select("query_id", "rank", "match_id").collect().toSet
    assert(hits.select("query_id", "rank", "match_id").collect().toSet
      === exact)
    // replay idempotence: a re-run over the same input (fresh
    // checkpoint — batch ids restart, colliding with the stamped ones)
    // must not double a single hit
    Streaming.probeCollection(store, src, "emb", "vec_id", "embedding",
      k = 3, nprobe = 4, out = "hits")
    assert(store.read("hits").count() === 18L,
      "replayed batch ids must be skipped, not re-appended")
  }

  test("a replayed probeCollection batch runs no Spark job") {
    import graft.write.VectorSink
    val store = new TableStore(tmp("st-annr"), spark)
    val corpus = (0L until 16L).map { i =>
      (i, Array.tabulate(4)(k => math.sin(i * 0.7 + k).toFloat))
    }.toDF("vec_id", "embedding")
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 2)
    val srcDir = tmp("st-annr-src")
    corpus.filter($"vec_id" < 4).repartition(2)
      .write.mode("overwrite").parquet(s"$srcDir/q")
    val src = Streaming.fileStream(spark, s"$srcDir/q",
      options = Map("maxFilesPerTrigger" -> "1"))
    // no checkpoint: each drain restarts at batch id 0 over the same `out`
    def probe() = countJobs(Streaming.probeCollection(store, src, "emb",
      "vec_id", "embedding", k = 2, nprobe = 2, out = "hits"))._2
    probe()
    val hits = store.read("hits").count()
    assert(hits === 8L)
    val replayJobs = probe()
    assert(store.read("hits").count() === hits)
    assert(replayJobs === 0, s"replayed probe batches ran $replayJobs Spark jobs")
  }

  test("probeCollection refuses quantized collections before the stream starts") {
    import graft.write.{Codec, VectorSink}
    val store = new TableStore(tmp("st-annq2"), spark)
    val corpus = (0L until 32L).map { i =>
      (i, Array.tabulate(8)(k => math.sin(i * 0.9 + k).toFloat))
    }.toDF("vec_id", "embedding")
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    val e = intercept[IllegalArgumentException] {
      Streaming.probeCollection(store,
        spark.readStream.format("rate").load(), "emb",
        "vec_id", "embedding", k = 3, nprobe = 4, out = "hits")
    }
    assert(e.getMessage.contains("quantized"))
  }

  test("dedupByKeyUnbounded keeps one row per key") {
    val src = Streaming.fileStream(spark, writeSourceDir())
      .withColumn("_c", explode(array(lit(1), lit(2)))).drop("_c")
      .withColumn("ts", timestamp_seconds(col("v")))
    // the same input through the watermarked dedupByKey
    Seq("dd" -> Streaming.dedupByKeyUnbounded(src, Seq("id")),
        "ddw" -> Streaming.dedupByKey(src, "ts", "1 hour", Seq("id"))).foreach {
      case (t, deduped) =>
        val store = new TableStore(tmp(s"st-$t"), spark)
        Streaming.drainAvailableNow(deduped)((b, _) => store.append(t, b))
        assert(store.read(t).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    }
  }

  test("statefulCounts keeps running per-key state across batches") {
    val store = new TableStore(tmp("st-sc"), spark)
    val src = Streaming.fileStream(spark, writeSourceDir())
    val counts = Streaming.statefulCounts(src, "k")
    Streaming.drainAvailableNow(counts, outputMode = "update")(
      (b, _) => store.append("sc", b))
    val finalCounts = store.read("sc").groupBy("k").agg(max(col("n")).as("n"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(finalCounts === Seq(("a", 2L), ("b", 1L)))
  }

  test("tumblingCounts groups by event-time window") {
    val store = new TableStore(tmp("st-win"), spark)
    val src = Streaming.fileStream(spark, {
      val dir = tmp("st-ts")
      Seq((1L, "2024-01-01 00:10:00", "a"), (2L, "2024-01-01 00:50:00", "a"),
        (3L, "2024-01-01 01:10:00", "b"))
        .toDF("id", "ts", "k")
        .withColumn("ts", to_timestamp(col("ts")))
        .write.mode("overwrite").parquet(s"$dir/t")
      s"$dir/t"
    })
    val agg = Streaming.tumblingCounts(src, "ts", "1 hour", "k")
    Streaming.drainAvailableNow(agg, outputMode = "complete")(
      (b, _) => store.overwrite("w", b))
    val rows = store.read("w").orderBy("window_start", "k")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows === Seq(
      (1704067200L, "a", 2L), // 00:00 window: two 'a'
      (1704070800L, "b", 1L))) // 01:00 window: one 'b'
  }

  test("streamed quality filtering equals the batch filter (cold-loaded model)") {
    import graft.ext.QualityClassifier
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day for all of us"),
      (2L, "!!! ### $$$ %%% ^^^"),
      (3L, "plain words that are fine and long enough to read properly"),
      (4L, "x"),
      (5L, "this is the kind of document that should score well because " +
        "it is made of normal words in normal sentences")
    ).toDF("doc_id", "text")
    val model = QualityClassifier.fit(docs, "text", col("doc_id") % 2 === 1)
    val store = new TableStore(tmp("st-qf"), spark)
    QualityClassifier.save(store, "m", model)
    val loaded = QualityClassifier.load(store, "m")
    val srcDir = tmp("st-qf-src")
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val src = Streaming.fileStream(spark, s"$srcDir/t",
      options = Map("maxFilesPerTrigger" -> "1"))
    val sc = QualityClassifier.score(loaded, col("text"))
    Streaming.drainAvailableNow(src) { (b, _) =>
      if (!b.isEmpty) store.append("kept",
        b.filter(sc >= 0.5).select(col("doc_id"), round(sc, 6).as("score")))
    }
    val streamed = store.read("kept").orderBy("doc_id")
      .as[(Long, Double)].collect().toSeq
    val batch = docs.filter(sc >= 0.5)
      .select(col("doc_id"), round(sc, 6).as("score")).orderBy("doc_id")
      .as[(Long, Double)].collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.size < 5,
      s"fixture should split kept/dropped: $streamed")
  }

  test("curateInto scores, screens against the seed index, lands " +
      "idempotently through the write plane") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    val mk = (id: Long, t: String) => (id, t)
    val seeds = Seq(
      mk(0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      mk(1L, "one two three four five six seven eight nine ten eleven"),
      mk(2L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      // near-copy of seed 0 -> screened out regardless of score
      mk(100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // wordy originals -> score decides
      mk(101L, "completely fresh words nothing shared with any seed corpus " +
        "document at all in this line of plain readable text"),
      mk(102L, "!!! ### $$$ %%% ^^^ @@@"),
      mk(103L, "another novel document with its own vocabulary and a " +
        "reasonable number of normal words to score on"))
      .toDF("doc_id", "text")
    val store = new TableStore(tmp("st-cur"), spark)
    IncrementalDedup.indexCorpus(store, "seed", seeds, "doc_id", "text")
    val model = QualityClassifier.fit(
      seeds.unionByName(arriving), "text", col("doc_id") % 2 === 1)
    QualityClassifier.save(store, "m", model)
    val srcDir = tmp("st-cur-src")
    arriving.repartitionByRange(2, col("doc_id"))
      .write.mode("overwrite").parquet(s"$srcDir/t")
    val src = Streaming.fileStream(spark, s"$srcDir/t",
      options = Map("maxFilesPerTrigger" -> "1"))
    // threshold at the fixture median so the score stage genuinely bites
    val loaded = QualityClassifier.load(store, "m")
    val tau = 0.45
    Streaming.curateInto(store, src, "curated", "seed", "m",
      "doc_id", "text", minScore = tau, nearDupThreshold = 0.9,
      scoreColumn = Some("q"))
    val landed = store.read("curated")
    // batch-equivalent expectation: score >= tau minus seed near-dups
    val sc = QualityClassifier.score(loaded, col("text"))
    val expectIds = graft.ext.Dedup.withPins {
      val kept = arriving.filter(sc >= tau)
      kept.join(IncrementalDedup.checkBatch(store, "seed", kept,
          "doc_id", "text", threshold = 0.9)
          .select(col("new_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
    }
    assert(landed.select("doc_id").as[Long].collect().toSet === expectIds)
    assert(!expectIds.contains(100L), "the seed near-copy must screen out")
    assert(expectIds.nonEmpty && expectIds.size < 4,
      s"fixture should split kept/dropped: $expectIds")
    // provenance: the score column and the load stamps landed
    assert(landed.columns.contains("q"))
    assert(landed.columns.contains(graft.normalize.Ids.DltLoadId))
    // replay idempotence: a fresh checkpoint restarts batch ids at 0 —
    // colliding ids must skip, not double the landed rows
    val before = landed.count()
    Streaming.curateInto(store, src, "curated", "seed", "m",
      "doc_id", "text", minScore = tau, nearDupThreshold = 0.9,
      scoreColumn = Some("q"))
    assert(store.read("curated").count() === before,
      "replayed batch ids must not double the curated rows")
  }

  test("a curateInto batch job takes its own call site, not drainAvailableNow") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    val seeds = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val store = new TableStore(tmp("st-site"), spark)
    IncrementalDedup.indexCorpus(store, "seed", seeds, "doc_id", "text")
    QualityClassifier.save(store, "m", QualityClassifier.fit(
      seeds.unionByName(Seq((1L, "one two three four")).toDF("doc_id", "text")),
      "text", col("doc_id") % 2 === 1))
    val srcDir = tmp("st-site-src")
    Seq((5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "fresh words about something else entirely new"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    val sc = spark.sparkContext
    val census = new graft.Harness.Census(sc)
    sc.addSparkListener(census)
    val sites = try {
      census.reset()
      Streaming.curateInto(store, Streaming.fileStream(spark, srcDir),
        "curated", "seed", "m", "doc_id", "text", minScore = -1e9)
      census.jobSites.map(_._1)
    } finally sc.removeSparkListener(census)
    assert(store.read("curated").select("doc_id").as[Long].collect().toSeq
      === Seq(6L))
    assert(sites.exists(_.contains("curateInto")), sites.mkString("\n"))
    assert(!sites.exists(_.contains("drainAvailableNow")), sites.mkString("\n"))
  }

  test("a curateInto micro-batch costs at most 16 Spark jobs, a replayed one none") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    val seeds = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val store = new TableStore(tmp("st-jobs"), spark)
    IncrementalDedup.indexCorpus(store, "seed", seeds, "doc_id", "text")
    QualityClassifier.save(store, "m", QualityClassifier.fit(
      seeds.unionByName(Seq((1L, "one two three four")).toDF("doc_id", "text")),
      "text", col("doc_id") % 2 === 1))
    val srcDir = tmp("st-jobs-src")
    Seq((5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "fresh words about something else entirely new"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(srcDir)
    val src = Streaming.fileStream(spark, srcDir)
    // no checkpoint: each run restarts at batch id 0
    def curate() = countJobs(Streaming.curateInto(store, src, "curated",
      "seed", "m", "doc_id", "text", minScore = -1e9))._2
    val jobs = curate()
    assert(store.read("curated").select("doc_id").as[Long].collect().toSeq
      === Seq(6L))
    assert(jobs <= 16, s"one curateInto micro-batch ran $jobs Spark jobs")
    val replayJobs = curate()
    assert(store.read("curated").count() === 1L)
    assert(replayJobs === 0, s"a replayed batch ran $replayJobs Spark jobs")
  }

  test("curateInto refuses a scoreColumn already present on the source") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    val seeds = Seq((0L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val store = new TableStore(tmp("st-col"), spark)
    IncrementalDedup.indexCorpus(store, "seed", seeds, "doc_id", "text")
    QualityClassifier.save(store, "m",
      QualityClassifier.fit(seeds.unionByName(
          Seq((1L, "one two three")).toDF("doc_id", "text")),
        "text", col("doc_id") % 2 === 1))
    val srcDir = tmp("st-col-src")
    // the source ALREADY carries a '__score' column — stamping the
    // classifier score there would silently overwrite provenance data
    Seq((5L, "some words here", 0.99))
      .toDF("doc_id", "text", "__score")
      .write.mode("overwrite").parquet(srcDir)
    val src = Streaming.fileStream(spark, srcDir)
    val e = intercept[IllegalArgumentException] {
      Streaming.curateInto(store, src, "curated", "seed", "m",
        "doc_id", "text", minScore = 0.0, scoreColumn = Some("__score"))
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("curateInto drift gate dead-letters a shifted batch, lands clean " +
      "ones, and replays idempotently across the quarantine") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    import graft.operators.Drift
    // varied-length real-ish docs: scores spread, profile non-degenerate
    def doc(i: Long) = (i, ("the quick brown fox jumps over lazy dogs " +
      "and then some more plain words ") * (1 + (i % 5).toInt))
    val corpus = (0L until 200L).map(doc).toDF("doc_id", "text")
    val store = new TableStore(tmp("st-drift"), spark)
    IncrementalDedup.indexCorpus(store, "seed",
      Seq((9000L, "completely disjoint seed vocabulary nothing shared"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val model = QualityClassifier.fit(corpus, "text",
      length(col("text")) >= lit(300))
    QualityClassifier.save(store, "m", model)
    Drift.saveProfile(store, "prof",
      corpus.select(QualityClassifier.score(model, col("text")).as("s")),
      "s", bins = 10)
    val srcDir = tmp("st-drift-src")
    // batch 1: in-population (same construction, fresh ids); batch 2:
    // population-shifted (constant degenerate text)
    (200L until 240L).map(doc).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    (300L until 340L).map(i => (i, "zz " * 50)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val src = Streaming.fileStream(spark, srcDir,
      options = Map("maxFilesPerTrigger" -> "1"))
    Streaming.curateInto(store, src, "cur", "seed", "m",
      "doc_id", "text", minScore = -1e9, nearDupThreshold = 0.9,
      scoreProfile = Some("prof"), maxPsi = 0.25)
    val landed = store.read("cur").select("doc_id").as[Long].collect().toSet
    assert(landed === (200L until 240L).toSet,
      s"only the clean batch lands: $landed")
    val q = store.read("cur__quarantine")
    assert(q.select("doc_id").as[Long].collect().toSet ===
      (300L until 340L).toSet, "the shifted batch dead-letters WHOLE")
    val row = q.head()
    assert(row.getAs[String]("_drift_column") === "__qc_score")
    assert(row.getAs[Double]("_drift_psi") > 0.25)
    // ledger: the dead-letter is visible as a status-2 row
    assert(store.read("_dlt_loads").filter(col("status") === 2)
      .count() === 1L)
    // replay with a fresh checkpoint: batch ids restart at 0 — the
    // quarantined batch's _batch_id stat must block BOTH re-landing and
    // re-quarantining
    Streaming.curateInto(store, src, "cur", "seed", "m",
      "doc_id", "text", minScore = -1e9, nearDupThreshold = 0.9,
      scoreProfile = Some("prof"), maxPsi = 0.25)
    assert(store.read("cur").count() === 40L)
    assert(store.read("cur__quarantine").count() === 40L,
      "a re-run must not re-quarantine the handled batch")
  }

  test("curateInto refit retrains on landed survivors, persists the new " +
      "model and profile, and later runs score with it") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    import graft.operators.Drift
    def doc(i: Long) = (i, ("assorted plain words with varied lengths " +
      "making scores spread around nicely ") * (1 + (i % 5).toInt))
    val corpus = (0L until 200L).map(doc).toDF("doc_id", "text")
    val store = new TableStore(tmp("st-refit"), spark)
    IncrementalDedup.indexCorpus(store, "seed",
      Seq((9000L, "totally disjoint seed vocabulary entry"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val initial = QualityClassifier.fit(corpus, "text",
      length(col("text")) >= lit(300))
    QualityClassifier.save(store, "m", initial)
    Drift.saveProfile(store, "prof",
      corpus.select(QualityClassifier.score(initial, col("text")).as("s")),
      "s", bins = 10)
    val profBefore = Drift.loadProfile(store, "prof")
    // run 1: ONE clean batch; refit fires after it lands (every = 1)
    // with a DIFFERENT seed predicate than the initial fit. minScore
    // sits between the fixture's score levels so the threshold
    // genuinely BITES — the re-profile bias this spec pins (a
    // survivor-only baseline) is only observable when survivors ≠ batch
    val src1 = tmp("st-refit-src1")
    val b1 = (200L until 260L).map(doc).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(src1)
    val scores1 = b1.select(col("doc_id"),
      QualityClassifier.score(initial, col("text")).as("q"))
      .as[(Long, Double)].collect()
    val levels = scores1.map(_._2).distinct.sorted
    assert(levels.length >= 3, s"fixture needs spread scores: $levels")
    val tau = (levels(1) + levels(2)) / 2
    Streaming.curateInto(store, Streaming.fileStream(spark, src1),
      "cur", "seed", "m", "doc_id", "text", minScore = tau,
      scoreColumn = Some("q"), scoreProfile = Some("prof"),
      maxPsi = 0.25,
      refit = Some(Streaming.RefitConfig(
        length(col("text")) >= lit(150), every = 1)))
    // batch 1 itself was scored with the INITIAL model (refit runs
    // after the land) and thresholded at tau
    val landed1 = store.read("cur")
    val expect1 = scores1.toMap
    val landedIds = landed1.select("doc_id", "q").as[(Long, Double)]
      .collect()
    landedIds.foreach { case (d, q) => assert(q === expect1(d)) }
    assert(landedIds.map(_._1).toSet ===
      scores1.filter(_._2 >= tau).map(_._1).toSet)
    assert(landedIds.length < 60, "the threshold must genuinely drop rows")
    // the persisted artifact is now the refit-on-survivors model...
    val refitted = QualityClassifier.load(store, "m")
    val expected = QualityClassifier.fit(landed1, "text",
      length(col("text")) >= lit(150))
    assert(refitted.weights.toSeq === expected.weights.toSeq)
    assert(refitted.weights.toSeq !== initial.weights.toSeq)
    // ...and the drift profile re-derived from the WHOLE RAW batch
    // under the new model — NOT the landed survivors (a survivor-only
    // baseline would lose the sub-threshold score mass and every later
    // clean batch would false-breach)
    val profAfter = Drift.loadProfile(store, "prof")
    assert(profAfter.counts.sum === 60L,
      "profile must cover the whole raw batch, not the " +
        s"${landedIds.length} survivors")
    assert((profAfter.mn, profAfter.mx) !== (profBefore.mn, profBefore.mx))
    // run 2 (fresh stream): cold-loads the persisted refit model
    val src2 = tmp("st-refit-src2")
    val b2 = (300L until 340L).map(doc).toDF("doc_id", "text")
    b2.coalesce(1).write.mode("append").parquet(src2)
    Streaming.curateInto(store, Streaming.fileStream(spark, src2),
      "cur2", "seed", "m", "doc_id", "text", minScore = -1e9,
      scoreColumn = Some("q"))
    val expect2 = b2.select(col("doc_id"),
      QualityClassifier.score(refitted, col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    store.read("cur2").select("doc_id", "q").as[(Long, Double)].collect()
      .foreach { case (d, q) => assert(q === expect2(d)) }
  }

  test("curateInto refit cadence is durable across restarts and a " +
      "failing fit degrades to the previous model") {
    import graft.ext.{IncrementalDedup, QualityClassifier}
    def doc(i: Long) = (i, ("assorted plain words with varied lengths " +
      "making scores spread around nicely ") * (1 + (i % 5).toInt))
    val store = new TableStore(tmp("st-refit-dur"), spark)
    IncrementalDedup.indexCorpus(store, "seed",
      Seq((9000L, "totally disjoint seed vocabulary entry"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val corpus = (0L until 100L).map(doc).toDF("doc_id", "text")
    val initial = QualityClassifier.fit(corpus, "text",
      length(col("text")) >= lit(300))
    QualityClassifier.save(store, "m2", initial)
    // a TRUE restart shares the source and the checkpoint (batch ids
    // keep increasing); a fresh checkpoint would restart ids at 0 and
    // the replay guard would rightly skip the already-landed bid
    val srcDir = tmp("st-refit-dur-src")
    val ckpt = tmp("st-refit-dur-ckpt")
    def runBatch(lo: Long, refit: Option[Streaming.RefitConfig]): Unit = {
      (lo until lo + 30L).map(doc).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(srcDir)
      Streaming.curateInto(store, Streaming.fileStream(spark, srcDir),
        "cur3", "seed", "m2", "doc_id", "text", minScore = -1e9,
        checkpoint = Some(ckpt), refit = refit)
    }
    val cadence2 = Some(Streaming.RefitConfig(
      length(col("text")) >= lit(150), every = 2))
    // run 1 (one batch, every = 2): no refit yet, census reads 1
    runBatch(200L, cadence2)
    assert(Streaming.landedBatchCount(store, "cur3") === 1L)
    assert(QualityClassifier.load(store, "m2").weights.toSeq ===
      initial.weights.toSeq, "cadence not reached: model unchanged")
    // run 2 is a FRESH stream (a restart): the durable census seeds the
    // counter at 1, so this run's landed batch is the 2nd and the
    // refit fires — a per-process counter restarting at 0 would skip
    // it indefinitely
    runBatch(300L, cadence2)
    assert(Streaming.landedBatchCount(store, "cur3") === 2L)
    val refitted = QualityClassifier.load(store, "m2")
    assert(refitted.weights.toSeq !== initial.weights.toSeq,
      "restart must not reset the refit cadence")
    // run 3: a refit whose fit CANNOT succeed (seed references a
    // missing column) — the stream must keep draining on the previous
    // pair (batch lands, model unchanged), not die inside foreachBatch
    runBatch(400L, Some(Streaming.RefitConfig(
      col("no_such_column") > lit(0), every = 1)))
    assert(store.read("cur3").count() === 90L, "the batch still lands")
    assert(QualityClassifier.load(store, "m2").weights.toSeq ===
      refitted.weights.toSeq, "a failed fit rolls back to the previous model")
  }
}
