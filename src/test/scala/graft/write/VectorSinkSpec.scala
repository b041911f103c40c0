package graft.write

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** The persisted IVF collection: cold-read equivalence with the
  * in-memory probe, meta round-trip, and nprobe validation. */
class VectorSinkSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0L until 64L).map { i =>
    (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
  }.toDF("vec_id", "embedding")

  test("persisted probe ≡ in-memory probe (same params, cold store read)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec").toString
    VectorSink.writeIvf(new TableStore(dir, spark), "emb", corpus,
      "vec_id", "embedding", nlist = 4)
    // a FRESH store instance: nothing survives but the committed files
    val cold = new TableStore(dir, spark)
    val q = corpus.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val persisted = rows(VectorSink.topK(cold, "emb", q,
      "vec_id", "embedding", k = 3, nprobe = 4))
    val inMemory = rows(Similarity.ivfTopK(corpus, q,
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 4))
    assert(persisted === inMemory)
    assert(persisted.map(_._1).distinct.toSeq === Seq(0L, 1L, 2L))
  }

  test("meta round-trips and bounds nprobe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec2").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, seed = 7L, trainFraction = 0.5)
    val meta = VectorSink.readMeta(store, "emb")
    assert(meta === VectorSink.IvfMeta(4, 7L, 0.5, "cosine", 8))
    val e = intercept[IllegalArgumentException] {
      VectorSink.topK(store, "emb", corpus.limit(1), "vec_id", "embedding",
        k = 1, nprobe = 99)
    }
    assert(e.getMessage.contains("nprobe"))
  }

  test("collection segments carry __list stats for pruned probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec3").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    val segs = store.segments("emb")
    assert(segs.nonEmpty)
    assert(segs.forall(_.stats.contains("__list")),
      s"segments lack __list stats: $segs")
  }

  test("quantized collection stores codes only and probes exactly at full width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec4").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    // the corpus table holds codes, never vectors
    assert(store.read("emb").columns.toSet === Set("vec_id", "__list", "__q"))
    assert(VectorSink.readMeta(store, "emb").metric === "cosine-sq8")
    val queries = corpus.limit(2)
    val got = VectorSink.topK(store, "emb", queries, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 100)
      .orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val exact = graft.ext.Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 3).orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    // nprobe = nlist + corpus-wide shortlist => exact brute-force top-k
    assert(got === exact)
  }

  // a drifted ingest batch: a tight blob far outside the training
  // corpus's range, all of which the stored quantizer piles into the
  // single nearest coarse list
  private def blob = (100L until 160L).map { i =>
    (i, Seq.tabulate(8)(d => (50f + 0.01f * (i % 7) + d * 0.002f)))
  }.toDF("vec_id", "embedding")

  test("append encodes under the stored model; probe at full width stays exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec6").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    assert(store.read("emb").count() === 124)
    val all = corpus.unionByName(blob)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    // nprobe = nlist: the probe sees every list, so exactness survives
    // appends regardless of how skewed the assignment was
    val got = pairs(VectorSink.topK(store, "emb", q,
      "vec_id", "embedding", k = 3, nprobe = 4))
    val exact = pairs(Similarity.bruteForceTopK(all, q,
      "vec_id", "embedding", k = 3))
    assert(got === exact)
  }

  test("rebalance retrains a drifted plain-IVF collection and bounds list skew") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec7").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // balanced collection: below threshold, no rewrite
    assert(!VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      maxSkew = 3.9))
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val before = VectorSink.listSkew(store, "emb")
    // 60 blob rows + the nearest list's originals in one list of 124
    assert(before > 1.5, s"fixture not skewed: $before")
    assert(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      maxSkew = 1.5))
    val after = VectorSink.listSkew(store, "emb")
    assert(after < before, s"rebalance did not reduce skew: $before -> $after")
    // the retrained quantizer reflects today's corpus: the blob gets its
    // own centroid(s) instead of riding a hot list
    val sizes = VectorSink.listSizes(store, "emb").map(_._2)
    assert(sizes.max < 124, s"one list still holds everything: ${sizes.toSeq}")
    // exactness is centroid-independent at nprobe = nlist
    val all = corpus.unionByName(blob)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q,
        "vec_id", "embedding", k = 3, nprobe = 4)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("rebalance retrains quantized collections from fullVectors only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec8").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val all = corpus.unionByName(blob)
    // the stored codes are lossy: retraining refuses to run without the
    // full-precision corpus
    val e = intercept[IllegalArgumentException] {
      VectorSink.rebalance(store, "emb", "vec_id", "embedding", maxSkew = 1.5)
    }
    assert(e.getMessage.contains("fullVectors"))
    // a STALE corpus (missing the appended batch) must fail fast, not
    // silently drop the appended vectors in the rewrite
    val stale = intercept[IllegalArgumentException] {
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",
        fullVectors = Some(corpus), maxSkew = 1.5)
    }
    assert(stale.getMessage.contains("covers"))
    // same SIZE but a different id set must also be refused
    val swapped = all.withColumn("vec_id",
      when(col("vec_id") === 0L, lit(999L)).otherwise(col("vec_id")))
    val wrongIds = intercept[IllegalArgumentException] {
      VectorSink.rebalance(store, "emb", "vec_id", "embedding",
        fullVectors = Some(swapped), maxSkew = 1.5)
    }
    assert(wrongIds.getMessage.contains("missing"))
    val staleMax = store.read("emb__sq_stats")
      .select(element_at(col("maxs"), 1)).head().getDouble(0)
    assert(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.5))
    // the SQ8 stats retrained too: the blob's range is covered now
    val freshMax = store.read("emb__sq_stats")
      .select(element_at(col("maxs"), 1)).head().getDouble(0)
    assert(freshMax > staleMax, s"stats not retrained: $staleMax -> $freshMax")
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("appendAndMaintain self-heals a drifted collection in one call") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec11").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // the drifted batch trips the skew threshold -> rebalance runs
    assert(VectorSink.appendAndMaintain(store, "emb", blob,
      "vec_id", "embedding", maxSkew = 1.5))
    assert(VectorSink.listSkew(store, "emb") < 2.1)
    assert(store.read("emb").count() === 124)
    // a benign batch (more of the same corpus shape) appends WITHOUT
    // triggering a rewrite
    val more = (200L until 210L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    assert(!VectorSink.appendAndMaintain(store, "emb", more,
      "vec_id", "embedding", maxSkew = 4.0))
    assert(store.read("emb").count() === 134)
  }

  test("appendAndMaintain retention rides the append: keep-N sweeps " +
      "generation history, pins survive, opt-in only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsret").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)                                                  // gen 1
    VectorSink.pinGeneration(store, "emb", 1L)
    def more(lo: Long) = (lo until lo + 10L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    // three riding appends under keep-2: history stays pin + last 2
    (0 to 2).foreach { k =>
      VectorSink.appendAndMaintain(store, "emb", more(300 + 10 * k),
        "vec_id", "embedding", maxSkew = 100.0, retainLast = Some(2))
    }
    val gens = VectorSink.generations(store, "emb")
    assert(gens.size === 3, s"pin + last two, got $gens")
    assert(gens.contains(1L), "the pinned generation must survive sweeps")
    assert(store.read("emb").count() === 94L, "appends all landed")
    // the pinned generation still time-travels after the riding sweeps
    assert(VectorSink.generationAt(store, "emb", 1L).corpus.count() === 64L)
    // no retention args -> no sweep (opt-in only)
    VectorSink.writeIvf(store, "u", corpus, "vec_id", "embedding", nlist = 4)
    (0 to 2).foreach(k => VectorSink.appendAndMaintain(store, "u",
      more(300 + 10 * k), "vec_id", "embedding", maxSkew = 100.0))
    assert(VectorSink.generations(store, "u").size === 4)
    // TTL ALONE is a live policy, not a silent no-op: keepLast defaults
    // to 1, so with ttl = 0 only the live generation survives each
    // riding sweep (every earlier generation is milliseconds old by
    // sweep time — older than the zero cutoff)
    VectorSink.writeIvf(store, "t", corpus, "vec_id", "embedding", nlist = 4)
    (0 to 2).foreach(k => VectorSink.appendAndMaintain(store, "t",
      more(300 + 10 * k), "vec_id", "embedding", maxSkew = 100.0,
      retainTtlMs = Some(0L)))
    assert(VectorSink.generations(store, "t").size === 1,
      "retainTtlMs without retainLast must still sweep")
    assert(store.read("t").count() === 94L, "the corpus itself is untouched")
  }

  test("appendAndMaintain self-heals an interrupted swap for plain IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec21").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // orphan the corpus head (crash between corpus and manifest commit)
    store.overwrite("emb", store.read("emb"),
      statsFor = Seq("__list"), rangeBy = Seq("__list"))
    // one call: heal (rebalance from stored vectors) + append + maintain
    VectorSink.appendAndMaintain(store, "emb", blob,
      "vec_id", "embedding", maxSkew = 1.5)
    assert(store.read("emb").count() === 124)
    // quantized collections cannot self-heal (lossy codes): clear recipe
    VectorSink.writeIvf(store, "q", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Sq8)
    val garbage = store.read("q")
    store.overwrite("q", garbage, statsFor = Seq("__list"))
    val e = intercept[IllegalStateException] {
      VectorSink.appendAndMaintain(store, "q", blob, "vec_id", "embedding",
        fullVectors = Some(corpus.unionByName(blob)), maxSkew = 1.5)
    }
    assert(e.getMessage.contains("interrupted model swap"), e.getMessage)
  }

  test("the collection manifest hides a crash-interrupted partial rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec10").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    val queries = corpus.limit(2)
    def probe() = VectorSink.topK(store, "emb", queries, "vec_id",
      "embedding", k = 3, nprobe = 4, fullVectors = Some(corpus),
      shortlist = 100)
      .orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val before = probe()
    // simulate a crash mid-rewrite: ONE sub-table gets a new committed
    // snapshot (garbage dequantization stats) but the writer dies
    // before the collection manifest commit — dequantizing the stored
    // codes with these would corrupt every score
    val garbage = store.read("emb__sq_stats")
      .select(transform(col("mins"), x => x * 1000).as("mins"),
        transform(col("maxs"), x => x * 1000 + 999).as("maxs"))
    store.overwrite("emb__sq_stats", garbage)
    // probes resolve through the manifest: the partial commit is
    // INVISIBLE, results are byte-identical to before
    assert(probe() === before,
      "a partial rewrite leaked into a probe — the manifest must pin " +
        "the previous complete generation")
    // re-running the writer finishes the swap and flips the generation
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    assert(probe() === before) // same data, same model -> same answer
  }

  test("vacuumCollection keeps the pinned generation readable under churn") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec12").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    val queries = corpus.limit(2)
    def probe() = VectorSink.topK(store, "emb", queries, "vec_id",
      "embedding", k = 3, nprobe = 4, fullVectors = Some(corpus),
      shortlist = 100)
      .orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val before = probe()
    // two out-of-band stats commits age the PINNED stats manifest to
    // 3rd-newest — a plain vacuum at retainManifests = 1 would delete
    // it and break every probe of the live generation
    val garbage = store.read("emb__sq_stats")
      .select(transform(col("mins"), x => x * 1000).as("mins"),
        transform(col("maxs"), x => x * 1000 + 999).as("maxs"))
    store.overwrite("emb__sq_stats", garbage)
    store.overwrite("emb__sq_stats", garbage)
    VectorSink.vacuumCollection(store, "emb", retainManifests = 1)
    // the pinned generation survived the vacuum: probes still answer
    // from the consistent model, garbage stats still invisible
    assert(probe() === before)
  }

  test("rebalance covers PQ collections and keeps the PQ params") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec9").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Pq(m = 2, ksub = 8, iters = 2))
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val all = corpus.unionByName(blob)
    assert(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.5))
    // PQ params survive the retrain; the codebooks are refit on all rows
    val pm = store.read("emb__pq_meta").head()
    assert((pm.getAs[Int]("m"), pm.getAs[Int]("ksub")) === ((2, 8)))
    assert(store.read("emb").count() === 124)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  /** Tie-free variant of [[blob]] for the OPQ probes: the shared blob
    * carries EXACT duplicate vectors (i % 7), and at cosine ≈ 1.0 the
    * fp-noise ordering of ties legitimately differs between raw and
    * rotated space — not a ranking property any space preserves. */
  private def opqBlob = (100L until 160L).map { i =>
    (i, Seq.tabulate(8)(d => (50f + 0.01f * i + d * 0.002f)))
  }.toDF("vec_id", "embedding")

  private def rotationOf(g: VectorSink.Generation): Array[Array[Double]] =
    g.model match {
      case Codec.Model.Opq(_, opq) => opq.rotation
      case other => fail(s"not an OPQ model: $other")
    }

  test("OPQ collection: rotated codes, exact full-shortlist probe, pinned rotation on append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vopqspec").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Opq(m = 2, ksub = 8, iters = 2))
    val g1 = VectorSink.generation(store, "emb")
    assert(g1.meta.metric === "cosine-opq")
    val Codec.Model.Opq(_, opq1) = g1.model
    val (rot1, spec1) = (opq1.rotation, opq1.spectrum)
    assert(rot1.length === 8 && rot1.forall(_.length === 8))
    assert(spec1.length === 8)
    // rotation round-trips the store orthonormal
    for (i <- rot1.indices; j <- rot1.indices) {
      val dot = rot1(i).zip(rot1(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    // corpus stores m-byte codes only — never vectors
    assert(store.read("emb").columns.toSet === Set("vec_id", "__list", "__codes"))
    // full shortlist + nprobe = nlist → exact brute-force answer
    // (rotated-space re-rank: orthogonal rotation preserves the ranking)
    val q = corpus.filter(col("vec_id").isin(0L, 5L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", k = 3)))
    // append rotates the batch under the PINNED generation's rotation.
    // The exactness claim compares IN ROTATED SPACE (the probe's own
    // re-rank space): the blob's near-parallel vectors differ at the
    // 1e-12 cosine level, where raw vs rotated fp noise can
    // legitimately reorder — only same-space comparison is deterministic
    VectorSink.append(store, "emb", opqBlob, "vec_id", "embedding")
    val all = corpus.unionByName(opqBlob)
    val q2 = all.filter(col("vec_id").isin(0L, 101L))
    def rotFrame(df: org.apache.spark.sql.DataFrame,
        r: Array[Array[Double]]) =
      df.select(col("vec_id"),
        graft.ext.Opq.rotated(col("embedding"), r).as("embedding"))
    assert(pairs(VectorSink.topK(store, "emb", q2, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(rotFrame(all, rot1), rotFrame(q2, rot1),
        "vec_id", "embedding", k = 3)))
    // gen 2 (the append) kept gen 1's rotation bit-for-bit
    val g2 = VectorSink.generation(store, "emb")
    assert(rotationOf(g2).flatten.toSeq === rot1.flatten.toSeq)
  }

  test("OPQ rebalance retrains rotation + codebooks, history keeps its own rotation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vopqreb").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Opq(m = 2, ksub = 8, iters = 2))
    val rot1 = rotationOf(VectorSink.generation(store, "emb"))
    VectorSink.append(store, "emb", opqBlob, "vec_id", "embedding")
    val all = corpus.unionByName(opqBlob)
    assert(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.5))
    val g3 = VectorSink.generation(store, "emb")
    // params survive; the rotation was REFIT on the grown corpus (the
    // far-away blob shifts the spectrum, so the eigenbasis must move)
    val pm = store.read("emb__pq_meta").head()
    assert((pm.getAs[Int]("m"), pm.getAs[Int]("ksub")) === ((2, 8)))
    assert(rotationOf(g3).flatten.toSeq !== rot1.flatten.toSeq)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    def rotFrame(df: org.apache.spark.sql.DataFrame,
        r: Array[Array[Double]]) =
      df.select(col("vec_id"),
        graft.ext.Opq.rotated(col("embedding"), r).as("embedding"))
    // exactness compared in the probe's own (rotated) space — see the
    // sibling test for why near-parallel blob vectors demand this
    val rot3 = rotationOf(g3)
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(rotFrame(all, rot3), rotFrame(q, rot3),
        "vec_id", "embedding", k = 3)))
    // the PRE-rebalance generation still probes under ITS rotation
    val gens = VectorSink.generations(store, "emb")
    val hist = VectorSink.generationAt(store, "emb", gens.head)
    assert(rotationOf(hist).flatten.toSeq === rot1.flatten.toSeq)
    val qh = corpus.filter(col("vec_id") === 0L)
    assert(pairs(VectorSink.topK(store, "emb", qh, "vec_id", "embedding",
      k = 3, nprobe = 4, at = Some(hist), fullVectors = Some(corpus),
      shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(corpus, qh, "vec_id", "embedding", k = 3)))
  }

  test("append assignment is map-only: no Exchange, no Window in the plan") {
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val batch = Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.9f, 0.8f)))
      .toDF("vec_id", "embedding")
    val assigned = VectorSink.assignToStored(batch, cents, "embedding")
    val nodes = assigned.queryExecution.executedPlan
      .collect { case p => p.getClass.getSimpleName }
    assert(!nodes.exists(n => n.contains("Exchange") || n.contains("Window")),
      s"append assignment must stay map-only, got: $nodes")
    assert(assigned.select("vec_id", "__list").as[(Long, Int)].collect()
      .toMap === Map(1L -> 0, 2L -> 1))
  }

  test("append argmin agrees with the probe-side centroid ranking") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec13").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    val centroids = store.read("emb__centroids")
    val matrix = centroids.collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    val batch = corpus.unionByName(blob)
    val got = VectorSink.assignToStored(batch, matrix, "embedding")
      .select("vec_id", "__list").as[(Long, Int)].collect().toMap
    // the probe-side shape: Σ(v−c)² ranking, ties to lowest __list —
    // the SAME loop the argmin runs, so agreement is bit-exact
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id").orderBy(col("__d"), col("__list"))
    val expected = batch.crossJoin(broadcast(centroids))
      .withColumn("__d", graft.functions.VectorFunctions.sqDist(
        col("embedding"), col("__centroid")))
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select("vec_id", "__list").as[(Long, Int)].collect().toMap
    assert(got === expected)
  }

  private def countJobs[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      drainListenerBus() // deterministic drain: events deliver async
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `LiveListenerBus.waitUntilEmpty` is private[spark] — reach it via
    * reflection (a fixed sleep would make the zero-jobs assertion
    * timing-dependent); falls back to a sleep if the internals move. */
  private def drainListenerBus(): Unit = try {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val ms = bus.getClass.getMethods
    ms.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .orElse(ms.find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 1)
        .map(_.invoke(bus, java.lang.Long.valueOf(10000L))))
      .getOrElse(Thread.sleep(500))
    ()
  } catch { case _: ReflectiveOperationException => Thread.sleep(500) }

  test("the skew check reads the manifest census — zero Spark jobs, no corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec14").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val ((skew, sizes), jobs) = countJobs {
      (VectorSink.listSkew(store, "emb"), VectorSink.listSizes(store, "emb"))
    }
    assert(jobs === 0,
      s"listSkew/listSizes launched $jobs Spark jobs — the census must be " +
        "manifest-backed")
    assert(sizes.map(_._2).sum === 124L, s"census drifted: ${sizes.toSeq}")
    assert(skew > 1.5) // the blob piled into one list
  }

  test("delete is O(ids): a bounded handful of batch-sized jobs, no corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vdelj").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    val ids = corpus.filter(col("vec_id") % 7 === 0).select("vec_id")
    val (n, jobs) = countJobs {
      VectorSink.delete(store, "emb", ids, "vec_id")
    }
    assert(n === 10L)
    // measured breakdown: distinct-count (2-3 AQE stages), the
    // column-existence footer check (1 — reads footers, O(#segments)
    // not O(rows)), the tombstone id-file distinct+write (2-3). All
    // batch- or metadata-sized; a corpus DATA scan would add
    // corpus-proportional stages on top of this fixed handful
    assert(jobs <= 8,
      s"delete launched $jobs jobs — it must stay O(ids): distinct count " +
        "+ footer check + tombstone write, never a corpus scan")
  }

  test("append refuses a corpus head orphaned by an interrupted swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec15").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // simulate a crash mid-rebalance: the corpus got rewritten but the
    // collection manifest commit never happened — the head is an orphan
    store.overwrite("emb", store.read("emb"),
      statsFor = Seq("__list"), rangeBy = Seq("__list"))
    val e = intercept[IllegalArgumentException] {
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("run rebalance"),
      s"append must point at rebalance to finish the swap: ${e.getMessage}")
  }

  test("append encodes under the PINNED model, not orphaned sub-table heads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec16").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    // orphaned partial swap of the STATS table only (no manifest commit)
    val garbage = store.read("emb__sq_stats")
      .select(transform(col("mins"), x => x * 1000).as("mins"),
        transform(col("maxs"), x => x * 1000 + 999).as("maxs"))
    store.overwrite("emb__sq_stats", garbage)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    // the appended rows' codes must be the PINNED generation's encoding —
    // codes under the garbage stats would differ wildly
    val pinnedStats = VectorSink.generation(store, "emb").model match {
      case Codec.Model.Sq8(stats) => stats
      case other => fail(s"not an SQ8 model: $other")
    }
    val expected = blob.crossJoin(broadcast(pinnedStats))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(
          col("embedding"), col("mins"), col("maxs"))("q").as("__q"))
      .select(col("vec_id"), concat_ws(",", col("__q")).as("q"))
      .as[(Long, String)].collect().toMap
    val got = store.read("emb").filter(col("vec_id") >= 100L)
      .select(col("vec_id"), concat_ws(",", col("__q")).as("q"))
      .as[(Long, String)].collect().toMap
    assert(got === expected,
      "append read an orphaned stats head instead of the pinned generation")
  }

  test("width guard validates the WHOLE batch, not just its first row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec17").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // row 1 has the trained width; row 2 is short — must be rejected
    val mixed = Seq(
      (500L, Seq.tabulate(8)(_.toFloat)),
      (501L, Seq.tabulate(5)(_.toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorSink.append(store, "emb", mixed, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("widths"), e.getMessage)
    val empty = intercept[IllegalArgumentException] {
      VectorSink.append(store, "emb", corpus.limit(0), "vec_id", "embedding")
    }
    assert(empty.getMessage.contains("empty batch"))
    // NULL vectors are invisible to min/max(size) — they must be
    // counted out explicitly, not slip through to a __list=NULL row
    val withNull = Seq(
      (600L, Some(Seq.tabulate(8)(_.toFloat))),
      (601L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val nulls = intercept[IllegalArgumentException] {
      VectorSink.append(store, "emb", withNull, "vec_id", "embedding")
    }
    assert(nulls.getMessage.contains("NULL"), nulls.getMessage)
  }

  test("write-path width validation rides the write action, blocks the commit") {
    // the checks moved off their own eager corpus aggregate onto an
    // observe riding the write itself (one corpus scan, not two). An
    // invalid corpus may die even earlier — the coarse kmeans training
    // throws on mixed-width or NULL features, exactly as it did before
    // the move (the old aggregate ALSO ran after ivfTrain) — but the
    // observable contract holds either way: the write raises and NO
    // generation becomes visible (the collection manifest, committed
    // last, never lands)
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec21").toString
    val store = new TableStore(dir, spark)
    val mixed = Seq(
      (0L, Seq.tabulate(8)(_.toFloat)), (1L, Seq.tabulate(8)(_.toFloat)),
      (2L, Seq.tabulate(8)(_.toFloat)), (3L, Seq.tabulate(5)(_.toFloat)))
      .toDF("vec_id", "embedding")
    intercept[Exception] {
      VectorSink.writeIvf(store, "emb", mixed, "vec_id", "embedding",
        nlist = 2)
    }
    assert(!store.exists("emb__collection"),
      "a failed width validation must not leave a visible generation")
    // NULL vectors: same deferral, same refusal
    val withNull = Seq(
      (0L, Some(Seq.tabulate(8)(_.toFloat))),
      (1L, Some(Seq.tabulate(8)(_.toFloat))),
      (2L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    intercept[Exception] {
      VectorSink.writeIvf(store, "emb2", withNull, "vec_id", "embedding",
        nlist = 2, codec = Codec.Binary)
    }
    assert(!store.exists("emb2__collection"),
      "a failed NULL validation must not leave a visible generation")
    // and the deferred metrics still resolve the dim on the GOOD path:
    // a clean write commits with the observed width in its meta
    val good = Seq.tabulate(16)(i => (i.toLong, Seq.tabulate(7)(_.toFloat + i)))
      .toDF("vec_id", "embedding")
    VectorSink.writeIvf(store, "emb3", good, "vec_id", "embedding", nlist = 2)
    assert(VectorSink.readMeta(store, "emb3").dim === 7,
      "the observe-carried dim must land in the committed meta")
  }

  test("appendDeduped drops collection near-dups, appends the rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec22").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // batch: a near-twin of vec 5 (must drop) + one orthogonal-ish
    // fresh vector (must land)
    val twin = corpus.filter(col("vec_id") === 5L)
      .select((col("vec_id") + 100L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x * org.apache.spark.sql.functions.lit(1.001)
            + org.apache.spark.sql.functions.lit(0.0001))
          .cast("array<float>").as("embedding"))
    val fresh = Seq((200L, Seq(9.0f, -9.0f, 9.0f, -9.0f, 9.0f, -9.0f, 9.0f, -9.0f)))
      .toDF("vec_id", "embedding")
    val (kept, dropped) = VectorSink.appendDeduped(store, "emb",
      twin.unionByName(fresh), "vec_id", "embedding",
      threshold = 0.98, nprobe = 4)
    assert((kept, dropped) === (1L, 1L))
    val ids = store.read("emb").select("vec_id").as[Long].collect().toSet
    assert(ids.contains(200L) && !ids.contains(105L),
      s"twin must drop, fresh must land: $ids")
    // all-duplicate batch: nothing appends, the generation stays put
    val genBefore = VectorSink.generations(store, "emb").max
    val (k2, d2) = VectorSink.appendDeduped(store, "emb",
      twin.select((col("vec_id") + 1L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", threshold = 0.98, nprobe = 4)
    assert((k2, d2) === (0L, 1L))
    assert(VectorSink.generations(store, "emb").max === genBefore,
      "an all-duplicate batch must leave no new generation")
  }

  test("appendDeduped screens same-id re-ingests and rejects duplicate batch ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec24").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // the interrupted-batch-recovery case: re-ingesting a row the
    // collection ALREADY HOLDS (same id, same vector) must screen
    // against its own stored copy (cosine 1) and drop — the serving
    // path's query≠match self-exclusion must not leak into the screen
    val (k1, d1) = VectorSink.appendDeduped(store, "emb",
      corpus.filter(col("vec_id") === 5L), "vec_id", "embedding",
      threshold = 0.98, nprobe = 4)
    assert((k1, d1) === (0L, 1L),
      "a re-ingested stored row must screen against itself")
    assert(store.read("emb").filter(col("vec_id") === 5L).count() === 1L,
      "no second physical row for the re-ingested id")
    // duplicate BATCH ids: the screen is id-keyed, so the scaffold
    // must refuse instead of silently dropping a non-duplicate sibling
    val dupBatch = Seq(
      (300L, Seq.tabulate(8)(d => math.sin(5 * 31 + d * 7).toFloat)),
      (300L, Seq.tabulate(8)(d => math.cos(d * 3 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorSink.appendDeduped(store, "emb", dupBatch,
        "vec_id", "embedding", threshold = 0.98, nprobe = 4)
    }
    assert(e.getMessage.contains("unique"), e.getMessage)
    // and the binary twin shares the scaffold's guard
    VectorSink.writeIvf(store, "embb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Binary)
    val e2 = intercept[IllegalArgumentException] {
      VectorSink.appendDedupedBinary(store, "embb", dupBatch,
        "vec_id", "embedding", maxHamming = 2, nprobe = 4)
    }
    assert(e2.getMessage.contains("unique"), e2.getMessage)
  }

  test("retention: keep-N/TTL expiry, pins retain, prune refuses over a pin") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec26").toString
    val store = new TableStore(dir, spark)
    val half = corpus.filter(col("vec_id") < 32L)
    VectorSink.writeIvf(store, "emb", half, "vec_id", "embedding",
      nlist = 4)                                                   // gen 1
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") >= 32L && col("vec_id") < 48L),
      "vec_id", "embedding")                                       // gen 2
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") >= 48L), "vec_id", "embedding")  // gen 3
    // keepLast beyond history: nothing expires
    val r0 = VectorSink.applyRetention(store, "emb", keepLast = 5)
    assert(r0.removed.isEmpty && r0.remaining === Seq(1L, 2L, 3L))
    // TTL retains young rows even outside the keep window
    val r1 = VectorSink.applyRetention(store, "emb", keepLast = 1,
      ttlMs = Some(Long.MaxValue))
    assert(r1.removed.isEmpty && r1.retainedByPin.isEmpty)
    // pin validation: unknown generation refuses
    val eNoGen = intercept[IllegalArgumentException] {
      VectorSink.pinGeneration(store, "emb", 99L)
    }
    assert(eNoGen.getMessage.contains("not in history"), eNoGen.getMessage)
    VectorSink.pinGeneration(store, "emb", 1L)
    assert(VectorSink.pinnedGenerations(store, "emb") === Set(1L))
    // keep-1 sweep: gen 2 expires, gen 1 survives on the pin
    val r2 = VectorSink.applyRetention(store, "emb", keepLast = 1)
    assert(r2.removed === Seq(2L))
    assert(r2.retainedByPin === Seq(1L))
    assert(VectorSink.generations(store, "emb") === Seq(1L, 3L))
    // manual prune refuses over the pin
    val ePin = intercept[IllegalArgumentException] {
      VectorSink.pruneGenerations(store, "emb", keep = 1)
    }
    assert(ePin.getMessage.contains("PINNED"), ePin.getMessage)
    // the pinned generation still time-travels after the sweep's vacuum
    val g1 = VectorSink.generationAt(store, "emb", 1L)
    val probe = VectorSink.topK(store, "emb", half.filter(col("vec_id") < 2L),
      "vec_id", "embedding", k = 3, nprobe = 4, at = Some(g1))
    assert(probe.count() === 6L)
    assert(probe.agg(max("match_id")).as[Long].head() < 32L,
      "a gen-1 probe must only see gen-1 corpus rows")
    // unpin (empty set drops the pins file) + TTL=0 at a future now:
    // gen 1 expires, only the live generation remains
    VectorSink.unpinGeneration(store, "emb", 1L)
    assert(VectorSink.pinnedGenerations(store, "emb") === Set.empty[Long])
    val r3 = VectorSink.applyRetention(store, "emb", keepLast = 1,
      ttlMs = Some(0L), now = System.currentTimeMillis() + 60000L)
    assert(r3.removed === Seq(1L) && r3.remaining === Seq(3L))
    // live reads unaffected throughout
    assert(store.read("emb").count() === 64L)
    // unpinned prune now works (no-op at keep=2 history of 1)
    VectorSink.pruneGenerations(store, "emb", keep = 1)
    assert(VectorSink.generations(store, "emb") === Seq(3L))
  }

  test("dataset-facade vector handle exposes pin/retain (delegation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec27").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus.filter(col("vec_id") < 32L),
      "vec_id", "embedding", nlist = 4)
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") >= 32L), "vec_id", "embedding")
    val ds = new graft.dataset.GraftDataset(store,
      new graft.schema.SchemaRegistry("v"), spark)
    val coll = ds.vectors("emb")
    coll.pin(1L)
    assert(coll.pinned === Set(1L))
    val r = coll.retain(keepLast = 1)
    assert(r.retainedByPin === Seq(1L) && r.remaining === Seq(1L, 2L))
    coll.unpin(1L)
    assert(coll.pinned === Set.empty[Long])
  }

  test("appendDedupedAdc screens SQ8/PQ/OPQ on dequantized codes; " +
      "metric routing raises with guidance") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec25").toString
    val store = new TableStore(dir, spark)
    def twinAndFresh = {
      val twin = corpus.filter(col("vec_id") === 5L)
        .select((col("vec_id") + 100L).as("vec_id"),
          org.apache.spark.sql.functions.transform(col("embedding"),
            x => x * org.apache.spark.sql.functions.lit(1.001)
              + org.apache.spark.sql.functions.lit(0.0001))
            .cast("array<float>").as("embedding"))
      val fresh = Seq((200L,
        Seq(9.0f, -9.0f, 9.0f, -9.0f, 9.0f, -9.0f, 9.0f, -9.0f)))
        .toDF("vec_id", "embedding")
      twin.unionByName(fresh)
    }
    // SQ8: int8 dequantization error is tiny, so twin ADC ≈ 1 (drops
    // at 0.9) while fresh's true cosine vs the whole corpus is < 0.05
    VectorSink.writeIvf(store, "sq8", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    val (k1, d1) = VectorSink.appendDeduped(store, "sq8", twinAndFresh,
      "vec_id", "embedding", threshold = 0.9, nprobe = 4)
    assert((k1, d1) === (1L, 1L))
    val sq8Ids = store.read("sq8").select("vec_id").as[Long].collect().toSet
    assert(sq8Ids.contains(200L) && !sq8Ids.contains(105L),
      s"twin must drop, fresh must land: $sq8Ids")
    // PQ at ksub = |corpus| per subspace: first-k init memorizes every
    // point, reconstruction is EXACT, so ADC ≡ true cosine here
    VectorSink.writeIvf(store, "pq", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Pq(m = 4, ksub = 64, iters = 1))
    val (k2, d2) = VectorSink.appendDeduped(store, "pq", twinAndFresh,
      "vec_id", "embedding", threshold = 0.98, nprobe = 4)
    assert((k2, d2) === (1L, 1L))
    // OPQ: the screen must rotate the batch under the PINNED rotation
    // before comparing (codes live in rotated space; an unrotated
    // probe of a rotated corpus would see garbage cosines and keep
    // the twin)
    VectorSink.writeIvf(store, "opq", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Opq(m = 4, ksub = 64, iters = 1))
    val (k3, d3) = VectorSink.appendDeduped(store, "opq", twinAndFresh,
      "vec_id", "embedding", threshold = 0.98, nprobe = 4)
    assert((k3, d3) === (1L, 1L))
    val opqIds = store.read("opq").select("vec_id").as[Long].collect().toSet
    assert(opqIds.contains(200L) && !opqIds.contains(105L),
      s"twin must drop, fresh must land: $opqIds")
    // sign codes reconstruct no vector to cosine-screen against: a
    // binary collection routes to the Hamming screen
    VectorSink.writeIvf(store, "bq", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Binary)
    val e = intercept[IllegalArgumentException] {
      VectorSink.appendDeduped(store, "bq", twinAndFresh,
        "vec_id", "embedding", threshold = 0.9, nprobe = 4)
    }
    assert(e.getMessage.contains("appendDedupedBinary"), e.getMessage)
  }

  test("appendDedupedBinary screens on stored codes, Hamming-only contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec23").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Binary)
    // sign-identical twin of vec 9 (hamming 0 — must drop) + a vector
    // with every sign flipped vs everything sin-based it could meet
    // (hamming far above budget — must land)
    val twin = corpus.filter(col("vec_id") === 9L)
      .select((col("vec_id") + 100L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x * org.apache.spark.sql.functions.lit(1.5))
          .cast("array<float>").as("embedding")) // scaling never flips a sign
    val fresh = corpus.filter(col("vec_id") === 10L)
      .select((col("vec_id") + 200L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x * org.apache.spark.sql.functions.lit(-1.0))
          .cast("array<float>").as("embedding")) // all 8 signs flipped vs 10
    val (kept, dropped) = VectorSink.appendDedupedBinary(store, "emb",
      twin.unionByName(fresh), "vec_id", "embedding",
      maxHamming = 0, nprobe = 4)
    // twin: hamming 0 vs vec 9 -> dropped; anti-twin of 10: hamming 8
    // vs 10, and only dropped if some OTHER stored code matches all 8
    // signs — compute the truth from the corpus to keep this exact
    val signs = corpus.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_ > 0).toVector)).toMap
    val antiSigns = signs(10L).map(!_)
    val antiDup = signs.values.exists(_ == antiSigns)
    assert(dropped === (if (antiDup) 2L else 1L))
    assert(kept === 2L - dropped)
    val ids = store.read("emb").select("vec_id").as[Long].collect().toSet
    assert(!ids.contains(109L), "sign-identical twin must drop")
    assert(ids.contains(210L) === !antiDup)
  }

  test("rebalance heals an interrupted swap even when the census is balanced") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec20").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    // orphan the corpus head (crash between corpus commit and manifest
    // commit); the census stays balanced, so a skew-only trigger would
    // no-op forever while append keeps refusing
    store.overwrite("emb", store.read("emb"),
      statsFor = Seq("__list"), rangeBy = Seq("__list"))
    intercept[IllegalArgumentException] {
      VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    }
    assert(VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      maxSkew = 4.0), "rebalance must rewrite on an orphaned corpus head")
    // the swap is finished: appends flow again and probes stay exact
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    assert(store.read("emb").count() === 124)
    val all = corpus.unionByName(blob)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q,
        "vec_id", "embedding", k = 3, nprobe = 4)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("vacuumCollection retains EVERY listed generation's pins") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec18").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding") // gen 2
    assert(VectorSink.generations(store, "emb") === Seq(1L, 2L))
    // out-of-band churn ages the pinned manifests beyond retainManifests
    val garbage = store.read("emb__sq_stats")
      .select(transform(col("mins"), x => x * 1000).as("mins"),
        transform(col("maxs"), x => x * 1000 + 999).as("maxs"))
    store.overwrite("emb__sq_stats", garbage)
    store.overwrite("emb__sq_stats", garbage)
    VectorSink.vacuumCollection(store, "emb", retainManifests = 1)
    // BOTH generations stay probe-able: gen 1's corpus snapshot and
    // gen 2's must survive, not just whichever row head() happened on
    assert(VectorSink.generationAt(store, "emb", 1L).corpus.count() === 64L)
    assert(VectorSink.generationAt(store, "emb", 2L).corpus.count() === 124L)
    val all = corpus.unionByName(blob)
    val q = all.filter(col("vec_id").isin(0L, 101L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("RAW sub-table vacuum also retains collection-pinned manifests") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vrawvac").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    VectorSink.append(store, "emb", blob, "vec_id", "embedding") // gen 2
    // age the pinned manifests with out-of-band churn, then vacuum the
    // sub-tables DIRECTLY (not via vacuumCollection): the store-level
    // pin guard must fold the generation manifest's pins in by itself
    val garbage = store.read("emb__sq_stats")
      .select(transform(col("mins"), x => x * 1000).as("mins"),
        transform(col("maxs"), x => x * 1000 + 999).as("maxs"))
    store.overwrite("emb__sq_stats", garbage)
    store.overwrite("emb__sq_stats", garbage)
    store.vacuum("emb", retainManifests = 1)
    store.vacuum("emb__sq_stats", retainManifests = 1)
    store.vacuum("emb__centroids", retainManifests = 1)
    assert(VectorSink.generationAt(store, "emb", 1L).corpus.count() === 64L)
    assert(VectorSink.generationAt(store, "emb", 2L).corpus.count() === 124L)
    // a NON-collection table with a suffix-looking name vacuums freely
    val plain = corpus.select("vec_id")
    store.overwrite("solo__sq_stats", plain)
    store.overwrite("solo__sq_stats", plain)
    store.overwrite("solo__sq_stats", plain)
    assert(store.vacuum("solo__sq_stats", retainManifests = 1) >= 0)
  }

  test("historical generations probe with their own model (topK*Gen)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec19").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    val q = corpus.limit(2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val atGen1 = pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 100))
    // grow + retrain: the live generation moves on
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val all = corpus.unionByName(blob)
    VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.0)
    // a historical probe pins gen 1: pre-append corpus, pre-retrain model
    val g1 = VectorSink.generationAt(store, "emb", 1L)
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, at = Some(g1), fullVectors = Some(corpus),
      shortlist = 100)) === atGen1)
    // and the live probe reflects the grown corpus exactly
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 300)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("binary historical generations probe the pre-append corpus (topKBinaryGen)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsbqgen").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Binary)
    val q = corpus.limit(2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val atGen1 = pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 64))
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val all = corpus.unionByName(blob)
    VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.0)
    // gen 1 pins the pre-append corpus and pre-retrain centroids; the
    // sign codes themselves are model-free, so ONLY the corpus and
    // coarse lists differ between generations
    val g1 = VectorSink.generationAt(store, "emb", 1L)
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, at = Some(g1), fullVectors = Some(corpus),
      shortlist = 64)) === atGen1)
    // live probe reflects the grown corpus exactly at full width
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 200)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("PQ historical generations probe with their own codebooks (topKPqGen)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec22").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Pq(m = 2, ksub = 8, iters = 2))
    val q = corpus.limit(2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    val atGen1 = pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 100))
    VectorSink.append(store, "emb", blob, "vec_id", "embedding")
    val all = corpus.unionByName(blob)
    VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(all), maxSkew = 1.0)
    // gen 1 pins the pre-append corpus AND the pre-retrain codebooks
    val g1 = VectorSink.generationAt(store, "emb", 1L)
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, at = Some(g1), fullVectors = Some(corpus),
      shortlist = 100)) === atGen1)
    assert(pairs(VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(all), shortlist = 300)) ===
      pairs(Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k = 3)))
  }

  test("PQ collection stores m-byte codes and probes exactly at full width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsspec5").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Pq(m = 2, ksub = 8, iters = 2))
    // the corpus table holds PQ codes, never vectors
    assert(store.read("emb").columns.toSet === Set("vec_id", "__list", "__codes"))
    assert(VectorSink.readMeta(store, "emb").metric === "cosine-pq")
    assert(store.read("emb__pq_codebooks").count() === 16) // m * ksub
    val queries = corpus.limit(2)
    val got = VectorSink.topK(store, "emb", queries, "vec_id", "embedding",
      k = 3, nprobe = 4, fullVectors = Some(corpus), shortlist = 100)
      .orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    // nprobe = nlist + corpus-wide shortlist: the exact re-rank sees
    // every vector, so the result is the brute-force top-k
    val exact = graft.ext.Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 3).orderBy("query_id", "rank")
      .select("query_id", "match_id").as[(Long, Long)].collect().toSeq
    assert(got === exact)
    // a pruned probe still fills k; without the full-precision corpus
    // the code-only collection has nothing to re-rank against
    assert(VectorSink.topK(store, "emb", queries, "vec_id", "embedding",
      k = 3, nprobe = 1, fullVectors = Some(corpus), shortlist = 10).count() === 6)
    val e = intercept[IllegalArgumentException] {
      VectorSink.topK(store, "emb", queries, "vec_id", "embedding", k = 3,
        nprobe = 1, shortlist = 10)
    }
    assert(e.getMessage.contains("fullVectors"), e.getMessage)
  }

  private def probeRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].longValue,
        r.getLong(2), r.getDouble(3))).toSeq

  test("delete tombstones rows merge-on-read; pinned history keeps seeing them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vdel").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)                                                     // gen 1
    val dead = corpus.filter(col("vec_id") % 3 === 0).select("vec_id")
    val n = VectorSink.delete(store, "emb", dead, "vec_id")          // gen 2
    assert(n === 22L)
    // live reads exclude the tombstoned ids; the census stays PHYSICAL
    // (dead rows are still scanned until a rewrite materializes them)
    val live = store.read("emb")
    assert(live.filter(col("vec_id") % 3 === 0).isEmpty)
    assert(live.count() === 42L)
    assert(VectorSink.listSizes(store, "emb").map(_._2).sum === 64L)
    assert(VectorSink.deadFraction(store, "emb") === 22.0 / 64.0)
    // probes never return a deleted id and match the exact answer over
    // the live corpus at nprobe = nlist
    val liveCorpus = corpus.filter(col("vec_id") % 3 =!= 0)
    val q = liveCorpus.filter(col("vec_id") < 6)
    assert(probeRows(VectorSink.topK(store, "emb", q,
      "vec_id", "embedding", k = 3, nprobe = 4)) ===
      probeRows(Similarity.ivfTopK(liveCorpus, q,
        "vec_id", "embedding", k = 3, nlist = 4, nprobe = 4)))
    // generation 1 pins the pre-delete snapshot — history is unharmed
    assert(VectorSink.generationAt(store, "emb", 1L).corpus.count() === 64L)
    assert(VectorSink.generations(store, "emb") === Seq(1L, 2L))
    // absent ids tombstone as id predicates: counted, rows unchanged
    assert(VectorSink.delete(store, "emb",
      Seq(999L).toDF("vec_id"), "vec_id") === 1L)
    assert(store.read("emb").count() === 42L)
    // an empty delete is a no-op commit-wise (still 3 generations)
    assert(VectorSink.delete(store, "emb",
      Seq.empty[Long].toDF("vec_id"), "vec_id") === 0L)
    assert(VectorSink.generations(store, "emb") === Seq(1L, 2L, 3L))
    // a typo'd id column fails loudly instead of committing a tombstone
    // reads would silently skip
    val e = intercept[IllegalArgumentException] {
      VectorSink.delete(store, "emb", Seq(4L).toDF("vecid"), "vecid")
    }
    assert(e.getMessage.contains("no 'vecid' column"))
  }

  test("upsert replaces rows atomically and resurrects deleted ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vup").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)                                                     // gen 1
    VectorSink.delete(store, "emb",
      corpus.filter(col("vec_id") % 4 === 0).select("vec_id"),
      "vec_id")                                                      // gen 2
    // upsert every EVEN id with a shifted vector: replaces the 16 live
    // evens AND resurrects the 16 deleted multiples of 4 — the upsert's
    // own segment is not covered by any tombstone
    val shifted = corpus.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(0.5) + lit(1.0))
          .cast("array<float>").as("embedding"))
    VectorSink.upsert(store, "emb", shifted, "vec_id", "embedding")  // gen 3
    val expected = corpus.filter(col("vec_id") % 2 === 1)
      .unionByName(shifted)
    assert(store.read("emb").count() === 64L)
    // physical census: 64 original + 32 upserted rows; tombstoned ids:
    // 16 (delete) + 32 (upsert) → deadFraction 48/96
    assert(VectorSink.listSizes(store, "emb").map(_._2).sum === 96L)
    assert(VectorSink.deadFraction(store, "emb") === 0.5)
    assert(VectorSink.generations(store, "emb") === Seq(1L, 2L, 3L))
    val q = expected.filter(col("vec_id") < 6)
    assert(probeRows(VectorSink.topK(store, "emb", q,
      "vec_id", "embedding", k = 3, nprobe = 4)) ===
      probeRows(Similarity.ivfTopK(expected, q,
        "vec_id", "embedding", k = 3, nlist = 4, nprobe = 4)))
  }

  test("upsert rejects a batch with duplicate ids (tombstones never cover the batch's own segment)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vdup").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)
    val dup = corpus.filter(col("vec_id") < 4)
      .unionByName(corpus.filter(col("vec_id") === 2))
    val e = intercept[IllegalArgumentException] {
      VectorSink.upsert(store, "emb", dup, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("duplicate ids"))
    // the rejection happens BEFORE the commit: census, generation list
    // and row count are all untouched
    assert(store.read("emb").count() === 64L)
    assert(VectorSink.generations(store, "emb") === Seq(1L))
    assert(VectorSink.listSizes(store, "emb").map(_._2).sum === 64L)
    // append (no tombstone) still accepts the same batch: duplicates
    // are only a hazard for replace-by-id semantics
    VectorSink.append(store, "emb", dup, "vec_id", "embedding")
    assert(store.read("emb").count() === 69L)
  }

  test("appendAndMaintain materializes deletes past the dead-fraction trigger") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vmat").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4)
    VectorSink.delete(store, "emb",
      corpus.filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id")
    val extra = (100L until 104L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    // skew is fine; the 32/68 dead fraction is what trips maintenance
    val ran = VectorSink.appendAndMaintain(store, "emb", extra,
      "vec_id", "embedding", maxDeadFraction = 0.25)
    assert(ran, "dead fraction above the threshold must trigger a rewrite")
    // the rewrite MATERIALIZED the deletes: dead rows left the segments,
    // the census recounts to live rows, the tombstones are gone
    assert(store.read("emb").count() === 36L)
    assert(VectorSink.listSizes(store, "emb").map(_._2).sum === 36L)
    assert(VectorSink.deadFraction(store, "emb") === 0.0)
    assert(store.tombstones("emb").isEmpty)
    // below the threshold nothing rewrites
    val extra2 = (200L until 204L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    assert(!VectorSink.appendAndMaintain(store, "emb", extra2,
      "vec_id", "embedding", maxDeadFraction = 0.25))
  }

  test("probe list ranking is map-only and bit-identical to the window form") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vtopn").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    val g = VectorSink.generation(store, "emb")
    val mat = Similarity.centroidMatrix(g.centroids)
    val q = corpus.filter(col("vec_id") < 8)
    // the exploded codegen top-n against the reference window plan it
    // replaced: same SqDist loop, same (d, list) ordering — every
    // (query, rank) pair identical at every nprobe
    import org.apache.spark.sql.expressions.Window
    for (nprobe <- Seq(1, 2, 3, 4)) {
      val fast = q.select(col("vec_id").as("query_id"), col("embedding"))
        .withColumn("__list", explode(
          graft.functions.VectorFunctions.centroidTopN(
            col("embedding"), mat, nprobe)))
        .withColumn("__pr", row_number().over(
          Window.partitionBy("query_id").orderBy("__list")))
        .select("query_id", "__list")
      val w = Window.partitionBy("query_id")
        .orderBy(col("__d"), col("__list"))
      val slow = q.select(col("vec_id").as("query_id"), col("embedding"))
        .crossJoin(broadcast(g.centroids))
        .withColumn("__d", graft.functions.VectorFunctions.sqDist(
          col("embedding"), col("__centroid")))
        .withColumn("__pr", row_number().over(w))
        .filter(col("__pr") <= nprobe)
        .select("query_id", "__list")
      assert(fast.collect().map(r => (r.getLong(0), r.getInt(1))).toSet ===
        slow.collect().map(r => (r.getLong(0), r.getInt(1))).toSet,
        s"nprobe=$nprobe list sets diverged")
    }
    // EXACT TIES break to the lower list: duplicate centroids
    val tied = Array(Array(1.0, 1.0), Array(0.0, 0.0), Array(0.0, 0.0))
    val one = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(graft.functions.VectorFunctions.centroidTopN(
        col("embedding"), tied, 2).as("ls"))
      .as[Seq[Int]].head()
    assert(one === Seq(1, 2), "equal distances must keep lower lists first")
    // the plain persisted probe carries exactly ONE Window (the final
    // top-k rank): the list ranking itself is map-only (the plan string
    // sees through the AQE wrapper, which hides children from collect)
    val plan = VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4).queryExecution.executedPlan.toString
    val windows = "\\bWindow \\[".r.findAllIn(plan).size
    assert(windows === 1,
      s"probe ranking must be map-only; plan has $windows Windows:\n$plan")
  }

  test("filtered probes pre-filter before the rank, across all metrics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vflt").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding", nlist = 4)
    val pred = col("vec_id") % 3 === 0
    val allowed = corpus.filter(pred).select("vec_id")
    val q = corpus.filter(col("vec_id") < 4)
    // nprobe = nlist → exactly the brute-force top-k over the FILTERED
    // corpus (a post-filter of the unfiltered top-k would lose rows)
    val byPred = VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, where = Some(pred))
    assert(probeRows(byPred) === probeRows(Similarity.bruteForceTopK(
      corpus.filter(pred), q, "vec_id", "embedding", k = 3)))
    // the id-allowlist variant agrees with the predicate variant
    val byList = VectorSink.topK(store, "emb", q, "vec_id", "embedding",
      k = 3, nprobe = 4, among = Some(allowed))
    assert(probeRows(byList) === probeRows(byPred))
    // quantized + PQ: `among` restricts the stored codes BEFORE the ADC
    // shortlist; corpus-wide shortlist + nprobe=nlist → exact over the
    // allowed subset
    VectorSink.writeIvf(store, "sq8", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    assert(probeRows(VectorSink.topK(store, "sq8", q, "vec_id", "embedding",
      k = 3, nprobe = 4, among = Some(allowed), fullVectors = Some(corpus),
      shortlist = 64)) === probeRows(byPred))
    VectorSink.writeIvf(store, "pq", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Pq(m = 2, ksub = 8, iters = 2))
    assert(probeRows(VectorSink.topK(store, "pq", q, "vec_id", "embedding",
      k = 3, nprobe = 4, among = Some(allowed), fullVectors = Some(corpus),
      shortlist = 64)) === probeRows(byPred))
    // binary: `among` restricts the stored codes BEFORE the Hamming
    // shortlist, same contract
    VectorSink.writeIvf(store, "bq", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Binary)
    assert(probeRows(VectorSink.topK(store, "bq", q, "vec_id", "embedding",
      k = 3, nprobe = 4, among = Some(allowed), fullVectors = Some(corpus),
      shortlist = 64).select("query_id", "rank", "match_id", "cosine"))
      === probeRows(byPred))
    // predicate filtering needs stored vectors — quantized refuses
    val e = intercept[IllegalArgumentException] {
      VectorSink.topK(store, "sq8", q, "vec_id", "embedding", k = 3,
        nprobe = 4, where = Some(pred))
    }
    assert(e.getMessage.contains("among"))
  }

  test("quantized collections delete, upsert and resurrect through the same path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vqdel").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    VectorSink.delete(store, "emb",
      corpus.filter(col("vec_id") % 5 === 0).select("vec_id"), "vec_id")
    val live = corpus.filter(col("vec_id") % 5 =!= 0)
    val q = corpus.filter(col("vec_id") < 4)
    // nprobe = nlist + corpus-wide shortlist → exact re-rank over the
    // LIVE candidates: the brute-force answer over the live corpus
    val got = VectorSink.topK(store, "emb", q, "vec_id", "embedding", k = 3,
      nprobe = 4, fullVectors = Some(corpus), shortlist = 64)
    assert(probeRows(got) === probeRows(Similarity.bruteForceTopK(
      live, q, "vec_id", "embedding", k = 3)))
    // append the deleted ids back (original vectors): the new segment
    // is not covered by the old tombstone — they resurrect
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
    assert(store.read("emb").count() === 64L)
    val got2 = VectorSink.topK(store, "emb", q, "vec_id", "embedding", k = 3,
      nprobe = 4, fullVectors = Some(corpus), shortlist = 64)
    assert(probeRows(got2) === probeRows(Similarity.bruteForceTopK(
      corpus, q, "vec_id", "embedding", k = 3)))
  }

  test("binary collection stores packed sign codes and probes exactly " +
    "at full width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsbq").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Binary)
    assert(store.read("emb").columns.toSet === Set("vec_id", "__list", "__code"))
    assert(VectorSink.readMeta(store, "emb").metric === "hamming-bq")
    // dim 8 -> one packed word per row
    assert(store.read("emb").select(size(col("__code"))).distinct()
      .as[Int].collect().toSeq === Seq(1))
    val q = corpus.filter(col("vec_id") < 4)
    // nprobe = nlist + corpus-wide shortlist ≡ brute force
    val got = VectorSink.topK(store, "emb", q, "vec_id", "embedding", k = 3,
      nprobe = 4, fullVectors = Some(corpus), shortlist = 64)
      .select("query_id", "rank", "match_id", "cosine")
    assert(probeRows(got) === probeRows(Similarity.bruteForceTopK(
      corpus, q, "vec_id", "embedding", k = 3)))
  }

  test("binary append encodes model-free; persisted probe ≡ in-memory " +
    "binaryTopK at the same shortlist") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsbq2").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 4, codec = Codec.Binary)
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    assert(store.read("emb").count() === 64L)
    val q = corpus.filter(col("vec_id") < 4)
    // nprobe = nlist: the Hamming shortlist sees the whole corpus, so
    // the in-memory binaryTopK with the same rerank budget is the
    // exact reference EVEN when the shortlist < corpus (truncation
    // semantics included)
    val got = VectorSink.topK(store, "emb", q, "vec_id", "embedding", k = 3,
      nprobe = 4, fullVectors = Some(corpus), shortlist = 10)
      .select("query_id", "rank", "match_id", "hamming", "cosine")
    val want = Similarity.binaryTopK(corpus, q, "vec_id", "embedding",
      k = 3, rerank = 10)
      .select("query_id", "rank", "match_id", "hamming", "cosine")
    def withHam(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].longValue,
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(withHam(got) === withHam(want))
  }

  test("binary rebalance retrains from fullVectors and keeps the metric") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsbq3").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "emb", corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nlist = 4, codec = Codec.Binary)
    VectorSink.append(store, "emb",
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val ran = VectorSink.rebalance(store, "emb", "vec_id", "embedding",
      fullVectors = Some(corpus), maxSkew = 1.0)
    assert(ran)
    assert(VectorSink.readMeta(store, "emb").metric === "hamming-bq")
    assert(store.read("emb").count() === 64L)
    val q = corpus.filter(col("vec_id") < 4)
    val got = VectorSink.topK(store, "emb", q, "vec_id", "embedding", k = 3,
      nprobe = 4, fullVectors = Some(corpus), shortlist = 64)
      .select("query_id", "rank", "match_id", "cosine")
    assert(probeRows(got) === probeRows(Similarity.bruteForceTopK(
      corpus, q, "vec_id", "embedding", k = 3)))
  }

  test("quantized-family probes reject wrong-width query vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsdim").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "bq", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Binary)
    VectorSink.writeIvf(store, "sq8", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Sq8)
    VectorSink.writeIvf(store, "opq", corpus, "vec_id", "embedding",
      nlist = 4, codec = Codec.Opq(m = 2, ksub = 8, iters = 2))
    def messageChain(t: Throwable): String = {
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    }
    // the kernels clamp to min(length): a 4-wide probe of the 8-wide
    // collection would silently rank on half the dimensions. The guard
    // is a LAZY per-row assert riding the plan (mixed-width frames are
    // fully covered) — it fires at action time
    val narrow = Seq((0L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    // MIXED-width frame: the valid row alone must not mask the bad one
    val mixed = narrow.unionByName(
      Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"))
    for ((table, probe) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("bq", q => VectorSink.topK(store, "bq", q, "vec_id", "embedding",
          k = 1, nprobe = 4, fullVectors = Some(corpus), shortlist = 4)),
        ("sq8", q => VectorSink.topK(store, "sq8", q, "vec_id", "embedding",
          k = 1, nprobe = 4, fullVectors = Some(corpus), shortlist = 4)),
        // OPQ: the guard must run BEFORE the rotation, which would
        // otherwise emit a trained-width vector and mask the mismatch
        ("opq", q => VectorSink.topK(store, "opq", q, "vec_id", "embedding",
          k = 1, nprobe = 4, fullVectors = Some(corpus), shortlist = 4)));
        frame <- Seq(narrow, mixed)) {
      val e = intercept[Throwable] { probe(frame).count() }
      assert(messageChain(e).contains("collection dim 8"),
        s"$table: expected the width guard, got: ${messageChain(e)}")
    }
    // an EMPTY query frame passes (result is empty, nothing to clamp)
    assert(VectorSink.topK(store, "bq", corpus.filter(col("vec_id") < 0),
      "vec_id", "embedding", k = 1, nprobe = 4, fullVectors = Some(corpus),
      shortlist = 4).count() === 0L)
  }

  test("binary probe rejects non-binary collections and vice versa") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vsbq4").toString
    val store = new TableStore(dir, spark)
    VectorSink.writeIvf(store, "plain", corpus, "vec_id", "embedding", nlist = 4)
    VectorSink.writeIvf(store, "bq", corpus, "vec_id", "embedding", nlist = 4,
      codec = Codec.Binary)
    val q = corpus.limit(1)
    // a collection that stores its vectors needs no full-precision
    // corpus: passing one changes nothing
    assert(probeRows(VectorSink.topK(store, "plain", q, "vec_id",
      "embedding", k = 1, nprobe = 4, fullVectors = Some(corpus),
      shortlist = 4)) === probeRows(VectorSink.topK(store, "plain", q,
      "vec_id", "embedding", k = 1, nprobe = 4)))
    // sign codes are not filterable payloads
    val e1 = intercept[IllegalArgumentException] {
      VectorSink.topK(store, "bq", q, "vec_id", "embedding", k = 1,
        nprobe = 4, where = Some(col("vec_id") > 0L),
        fullVectors = Some(corpus), shortlist = 4)
    }
    assert(e1.getMessage.contains("among"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VectorSink.topK(store, "bq", q, "vec_id", "embedding", k = 1, nprobe = 4)
    }
    assert(e2.getMessage.contains("hamming-bq"))
    assert(e2.getMessage.contains("fullVectors"), e2.getMessage)
  }
}
