package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with no overlap here at all"),
    (4L, "The quick  brown fox jumps over the lazy dog") // ws/case dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups collapses canonical duplicates") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 3)
    val dup = groups.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keeper_id") === 1L)
  }

  test("ngramJaccardPairs finds near-dups above threshold, exactly") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    // 1~2 share most shingles; 1~4 and 2~4 are canonical (near-)dups
    assert(pairs === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("bandSelfJoin: adaptive hot-key tiling keeps the exact pair set") {
    import org.apache.spark.sql.functions._
    // one HOT key (12 members > threshold 4 -> tiled) + one cold key
    // (3 members -> plain join) + a key shared by nobody
    val banded = ((0L until 12L).map(i => (i, 7L, "hot")) ++
      Seq((100L, 3L, "cold"), (101L, 3L, "cold"), (102L, 3L, "cold")) ++
      Seq((200L, 9L, "solo")))
      .toDF("_id", "blk_val", "tag").withColumn("blk", lit(0))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a._id").as("x"), col("b._id").as("y"))
        .distinct().as[(Long, Long)].collect().toSet
    val naive = banded.as("a").join(banded.as("b"),
      col("a.blk") === col("b.blk") &&
        col("a.blk_val") === col("b.blk_val") &&
        col("a._id") < col("b._id"))
    val tiled = Dedup.bandSelfJoin(banded, Seq("blk", "blk_val"),
      hotThreshold = 4, tiles = 3)
    assert(pairs(tiled) === pairs(naive))
    assert(pairs(naive).size === 12 * 11 / 2 + 3,
      "fixture must exercise both the hot and the cold path")
    // tiling spreads the hot clique across > 1 (ti, tj) sub-join
    val hotTiles = tiled
      .filter(col("a.blk_val") === 7L)
      .select(col("a.__ti"), col("a.__tj")).distinct().count()
    assert(hotTiles > 1L, s"hot key must tile, got $hotTiles sub-joins")
    // each pair is emitted exactly ONCE pre-distinct: same-bucket hot
    // pairs are restricted to their diagonal tile (without that, two
    // same-bucket rows share their whole tile set and the pair is
    // emitted tiles× — the exact verify would pay every copy)
    assert(tiled.count() ===
      tiled.select(col("a._id"), col("b._id")).distinct().count(),
      "the tiled join must emit each pair exactly once")
  }

  test("withPins releases every pinned cache on exit, even on failure") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    Dedup.withPins {
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5).collect()
      assert(!cm.isEmpty, "pair generation should pin its shingle index")
    }
    assert(cm.isEmpty, "scope exit must unpersist every pin")
    intercept[RuntimeException] {
      Dedup.withPins {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
        throw new RuntimeException("consumer failed")
      }
    }
    assert(cm.isEmpty, "a failing scope must still release its pins")
    // outside any scope a pin persists nothing
    Dedup.pin(docs).count()
    Dedup.pairs(docs, "doc_id", "text", MinHash(3), 0.5).count()
    assert(cm.isEmpty, "an unscoped pin must not persist its frame")
  }

  test("build materializes a plan's pins, so its action runs no table-cache job") {
    // a pin read twice by one plan (self-join) and a pin over a pin
    def selfJoin() = {
      val p = Dedup.pin(docs.select(col("doc_id"), length(col("text")).as("len")))
      p.as("a").join(p.as("b"), col("a.len") === col("b.len") &&
        col("a.doc_id") < col("b.doc_id")).select(col("a.doc_id"), col("b.doc_id"))
    }
    def nested() = {
      val inner = Dedup.pin(docs.select(col("doc_id"), split(col("text"), " ").as("w")))
      val outer = Dedup.pin(inner.select(col("doc_id"), size(col("w")).as("n"))
        .groupBy("n").agg(min("doc_id").as("first")))
      inner.join(outer, inner("doc_id") === outer("first")).select("doc_id", "n")
    }
    for ((plan, pins) <- Seq((() => selfJoin(), 1), (() => nested(), 2))) {
      // reference: the action on a fresh plan over pins an earlier action built
      val (want, warm) = Dedup.withPins {
        plan().collect()
        countJobs(plan().collect().toSet)
      }
      val (_, cold) = Dedup.withPins(countJobs(plan().collect()))
      Dedup.withPins {
        val q = plan()
        val (built, buildJobs) = countJobs(Dedup.build(q))
        assert(built eq q)
        assert(buildJobs >= pins, s"$pins pin(s) built in $buildJobs job(s)")
        val (got, jobs) = countJobs(q.collect().toSet)
        assert(got === want)
        assert(jobs === warm, s"$jobs jobs after build, $warm with the pins built by an action")
        assert(cold > warm, "an unbuilt pin should cost the action jobs")
        // building again finds every pin loaded
        assert(countJobs(Dedup.build(q))._2 === 0)
      }
    }
    // outside a scope nothing is pinned, and build runs nothing
    val (_, unscoped) = countJobs(Dedup.build(nested()))
    assert(unscoped === 0)
  }

  test("rowCount reads a built pin's rows with no job past its build") {
    Dedup.withPins {
      val p = Dedup.pin(docs.filter(col("doc_id") > 1L))
      val (n, jobs) = countJobs(Dedup.rowCount(p))
      assert(n === 3L)
      assert(jobs === 1, s"one build job, got $jobs")
      assert(countJobs(Dedup.rowCount(p)) === (3L, 0))
      assert(Dedup.rowCount(Dedup.pin(docs.filter(col("doc_id") > 9L))) === 0L)
    }
    // an unpinned frame is counted
    assert(Dedup.rowCount(docs) === 4L)
  }

  test("pin returns a frame already pinned as it is: an inner scope keeps the outer's pin") {
    Dedup.withPins {
      val p = Dedup.pin(docs.filter(col("doc_id") > 1L))
      assert(org.apache.spark.sql.CachedPlans.count(spark) === 1)
      Dedup.withPins {
        assert(Dedup.pin(p) eq p)
        assert(Dedup.pin(docs.filter(col("doc_id") > 1L)).count() === 3L)
      }
      assert(org.apache.spark.sql.CachedPlans.count(spark) === 1,
        "the inner scope must not release a pin it did not make")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("Dedup.pin is the only cache call in the main sources") {
    val hits = sourceHits("src/main/scala", """\.persist\(|\.cache\(\)""".r,
      "graft/ext/Dedup.scala")
    assert(hits.isEmpty,
      "cache call(s) outside Dedup.pin: pin into a Dedup.withPins scope instead")
  }

  test("graft.write.Codec is the only place that decides on a vector metric") {
    val hits = sourceHits("src/main/scala",
      """"(cosine-sq8|cosine-pq|cosine-opq|hamming-bq)"|metric ==|metric match""".r,
      "graft/write/Codec.scala")
    assert(hits.isEmpty,
      "metric string or metric test outside the codec mapping: ask the " +
        "collection's Codec (storesVectors, its Model) instead")
  }

  test("Signature.scala is the only place that names a banding projection") {
    val hits = sourceHits("src/main/scala",
      "bandedSig|bandedBlocks|pigeonholeBlocks|bandedWords|wordBands".r,
      "graft/ext/Signature.scala")
    assert(hits.isEmpty,
      s"banding projection named outside the Signature cases: $hits — " +
        "ask the Signature (Dedup.pairs, IncrementalDedup) instead")
  }

  test("resolveNearDups keeps one canonical doc per cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val survivors = Dedup.resolveNearDups(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cluster {1,2,4} collapses to its minimum (1); 3 is untouched
    assert(survivors === Seq(1L, 3L))
  }

  test("lm perplexity bands rank predictable text below gibberish") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog again"),
      (4L, "zxqv wpolk mnbt erqa uiyh gfds"), // unseen-everything gibberish
      (5L, "the quick brown fox naps under the lazy dog"),
      (6L, ""), // blank: unscoreable, excluded
      (7L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    val out = TextIR.lmPerplexityBands(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    // blank doc 6 is excluded; everything else is scored
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 7L))
    val ce = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ce")).toMap
    val band = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("band")).toMap
    // the thrice-repeated sentence is the most predictable; gibberish
    // of singleton tokens is the least
    assert(ce(1L) < ce(5L) && ce(5L) <= ce(4L))
    assert(ce(4L) === ce.values.max)
    assert(band(1L) === "head" && band(4L) === "tail")
    // n_scored = token count (every position scores exactly once)
    assert(out.head.getAs[Long]("n_scored") === 9L)
  }

  test("ppm codec: build → decode round-trip, strided sums, real downsample") {
    import Multimodal.{MediaItem, Ppm}
    val img = Ppm.build(8, 4, (x, y) => (x * 10, y * 20, x + y))
    val st = Ppm.stats(MediaItem(7L, "image", img), stride = 2).toSeq
    assert(st.size === 1)
    val s = st.head
    assert((s.width, s.height) === (8, 4))
    // independent arithmetic over the generating formulas
    val grid = for (x <- 0 until 8; y <- 0 until 4) yield (x, y)
    assert(s.sum_r === grid.map { case (x, _) => x * 10L }.sum)
    assert(s.sum_g === grid.map { case (_, y) => y * 20L }.sum)
    assert(s.sum_b === grid.map { case (x, y) => (x + y).toLong }.sum)
    val sampled = grid.filter { case (x, y) => x % 2 == 0 && y % 2 == 0 }
    assert(s.s_sum_r === sampled.map { case (x, _) => x * 10L }.sum)
    assert(s.s_sum_b === sampled.map { case (x, y) => (x + y).toLong }.sum)
    // downsample RE-ENCODES a valid smaller P6: decode it again
    val small = Ppm.downsample(MediaItem(7L, "image", img), 2)
    val st2 = Ppm.stats(small, stride = 1).toSeq.head
    assert((st2.width, st2.height) === (4, 2))
    assert(st2.sum_r === sampled.map { case (x, _) => x * 10L }.sum)
    // corrupt payloads are skipped, not fatal; non-PPM passes through
    assert(Ppm.stats(MediaItem(1L, "image", img.take(10)), 1).isEmpty)
    assert(Ppm.stats(MediaItem(1L, "image", "nope".getBytes), 1).isEmpty)
    assert(Ppm.downsample(MediaItem(1L, "image", "nope".getBytes), 2)
      .payload.sameElements("nope".getBytes))
    // distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(7L, "image", img)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Ppm.decodeStats(ds, 2).collect().toSeq === st)
  }

  test("png codec: compressed build → inflate → unfilter round-trip") {
    import Multimodal.{MediaItem, Png}
    // 5+ rows exercise every filter type (row y filters with y % 5);
    // noisy pixels defeat DEFLATE so the stream splits across IDATs
    def px(x: Int, y: Int) = (((x * 2654435761L + y * 40503L) % 256).toInt,
      (x * 7 + y * 3) % 256, (x ^ y) & 0xff)
    val img = Png.build(64, 32, px)
    // spec-compliance probes: magic, and the stream spans ≥ 2 IDATs
    assert(img.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
    val nIdat = img.sliding(4).count(_.sameElements("IDAT".getBytes("US-ASCII")))
    assert(nIdat >= 2, s"expected multi-IDAT, got $nIdat")
    val st = Png.stats(MediaItem(5L, "image", img), sampleStride = 4).toSeq
    assert(st.size === 1)
    val s = st.head
    assert((s.width, s.height) === (64, 32))
    val grid = for (x <- 0 until 64; y <- 0 until 32) yield (x, y)
    assert(s.sum_r === grid.map { case (x, y) => px(x, y)._1.toLong }.sum)
    assert(s.sum_g === grid.map { case (x, y) => px(x, y)._2.toLong }.sum)
    assert(s.sum_b === grid.map { case (x, y) => px(x, y)._3.toLong }.sum)
    val kept = grid.filter { case (x, y) => x % 4 == 0 && y % 4 == 0 }
    assert(s.s_sum_r === kept.map { case (x, y) => px(x, y)._1.toLong }.sum)
    assert(s.s_sum_b === kept.map { case (x, y) => px(x, y)._3.toLong }.sum)
    // a flipped bit inside an IDAT body fails that chunk's CRC → skip
    val corrupt = img.clone()
    val idatOff = img.indexOfSlice("IDAT".getBytes("US-ASCII"))
    corrupt(idatOff + 10) = (corrupt(idatOff + 10) ^ 0x40).toByte
    assert(Png.stats(MediaItem(1L, "image", corrupt), 1).isEmpty)
    // truncation and foreign payloads skip, never abort
    assert(Png.stats(MediaItem(1L, "image", img.take(40)), 1).isEmpty)
    assert(Png.stats(MediaItem(1L, "image", "notapng".getBytes), 1).isEmpty)
    // distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(5L, "image", img)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Png.decodeStats(ds, 4).collect().toSeq === st)
  }

  test("gif codec: real LZW round-trips, incl. table-full resets and KwKwK") {
    import Multimodal.{Gif, MediaItem}
    // adversarial streams straight through the codec pair:
    // (a) noisy enough to fill the 4096-entry table → CLEAR reset path
    val rng = new scala.util.Random(42)
    val noisy = Array.fill(20000)(rng.nextInt(256).toByte)
    assert(Gif.lzwDecode(Gif.lzwEncode(noisy, 8), 8, noisy.length)
      .sameElements(noisy))
    // (b) the KwKwK self-reference case: aaa… emits code == nextCode
    val runs = Array.fill(500)(7.toByte)
    assert(Gif.lzwDecode(Gif.lzwEncode(runs, 8), 8, runs.length)
      .sameElements(runs))
    // (c) small alphabet → 3-bit min code size, rapid width growth
    val tri = Array.tabulate(3000)(i => (i * i % 4).toByte)
    assert(Gif.lzwDecode(Gif.lzwEncode(tri, 2), 2, tri.length)
      .sameElements(tri))
    // a truncated stream decodes to null, not garbage
    val enc = Gif.lzwEncode(noisy, 8)
    assert(Gif.lzwDecode(enc.take(enc.length / 2), 8, noisy.length) == null)

    // full container: build → parse → palette-mapped sums
    def idx(x: Int, y: Int) = (x * 3 + y * 11) % 256
    def pal(i: Int) = ((i * 5) % 256, (255 - i) % 256, (i * i + 3) % 256)
    val img = Gif.build(16, 10, idx, pal)
    assert(img.take(6).sameElements("GIF89a".getBytes("US-ASCII")))
    val st = Gif.stats(MediaItem(11L, "image", img), stride = 2).toSeq
    assert(st.size === 1)
    val s = st.head
    assert((s.width, s.height) === (16, 10))
    val grid = for (x <- 0 until 16; y <- 0 until 10) yield pal(idx(x, y))
    assert(s.sum_r === grid.map(_._1.toLong).sum)
    assert(s.sum_g === grid.map(_._2.toLong).sum)
    assert(s.sum_b === grid.map(_._3.toLong).sum)
    val kept = for (x <- 0 until 16 by 2; y <- 0 until 10 by 2) yield pal(idx(x, y))
    assert(s.s_sum_r === kept.map(_._1.toLong).sum)
    assert(s.s_sum_g === kept.map(_._2.toLong).sum)
    // corrupt / truncated / foreign payloads skip, never abort
    assert(Gif.stats(MediaItem(1L, "image", img.take(img.length / 2)), 1).isEmpty)
    assert(Gif.stats(MediaItem(1L, "image", "notagif".getBytes), 1).isEmpty)
    val flipped = img.clone()
    flipped(flipped.length - 10) = (flipped(flipped.length - 10) ^ 0x55).toByte
    // a flipped byte near the stream tail either yields a malformed LZW
    // stream (skip) or decodes to a wrong-length raster (skip) — in no
    // case an exception
    Gif.stats(MediaItem(1L, "image", flipped), 1).toSeq
    // distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(11L, "image", img)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Gif.decodeStats(ds, 2).collect().toSeq === st)
  }

  test("wav codec: build → decode round-trip with strided frame sums") {
    import Multimodal.{MediaItem, Wav}
    def s(f: Int, c: Int) = f * 100 - 5000 + c // mixes signs
    val clip = Wav.build(8000, 2, 64, s)
    val st = Wav.stats(MediaItem(3L, "audio", clip), stride = 4).toSeq
    assert(st.size === 1)
    val w = st.head
    assert((w.sample_rate, w.channels, w.n_frames) === (8000, 2, 64L))
    val all = for (f <- 0 until 64; c <- 0 until 2) yield s(f, c).toLong
    assert(w.sum_amp === all.sum)
    assert(w.sum_abs === all.map(math.abs).sum)
    val kept = for (f <- 0 until 64 if f % 4 == 0; c <- 0 until 2)
      yield s(f, c).toLong
    assert(w.s_sum_amp === kept.sum && w.s_sum_abs === kept.map(math.abs).sum)
    // truncated / foreign payloads skip
    assert(Wav.stats(MediaItem(1L, "audio", clip.take(30)), 1).isEmpty)
    assert(Wav.stats(MediaItem(1L, "audio", "noise".getBytes), 1).isEmpty)
    // distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(3L, "audio", clip)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Wav.decodeStats(ds, 4).collect().toSeq === st)
  }

  test("jpeg codec: real transform coding — lossy round-trip, exact DC path") {
    import Multimodal.MediaItem
    // (a) REAL lossy behavior: a smooth textured image round-trips
    // within quantization error — exercises nonzero ACs, zigzag
    // run-lengths and the full Huffman code space
    def tex(x: Int, y: Int) = (128 + 90 * math.sin(x / 3.0) *
      math.cos(y / 4.0)).toInt.max(0).min(255)
    val img = Jpeg.build(48, 40, tex)
    val dec = Jpeg.decodeRaster(img)
    assert(dec != null)
    val (w, h, raster) = dec
    assert((w, h) === (48, 40))
    val errs = for (y <- 0 until h; x <- 0 until w)
      yield math.abs((raster(y * w + x) & 0xff) - tex(x, y))
    assert(errs.max <= 40, s"max pixel error ${errs.max} beyond quant bound")
    assert(errs.sum.toDouble / errs.size <= 8.0,
      s"mean pixel error ${errs.sum.toDouble / errs.size} too large for smooth input")
    // (b) exact DC path: constant blocks with qDc=8 survive bit-exactly
    def blocky(x: Int, y: Int) = (37 + (x / 8) * 41 + (y / 8) * 23) % 256
    val img2 = Jpeg.build(32, 24, blocky)
    val (_, _, r2) = Jpeg.decodeRaster(img2)
    for (y <- 0 until 24; x <- 0 until 32)
      assert((r2(y * 32 + x) & 0xff) === blocky(x, y), s"($x,$y)")
    // (c) stats with stride accumulate during the walk
    val st = Jpeg.stats(MediaItem(3L, "image", img2), stride = 4).toSeq.head
    assert((st.width, st.height, st.n_blocks) === (32, 24, 12))
    val grid = for (x <- 0 until 32; y <- 0 until 24) yield blocky(x, y).toLong
    assert(st.sum_y === grid.sum)
    val kept = for (x <- 0 until 32 by 4; y <- 0 until 24 by 4)
      yield blocky(x, y).toLong
    assert(st.s_sum_y === kept.sum)
    // (d) non-aligned dimensions: border-replicated blocks trim back
    val img3 = Jpeg.build(13, 9, blocky)
    val (w3, h3, _) = Jpeg.decodeRaster(img3)
    assert((w3, h3) === (13, 9))
    // (e) corrupt / truncated / foreign payloads skip, never abort
    assert(Jpeg.stats(MediaItem(1L, "image", img.take(60)), 1).isEmpty)
    assert(Jpeg.stats(MediaItem(1L, "image", "notajpeg".getBytes), 1).isEmpty)
    val flipped = img.clone()
    flipped(flipped.length - 8) = (flipped(flipped.length - 8) ^ 0x2a).toByte
    Jpeg.stats(MediaItem(1L, "image", flipped), 1).toSeq // must not throw
    // (f) distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(3L, "image", img2)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Jpeg.decodeStats(ds, 4).collect().toSeq === Seq(st))
  }

  test("adpcm codec: real IMA quantizer encodes and decodes audio") {
    import Multimodal.{Adpcm, MediaItem}
    // the REAL codec property: a smooth signal survives 4:1 compression
    // with small error — the adaptive step tracks the waveform
    val pcm = Array.tabulate(1000)(i =>
      (6000 * math.sin(i / 25.0)).toInt.toShort)
    val clip = Adpcm.encode(pcm, 8000, 68)
    val st = Adpcm.stats(MediaItem(21L, "audio", clip), stride = 1).toSeq
    assert(st.size === 1)
    val s = st.head
    assert(s.sample_rate === 8000)
    // 1000 samples → 8 blocks of 129 → 1032 decoded samples (padded)
    assert((s.n_blocks, s.n_samples) === (8, 1032L))
    // stride=1 → strided sums must equal the full sums
    assert(s.s_sum_amp === s.sum_amp && s.s_sum_abs === s.sum_abs)
    // quality: decoded mean abs amplitude within 5% of the source's
    val srcAbs = pcm.map(v => math.abs(v.toLong)).sum
    assert(math.abs(s.sum_abs - srcAbs).toDouble / srcAbs < 0.05,
      s"lossy error too large: decoded=${s.sum_abs} source=$srcAbs")
    // formula-built container decodes deterministically and the strided
    // sums partition consistently (stride 2 keeps even global indices)
    val built = Adpcm.build(8000, 68, 2,
      b => (b * 500 - 250, b * 7), (b, k) => (b + k * 3) % 16)
    val s1 = Adpcm.stats(MediaItem(1L, "audio", built), stride = 1).toSeq.head
    val s2 = Adpcm.stats(MediaItem(1L, "audio", built), stride = 2).toSeq.head
    assert(s1.n_samples === 258L && s2.sum_amp === s1.sum_amp)
    assert(math.abs(s2.s_sum_abs * 2 - s1.sum_abs) <= s1.sum_abs,
      "strided abs sum should be roughly half of the full abs sum")
    // foreign/PCM WAVs and truncations skip, never abort
    val pcmWav = Multimodal.Wav.build(8000, 1, 10, (f, _) => f * 100)
    assert(Adpcm.stats(MediaItem(1L, "audio", pcmWav), 1).isEmpty)
    assert(Adpcm.stats(MediaItem(1L, "audio", clip.take(40)), 1).isEmpty)
    assert(Adpcm.stats(MediaItem(1L, "audio", "noise".getBytes), 1).isEmpty)
    // distributed decode matches the local one
    val ds = spark.createDataset(Seq(MediaItem(21L, "audio", clip)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Adpcm.decodeStats(ds, 1).collect().toSeq === st)
  }

  test("mjpeg/avi: real container demux, per-frame transform decode") {
    import Multimodal.MediaItem
    def frameJpeg(f: Int) = Jpeg.build(16, 8,
      (x, _) => (40 + f * 50 + (x / 8) * 30) % 256)
    val vid = Mjpeg.build(16, 8, usPerFrame = 83333,
      (0 until 5).map(frameJpeg))
    // full demux decodes every frame; values match the standalone
    // JPEG decode of the same payloads (constant blocks → exact)
    val all = Mjpeg.parse(MediaItem(9L, "video", vid), stride = 1).toSeq
    assert(all.map(_.frame_idx) === Seq(0, 1, 2, 3, 4))
    assert(all.forall(f => f.n_frames == 5 && f.width == 16 && f.height == 8))
    assert(all.map(_.pts_micros) === Seq(0L, 83333L, 166666L, 249999L, 333332L))
    val expect = (0 until 5).map { f =>
      Jpeg.stats(MediaItem(0L, "image", frameJpeg(f)), 1).toSeq.head.sum_y
    }
    assert(all.map(_.sum_y) === expect)
    // stride sampling skips frames during the chunk walk
    val sampled = Mjpeg.parse(MediaItem(9L, "video", vid), stride = 2).toSeq
    assert(sampled.map(_.frame_idx) === Seq(0, 2, 4))
    // one undecodable frame skips; the rest of the video survives
    val broken = Mjpeg.build(16, 8, 83333,
      Seq(frameJpeg(0), "garbage-frame".getBytes, frameJpeg(2)))
    val ok = Mjpeg.parse(MediaItem(1L, "video", broken), stride = 1).toSeq
    assert(ok.map(_.frame_idx) === Seq(0, 2))
    assert(ok.forall(_.n_frames == 3))
    // foreign / truncated containers yield nothing
    assert(Mjpeg.parse(MediaItem(1L, "video", "notavi".getBytes), 1).isEmpty)
    assert(Mjpeg.parse(MediaItem(1L, "video", vid.take(60)), 1).isEmpty)
    // distributed demux matches the local parse
    val ds = spark.createDataset(Seq(MediaItem(9L, "video", vid)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    assert(Mjpeg.explodeFrames(ds, 2).orderBy("frame_idx").collect().toSeq
      === sampled)
  }

  test("codec fuzz: no parser throws or hangs on corrupt payloads") {
    import Multimodal.{Adpcm, Gif, Gvid, HeaderCodec, MediaItem, Png, Ppm, Wav}
    // the corrupt-payload contract across EVERY decoder: worst case is
    // an empty iterator or garbage stats — never an exception, and
    // never a backwards chunk walk (a hung executor at scale). Seeded,
    // so failures reproduce.
    val rng = new scala.util.Random(1234567)
    val valid: Seq[Array[Byte]] = Seq(
      Png.build(16, 12, (x, y) => (x * 5 % 256, y * 9 % 256, (x + y) % 256)),
      Gif.build(12, 9, (x, y) => (x * 3 + y) % 256, i => (i, i, i)),
      Jpeg.build(24, 16, (x, y) => (x * 7 + y * 5) % 256),
      Ppm.build(10, 6, (x, y) => (x, y, x + y)),
      Wav.build(8000, 2, 40, (f, c) => f * 50 + c),
      Adpcm.build(8000, 36, 2, b => (b * 100, b * 3), (b, k) => (b + k) % 16),
      Mjpeg.build(16, 8, 40000, Seq(Jpeg.build(16, 8, (x, _) => x * 16 % 256))),
      Gvid.build(320, 240, 24, Seq(1L, 2L, 3L), 2))
    def decodeAll(p: Array[Byte]): Unit = {
      val item = MediaItem(1L, "any", p)
      Png.stats(item, 2).toSeq; Gif.stats(item, 2).toSeq
      Jpeg.stats(item, 2).toSeq; Ppm.stats(item, 2).toSeq
      Wav.stats(item, 2).toSeq; Adpcm.stats(item, 2).toSeq
      Mjpeg.parse(item, 2).toSeq; Gvid.parse(item, 2).toSeq
      HeaderCodec.decode(item)
      ()
    }
    valid.foreach(decodeAll) // sanity: originals decode under every parser
    for (src <- valid; _ <- 0 until 12) {
      // truncation at a random point
      decodeAll(src.take(rng.nextInt(src.length)))
      // 1-8 random byte flips (breaks CRCs, lengths, Huffman streams,
      // chunk sizes — including NEGATIVE chunk lengths in RIFF walks)
      val flipped = src.clone()
      for (_ <- 0 to rng.nextInt(8))
        flipped(rng.nextInt(flipped.length)) = rng.nextInt(256).toByte
      decodeAll(flipped)
    }
    for (_ <- 0 until 60) // pure noise, various sizes
      decodeAll(Array.fill(rng.nextInt(400) + 1)(rng.nextInt(256).toByte))
  }

  test("gvid container round-trips build → parse with stride sampling") {
    import Multimodal.{Gvid, MediaItem}
    val cs = Seq(100L, 200L, 4294967295L, 0L, 7L) // incl. max-u32 edge
    val bytes = Gvid.build(width = 1920, height = 1080, fps = 30, cs, keyEvery = 2)
    // full parse reconstructs every field exactly
    val all = Gvid.parse(MediaItem(9L, "video", bytes), stride = 1).toSeq
    assert(all.map(_.checksum) === cs)
    assert(all.map(_.is_key) === Seq(1, 0, 1, 0, 1))
    assert(all.head.width === 1920 && all.head.height === 1080)
    assert(all.map(_.pts_micros) === Seq(0L, 33333L, 66666L, 100000L, 133333L))
    // stride applies during the byte walk — only sampled frames surface
    val sampled = Gvid.parse(MediaItem(9L, "video", bytes), stride = 2).toSeq
    assert(sampled.map(_.frame_idx) === Seq(0, 2, 4))
    // non-GVID payloads demux to nothing; a truncated container is
    // skipped the same way — one corrupt payload must not abort the job
    assert(Gvid.parse(MediaItem(1L, "video", "notavideo".getBytes), 1).isEmpty)
    assert(Gvid.parse(MediaItem(1L, "video", bytes.take(20)), 1).isEmpty)
    // distributed demux matches the local parse
    val ds = spark.createDataset(Seq(MediaItem(9L, "video", bytes)))(
      org.apache.spark.sql.Encoders.product[MediaItem])
    val viaSpark = Gvid.explodeFrames(ds, stride = 2)
      .orderBy("frame_idx").collect().toSeq
    assert(viaSpark === sampled)
  }

  test("minhashLshPairs agrees with exact jaccard at high threshold") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b", "jaccard").collect().toSet
    val lsh = Dedup.pairs(docs, "doc_id", "text", MinHash(3), 0.9)
      .select("id_a", "id_b", "jaccard").collect().toSet
    assert(lsh === exact)
    assert(exact.nonEmpty) // 1~4 is an exact dup pair
  }

  test("simhashTable matches the per-row simhash expression") {
    val viaAgg = Dedup.simhashTable(docs, "doc_id", "text")
      .orderBy("_id").as[(Long, Long)].collect().toSeq
    val viaExpr = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(viaAgg === viaExpr)
  }

  test("simhashPairs finds the canonical dup within hamming budget") {
    val pairs = Dedup.pairs(Dedup.simhashTable(docs, "doc_id", "text"),
        "_id", "sh", Blocks(3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("tiled cosine pairs equal the quadratic baseline, without BNLJ") {
    val vecs = (1L to 60L).map { i =>
      // three planted near-dup clusters on a noisy base direction
      val base = Array.tabulate(8)(d => math.sin(i % 3 + d).toFloat)
      (i, base.zipWithIndex.map { case (v, d) =>
        v + 0.05f * math.cos(i * 7 + d).toFloat })
    }.toDF("vid", "emb")
    val quad = Dedup.embeddingCosinePairs(vecs, "vid", "emb", 0.9)
      .select("id_a", "id_b", "cosine").collect().toSet
    val tiledDf = Dedup.embeddingCosinePairsTiled(vecs, "vid", "emb", 0.9, tiles = 4)
    val tiled = tiledDf.select("id_a", "id_b", "cosine").collect().toSet
    assert(quad.nonEmpty && tiled === quad)
    // the tiling is an equi-join: the quadratic plan's BNLJ must be gone
    val plan = tiledDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("codegen cosine/dot match an independent computation") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(1.0f, 0.0f, 2.0f)),
      (3L, Array(0.0f, 3.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VectorFunctions.cosineSim(col("a.embedding"), col("b.embedding")).as("cos"),
        VectorFunctions.dotp(col("a.embedding"), col("b.embedding")).as("dot"))
      .orderBy("a.vec_id", "b.vec_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(pairs(0)._3 === 1.0 && pairs(0)._4 === 5.0) // identical vectors
    assert(pairs(1)._3 === 0.0 && pairs(1)._4 === 0.0) // orthogonal
    assert(pairs(2)._3 === 0.0)
  }

  test("bruteForceTopK ranks by cosine desc with deterministic ties") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2)
      .select("rank", "match_id").as[(Int, Long)].collect().toSeq
    assert(top === Seq((1, 4L), (2, 2L))) // 4 is identical (cos=1), then 2
  }

  test("ivfTopK with nprobe = nlist equals exact brute force") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .select("query_id", "rank", "match_id").as[(Long, Int, Long)].collect().toSet
    val ivfAll = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 3,
      nlist = 4, nprobe = 4)
      .select("query_id", "rank", "match_id").as[(Long, Int, Long)].collect().toSet
    assert(ivfAll === exact)
    // restricted probing returns at most k per query, ranked correctly
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 3,
      nlist = 4, nprobe = 1)
    val perQuery = ivf.groupBy("query_id").count()
      .select("count").as[Long].collect()
    assert(perQuery.forall(_ <= 3))
  }

  test("text kernels: counts, quality bounds, language id") {
    val r = docs.select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langId(col("text")).as("lang"))
      .collect()
    assert(r.forall(x => x.getAs[Int]("n") > 0))
    assert(r.forall { x => val q = x.getAs[Double]("q"); q >= 0.0 && q <= 1.0 })
    assert(r.count(_.getAs[String]("lang") == "en") >= 3)
  }

  test("repetition signals flag boilerplate and templated text") {
    val d = Seq(
      (1L, "nav\nnav\nnav\nbody text here"),       // 3 dup lines of 4
      (2L, "buy buy buy buy now"),                  // top token 4/5
      (3L, "all words here are different tokens")). // clean
      toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(d, "doc_id", "text")
      .orderBy("doc_id")
      .select("dup_line_ratio", "top_token_share").as[(Double, Double)].collect()
    assert(r(0)._1 === 0.5) // 4 lines, 2 distinct
    assert(r(1)._2 === 0.8)
    assert(r(2)._1 === 0.0 && r(2)._2 < 0.2)
  }

  test("header codec parses real BMP and WAV bytes, stub for the rest") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    // minimal BITMAPINFOHEADER bitmap: 17x9, 24-bit
    val bmp = ("BM".getBytes ++ le32(54) ++ le32(0) ++ le32(54) ++ // file header
      le32(40) ++ le32(17) ++ le32(-9) ++ le16(1) ++ le16(24) ++ // info header
      Array.fill[Byte](54)(0)) // enough padding past offset 54
    val m = Multimodal.HeaderCodec.decode(Multimodal.MediaItem(1L, "image", bmp))
    assert((m.width, m.height, m.channels, m.n_frames) === (17, 9, 3, 1))

    // minimal RIFF/WAVE: stereo 8kHz 16-bit, 100 sample frames
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16)
    val data = "data".getBytes ++ le32(400) ++ Array.fill[Byte](400)(0)
    val wav = "RIFF".getBytes ++ le32(36 + 400) ++ "WAVE".getBytes ++ fmt ++ data
    val a = Multimodal.HeaderCodec.decode(Multimodal.MediaItem(2L, "audio", wav))
    assert((a.width, a.height, a.channels, a.n_frames) === (8000, 16, 2, 100))

    // minimal PNG: magic + IHDR, 320x200 truecolor+alpha (big-endian)
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(320) ++ be32(200) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    val g = Multimodal.HeaderCodec.decode(Multimodal.MediaItem(4L, "image", png))
    assert((g.width, g.height, g.channels, g.n_frames) === (320, 200, 4, 1))

    // minimal GIF89a: logical screen 640x350 (little-endian)
    val gif = "GIF89a".getBytes ++ le16(640) ++ le16(350) ++ Array.fill[Byte](3)(0)
    val f = Multimodal.HeaderCodec.decode(Multimodal.MediaItem(5L, "image", gif))
    assert((f.width, f.height, f.channels) === (640, 350, 3))

    // minimal JPEG: SOI, APP0 (JFIF), DQT (skipped via length), SOF0
    // 1024x768 3-component (big-endian), then EOI
    def mk(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    val jpeg = mk(0xff, 0xd8) ++ // SOI
      (mk(0xff, 0xe0) ++ be32(16 << 16).take(2) ++ "JFIF".getBytes ++
        Array.fill[Byte](10)(0)) ++ // APP0: len 16 = 2 + 14 payload
      (mk(0xff, 0xdb) ++ mk(0x00, 0x43) ++ Array.fill[Byte](0x41)(1)) ++ // DQT
      (mk(0xff, 0xc0) ++ mk(0x00, 0x11, 0x08) ++ // SOF0, len 17, precision 8
        mk(0x03, 0x00) ++ mk(0x04, 0x00) ++ // height 768, width 1024
        mk(0x03) ++ Array.fill[Byte](9)(0)) ++ // 3 components
      mk(0xff, 0xd9) // EOI
    val j = Multimodal.HeaderCodec.decode(Multimodal.MediaItem(6L, "image", jpeg))
    assert((j.width, j.height, j.channels, j.n_frames) === (1024, 768, 3, 1))

    // a JPEG truncated before any SOF falls back to the stub
    val junk = mk(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x00, 0x00)
    assert(Multimodal.HeaderCodec.decode(Multimodal.MediaItem(7L, "image", junk))
      === Multimodal.StubCodec.decode(Multimodal.MediaItem(7L, "image", junk)))

    // unknown payloads fall back to the deterministic stub
    val txt = "hello".getBytes
    assert(Multimodal.HeaderCodec.decode(Multimodal.MediaItem(3L, "image", txt))
      === Multimodal.StubCodec.decode(Multimodal.MediaItem(3L, "image", txt)))
  }

  test("language id separates eight languages on running text") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with this"),
      ("es", "el gato se sentó en la alfombra y estaba feliz con su casa"),
      ("de", "die katze saß auf der matte und sie ist mit dem haus zufrieden"),
      ("fr", "le chat est sur le tapis et il est content avec la maison"),
      ("it", "il gatto è sul tappeto e non vuole andare via dalla casa"),
      ("pt", "o gato está no tapete e ele é feliz com a casa que tem"),
      ("nl", "de kat zit op de mat en hij is niet blij met het huis"),
      ("ru", "я не знаю что он думает но это так как все говорят"),
      ("und", "zzz qqq xxx"))
    val out = samples.toDF("expected", "text")
      .withColumn("got", TextOps.langId(col("text")))
      .select("expected", "got").as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got === exp, s"expected $exp got $got") }
  }

  test("trigram language id separates eight languages and matches und on noise") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with this house"),
      ("es", "el gato se sentó en la alfombra y estaba feliz con su casa"),
      ("de", "die katze saß auf der matte und sie ist mit dem haus zufrieden"),
      ("fr", "le chat est sur le tapis et il est content avec la maison"),
      ("it", "il gatto è sul tappeto e non vuole andare via dalla casa"),
      ("pt", "o gato está no tapete e ele é feliz com a casa que tem"),
      ("nl", "de kat zit op de mat en hij is niet blij met het huis"),
      ("ru", "я не знаю что он думает но это так как все говорят"),
      ("und", "zzzz"))
    val out = samples.toDF("expected", "text")
      .withColumn("got", TextOps.TrigramLid.langId(col("text")))
      .select("expected", "got").as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got === exp, s"expected $exp got $got") }
  }

  test("stripDuplicateLines drops cross-document boilerplate, keeps order") {
    val multiline = Seq(
      (1L, "unique opening\ncookie banner\nbody one"),
      (2L, "cookie banner\nbody two\n  cookie banner  "),
      (3L, "body three\nall original here")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateLines(multiline, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    // "cookie banner" appears (trim-normalized) in docs 1 and 2 → dropped
    // everywhere, including the doubled occurrence in doc 2
    assert(out === Seq(
      (1L, 3L, 1L, "unique opening\nbody one"),
      (2L, 3L, 2L, "body two"),
      (3L, 2L, 0L, "body three\nall original here")))
  }

  test("contamination scores count benchmark shingle overlap per doc") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma epsilon"),  // shares 'alpha beta gamma'
      (2L, "zeta eta theta iota kappa")) // no overlap
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScores(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_contaminated")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 1L), (2L, 3L, 0L)))
  }

  test("gopher rules pass normal prose and reject degenerate docs") {
    val prose = ("the data pipeline should have good words to process and " +
      "that will be fine with everyone involved in it ") * 3 // > 50 words
    val rows = Seq(
      (1L, prose, true),
      (2L, "short text", false),                    // under min words
      (3L, ("#### " * 60).trim, false),             // symbol ratio + no alpha
      (4L, ("11111 22222 " * 30).trim, false))      // no alphabetic words
      .toDF("doc_id", "text", "expected")
    val out = rows.withColumn("got", TextOps.Gopher.passes(col("text")))
      .select("expected", "got").as[(Boolean, Boolean)].collect()
    out.foreach { case (exp, got) => assert(got === exp) }
  }

  test("pii redaction replaces emails, ips and phones in order") {
    val out = Seq("mail a.b+c@x-corp.io then 10.0.255.7 then +1 (555) 123-4567 end")
      .toDF("t")
      .select(TextOps.Pii.redact(col("t")).as("r"),
        TextOps.Pii.countEmails(col("t")).as("e"),
        TextOps.Pii.countIps(col("t")).as("i"),
        TextOps.Pii.countPhones(col("t")).as("p"))
      .as[(String, Int, Int, Int)].head()
    assert(out === (("mail [EMAIL] then [IP] then [PHONE] end", 1, 1, 1)))
  }
}
