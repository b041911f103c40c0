package graft.ext

import graft.SparkSpec
import graft.ext.Multimodal.MediaItem

/** dHash semantics + pigeonhole pairing for the image near-dup plane. */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  private def img(id: Long, px: (Int, Int) => (Int, Int, Int),
      w: Int = 36, h: Int = 16) =
    MediaItem(id, "image", Multimodal.Ppm.build(w, h, px))

  // seed changes SLOPES, not brightness — dHash is brightness-invariant
  // by design, so an additive seed would make every image hash alike
  private def gradient(seed: Int)(x: Int, y: Int) =
    ((x * (7 + 3 * seed) + seed) % 256, (y * (11 + 2 * seed)) % 256,
      (x * y * (1 + seed)) % 256)

  private def imagePairs(media: org.apache.spark.sql.Dataset[MediaItem],
      maxHamming: Int = 3) =
    Dedup.pairs(Phash.dhashTable(media), "_id", "sh", Blocks(maxHamming))

  test("identical images hash identically; exact pair at hamming 0") {
    val media = Seq(img(1, gradient(3)), img(2, gradient(3))).toDS()
    val pairs = imagePairs(media).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("id_a") === 1L)
    assert(pairs.head.getAs[Int]("hamming") === 0)
  }

  test("uniform brightness shift never changes the hash (gradient signs)") {
    // cap at 215 so +40 never clips and the shift is truly uniform
    val capped = img(3, (x, y) => {
      val (r, g, b) = gradient(5)(x, y)
      (r % 216, g % 216, b % 216)
    })
    val cappedBright = img(4, (x, y) => {
      val (r, g, b) = gradient(5)(x, y)
      (r % 216 + 40, g % 216 + 40, b % 216 + 40)
    })
    val hs = Phash.dhashTable(Seq(capped, cappedBright).toDS())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(3L) === hs(4L), "dHash must be brightness-invariant")
  }

  test("a local edit yields a small nonzero hamming; unrelated images none") {
    val base = img(1, gradient(7))
    // a white strip pasted over the first block column (watermark-style
    // local edit): block 0's luma becomes the maximum, guaranteeing the
    // block0-vs-block1 comparisons flip — bounded to ≤ 8 bits
    val edited = img(2, (x, y) =>
      if (x < 4) (255, 255, 255) else gradient(7)(x, y))
    val unrelated = img(3, (x, y) => ((255 - x * 5) % 256, (y * 29) % 256,
      (x + y) % 256))
    val pairs = imagePairs(Seq(base, edited, unrelated).toDS(), maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    val nearDup = pairs.filter(p => p._1 == 1L && p._2 == 2L)
    assert(nearDup.length === 1, s"expected the edited near-dup, got ${pairs.toSeq}")
    assert(nearDup.head._3 > 0 && nearDup.head._3 <= 8)
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      "structurally different images must not pair")
  }

  test("non-tiling dimensions and non-PPM payloads are skipped, not wrong") {
    val odd = img(1, gradient(1), w = 35, h = 16) // 35 % 9 != 0
    val junk = MediaItem(2, "image", Array[Byte](1, 2, 3))
    val good = img(3, gradient(1))
    val hs = Phash.dhashTable(Seq(odd, junk, good).toDS()).collect()
    assert(hs.map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("video near-dup: variant videos pair, unrelated ones don't") {
    def video(id: Long, base: Int, shift: Int, n: Int) = {
      val frames = (0 until n).map { f =>
        Jpeg.build(72, 16, (x, y) => {
          val bx = x / 8
          ((base * 37 + f * 29 + bx * bx * 13 + bx * base * 11 + (y / 8) * 31 +
            (if (bx == 0) shift else 0)) % 256)
        })
      }
      MediaItem(id, "video", Mjpeg.build(72, 16, usPerFrame = 41666, frames))
    }
    val media = Seq(
      video(1, base = 2, shift = 0, n = 6),
      video(2, base = 2, shift = 3, n = 6), // same content, levels-shifted
      video(3, base = 9, shift = 0, n = 6)  // different content
    ).toDS()
    val out = Phash.videoPairs(media, stride = 2, maxHamming = 7,
      minMatchFrac = 0.5).collect()
    assert(out.length === 1, s"got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("id_a") === 1L && r.getAs[Long]("id_b") === 2L)
    assert(r.getAs[Long]("n_compared") === 3L) // frames 0, 2, 4 sampled
    assert(r.getAs[Double]("match_frac") >= 0.5)
  }

  test("dhashGray matches the color dhash on a gray raster") {
    val (w, h) = (36, 16)
    val gray = Array.tabulate(h, w)((y, x) => ((x * 7 + y * 3) % 256).toByte)
    val flat = gray.flatten
    val viaGray = Phash.dhashGray(w, h, flat).get
    // same pixels as an r=g=b PPM through the color path: luma weights
    // sum to 1000 so gradient signs are identical
    val viaColor = Phash.dhash(MediaItem(1, "image",
      Multimodal.Ppm.build(w, h, (x, y) => {
        val v = (x * 7 + y * 3) % 256
        (v, v, v)
      }))).next()._2
    assert(viaGray === viaColor)
    assert(Phash.dhashGray(35, h, flat).isEmpty, "non-tiling dims skip")
  }

  test("pairs run through the pigeonhole equi-join, never a cartesian") {
    val media = (1L to 20L).map(i => img(i, gradient((i % 4).toInt))).toDS()
    val plan = imagePairs(media).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"pair generation must stay an equi-join:\n$plan")
  }

  test("incremental index: batches screen against stored hashes only") {
    val store = new graft.write.TableStore(
      java.nio.file.Files.createTempDirectory("graft-phs").toString, spark)
    def index(media: org.apache.spark.sql.Dataset[MediaItem]) =
      IncrementalDedup.indexCorpus(store, "img", Phash.dhashTable(media),
        "_id", "sh", Blocks(8))
    def check(media: org.apache.spark.sql.Dataset[MediaItem], maxHamming: Int) =
      IncrementalDedup.checkBatch(store, "img", Phash.dhashTable(media),
        "_id", "sh", sig = Blocks(maxHamming))
    index(Seq(img(1, gradient(3)), img(2, gradient(8))).toDS())
    // a near-dup of 1 (one-block edit) and a fresh image
    val edited = img(10, (x, y) => {
      val (r, g, b) = gradient(3)(x, y)
      if (x < 4) ((r + 2) % 256, g, b) else (r, g, b)
    })
    val batch = Seq(edited, img(11, gradient(5))).toDS()
    val pairs = check(batch, maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id")))
    assert(pairs.toSeq === Seq((10L, 1L)))
    // growing the index makes later batches see earlier ones
    index(batch)
    val later = check(Seq(img(20, gradient(5))).toDS(), maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id")))
    assert(later.toSeq === Seq((20L, 11L)))
  }

  test("Blocks: checking the odd ids against an index of the even ids = " +
      "Dedup.pairs restricted to odd x even") {
    // three gradient families; ids 9-11 carry a one-block edit of theirs
    val media = (0L until 12L).map { i =>
      val g = gradient((i % 3).toInt) _
      if (i < 9) img(i, g)
      else img(i, (x, y) => {
        val (r, gg, b) = g(x, y)
        if (x < 4) ((r + 2) % 256, gg, b) else (r, gg, b)
      })
    }.toDS()
    val store = new graft.write.TableStore(
      java.nio.file.Files.createTempDirectory("graft-phx").toString, spark)
    val ((selfCols, self), (checkCols, check)) = IncrementalDedupSpec
      .crossFace(store, Phash.dhashTable(media), "_id", "sh", Blocks(8), 0.0)
    assert(checkCols === selfCols && checkCols === Seq("hamming"))
    assert(check === self)
    assert(self.exists(_(2) != 0) && self.exists(_(2) == 0),
      s"the fixture must pair at zero and nonzero hamming: $self")
  }

  test("maxHamming 0 is an exact-equality band, not an everything-bucket") {
    // 1L << 64 wraps to a zero mask in Scala: a maxHamming=0 call must
    // band on the FULL hash (exact dup join), never collapse all rows
    // into one bucket
    val media = Seq(img(1, gradient(2)), img(2, gradient(2)),
      img(3, gradient(9))).toDS()
    val pairs = imagePairs(media, maxHamming = 0).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("id_a") === 1L &&
      pairs.head.getAs[Long]("id_b") === 2L &&
      pairs.head.getAs[Int]("hamming") === 0)
    intercept[IllegalArgumentException] {
      imagePairs(media, maxHamming = 64).collect()
    }
  }
}
