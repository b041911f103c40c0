package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}

import Multimodal.MediaItem

/** Image near-duplicate detection: perceptual difference hash (dHash)
  * over decoded rasters + Hamming-bucketed pair generation — the step
  * that ties the codec plane into the dedup plane the way a multimodal
  * corpus pipeline needs (re-encoded/brightness-shifted copies of an
  * image hash within a few bits of each other; byte-level dedup sees
  * nothing).
  *
  * dHash (the standard 64-bit perceptual hash): pool the image to a
  * 9×8 luma grid, bit (gy·8 + gx) = 1 iff grid(gx, gy) > grid(gx+1,
  * gy) — brightness/contrast-invariant gradient signs. INTEGER
  * arithmetic end to end: block LUMA SUMS (ITU-R BT.601 integer
  * weights 299/587/114) compare identically to means when every block
  * holds the same pixel count, so the whole hash is exact and a SQL
  * oracle replays it bit-for-bit.
  *
  * Scale shape: the hash is one `mapPartitions` raster walk per image
  * (decoder state per partition — the [[Multimodal]] batch
  * discipline); pairs and the persisted index are the [[Blocks]]
  * signature over [[dhashTable]] ([[Dedup.pairs]],
  * [[IncrementalDedup.checkBatch]]): equi-join on 16-bit hash blocks,
  * exact `bit_count(xor)` verify, never all-pairs. The index stores only
  * the hashes, so indexed images are never read again and each check
  * picks its own Hamming budget.
  */
object Phash {

  /** Grid geometry: 9 columns × 8 rows → 8×8 = 64 comparison bits. */
  val GridW = 9
  val GridH = 8

  /** (block width, block height) when (w, h) tiles the grid evenly —
    * equal-count blocks are what make sum-compares ≡ mean-compares;
    * None otherwise (production resizes to 9×8 anyway). ONE owner of
    * the geometry for the color and gray paths. */
  private def tiles(w: Int, h: Int): Option[(Int, Int)] =
    if (w % GridW != 0 || h % GridH != 0) None
    else Some((w / GridW, h / GridH))

  /** Gradient-sign packing of a filled luma grid — the single
    * definition of the bit layout (bit gy·8 + gx = grid(gx) >
    * grid(gx+1)) shared by [[dhash]] and [[dhashGray]]; the SQL
    * oracles mirror exactly this. */
  private def pack(lum: Array[Array[Long]]): Long = {
    var ph = 0L
    var gy = 0
    while (gy < GridH) {
      var gx = 0
      while (gx < GridW - 1) {
        if (lum(gy)(gx) > lum(gy)(gx + 1)) ph |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    ph
  }

  /** One image's (media_id, dhash); empty for payloads that are not
    * complete P6 rasters or whose dimensions don't tile the grid. */
  def dhash(item: MediaItem): Iterator[(Long, Long)] = {
    val hd = Multimodal.Ppm.header(item.payload)
    if (hd == null) return Iterator.empty
    val (w, h, off) = hd
    tiles(w, h) match {
      case None => Iterator.empty
      case Some((bw, bh)) =>
        val p = item.payload
        val lum = Array.ofDim[Long](GridH, GridW)
        var y = 0
        while (y < h) {
          val gy = y / bh
          val row = off + 3 * y * w
          var x = 0
          while (x < w) {
            val o = row + 3 * x
            lum(gy)(x / bw) += 299L * (p(o) & 0xff) +
              587L * (p(o + 1) & 0xff) + 114L * (p(o + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        Iterator.single((item.media_id, pack(lum)))
    }
  }

  /** Distributed dHash table (_id, sh) — the [[Blocks]] input, one
    * raster walk per image. */
  def dhashTable(media: Dataset[MediaItem]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (once, not per row)
      it.flatMap(dhash)
    }.toDF("_id", "sh")
  }

  // ---- video -------------------------------------------------------------

  /** dHash of a single-channel raster (row-major bytes) — the
    * grayscale form of [[dhash]] (JPEG/MJPEG frames decode to luma
    * already); None when the dims don't tile the grid. */
  def dhashGray(w: Int, h: Int, raster: Array[Byte]): Option[Long] =
    tiles(w, h).map { case (bw, bh) =>
      val lum = Array.ofDim[Long](GridH, GridW)
      var y = 0
      while (y < h) {
        val gy = y / bh
        val row = y * w
        var x = 0
        while (x < w) { lum(gy)(x / bw) += raster(row + x) & 0xff; x += 1 }
        y += 1
      }
      pack(lum)
    }

  /** One sampled frame's perceptual hash. */
  final case class FrameHash(media_id: Long, frame_idx: Int,
    n_frames: Int, sh: Long)

  /** Per-sampled-frame dHash table over MJPEG/AVI videos: the
    * [[graft.ext.Mjpeg]] demux walk (skipped frames never decode) with
    * [[dhashGray]] on each decoded raster — one `mapPartitions` pass. */
  def videoFrameHashes(media: Dataset[MediaItem],
      stride: Int): Dataset[FrameHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition demuxer/decoder init would go here (once, not per row)
      it.flatMap(item =>
        Mjpeg.parseFrames(item, stride) { (fi, nf, w, h, _, raster) =>
          dhashGray(w, h, raster).map(FrameHash(item.media_id, fi, nf, _))
        }.flatten)
    }
  }

  /** Video near-dup: two videos pair when at least `minMatchFrac` of
    * their aligned sampled frames hash within `maxHamming` bits — the
    * re-encoded/levels-shifted duplicate class over the video corpus.
    * Output: (id_a, id_b, n_matching, n_compared, match_frac).
    *
    * Scale shape: candidates come from a (frame_idx, block, value)
    * pigeonhole equi-join — the [[Blocks]] banding with frame
    * alignment added — so every within-budget aligned frame pair
    * collides in ≥ 1 block (perfect recall of the match COUNT) and the
    * join never goes all-pairs; per-video sampled-frame counts ride a
    * separate ≤-videos-sized aggregate. */
  def videoPairs(media: Dataset[MediaItem], stride: Int,
      maxHamming: Int = 7, minMatchFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.functions._
    val fh = Dedup.pin(videoFrameHashes(media, stride).toDF())
    val banded = Blocks(maxHamming).banded(
      fh.select(col("media_id").as("_id"), col("frame_idx"), col("sh")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.blk") === col("b.blk") &&
          col("a.blk_val") === col("b.blk_val") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a.frame_idx").as("fi"), col("a.sh").as("sa"), col("b.sh").as("sb"))
      .distinct()
    val matches = cand
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= maxHamming)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_matching"))
    val counts = fh.groupBy("media_id").agg(count(lit(1)).as("ns"))
    matches
      .join(counts.select(col("media_id").as("id_a"), col("ns").as("na")), "id_a")
      .join(counts.select(col("media_id").as("id_b"), col("ns").as("nb")), "id_b")
      .withColumn("n_compared", least(col("na"), col("nb")))
      .withColumn("match_frac",
        round(col("n_matching").cast("double") / col("n_compared"), 6))
      .filter(col("n_matching").cast("double") / col("n_compared")
        >= minMatchFrac)
      .select("id_a", "id_b", "n_matching", "n_compared", "match_frac")
  }
}
