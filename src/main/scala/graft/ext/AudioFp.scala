package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}

import Multimodal.MediaItem

/** Audio near-duplicate detection: a 64-bit energy-delta fingerprint
  * over PCM clips + the shared Hamming-bucketed pair machinery — the
  * audio face of the perceptual-dedup plane ([[Phash]] is the image/
  * video face; a re-mastered or gain-shifted copy of a clip fingerprints
  * within a few bits, while byte-level dedup sees nothing).
  *
  * Fingerprint: mix channels per sample frame (integer sum), split the
  * clip into 65 equal windows, window energy = Σ|mix|, bit b = 1 iff
  * energy(b) > energy(b+1) — the sign of the energy envelope's slope
  * (the Haitsma–Kalker energy-difference family, collapsed to the
  * time axis — no FFT needed, so the arithmetic is integer end-to-end
  * and a SQL oracle replays it bit-for-bit). Positive gain scaling
  * preserves every comparison, so the hash is volume-invariant by
  * construction.
  *
  * Scale shape: one `mapPartitions` sample walk per clip; pairs are the
  * [[Blocks]] signature over [[fingerprintTable]] ([[Dedup.pairs]]:
  * pigeonhole block equi-join + exact bit_count verify, never
  * all-pairs).
  */
object AudioFp {

  /** 65 windows → 64 slope bits. */
  val Windows = 65

  /** One clip's fingerprint; None for non-PCM16 payloads or clips
    * shorter than [[Windows]] frames (no envelope to compare). A
    * trailing remainder of frames < one window is ignored —
    * deterministic and oracle-replayable. */
  def fingerprint(item: MediaItem): Option[Long] = {
    val p = item.payload
    val hd = Multimodal.Wav.header(p)
    if (hd == null) return None
    val (_, channels, dataOff, frames) = hd
    if (frames < Windows) return None
    val wlen = frames / Windows
    def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val energy = new Array[Long](Windows)
    var f = 0
    val used = Windows * wlen
    while (f < used) {
      var mix = 0L
      var c = 0
      while (c < channels) {
        mix += le16(dataOff + 2 * (f * channels + c)).toShort.toLong
        c += 1
      }
      energy(f / wlen) += math.abs(mix)
      f += 1
    }
    var sh = 0L
    var b = 0
    while (b < Windows - 1) {
      if (energy(b) > energy(b + 1)) sh |= 1L << b
      b += 1
    }
    Some(sh)
  }

  /** Distributed fingerprint table (_id, sh) — the [[Blocks]] input. */
  def fingerprintTable(media: Dataset[MediaItem]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (once, not per row)
      it.flatMap(item => fingerprint(item).map((item.media_id, _)))
    }.toDF("_id", "sh")
  }
}
