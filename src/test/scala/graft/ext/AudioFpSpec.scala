package graft.ext

import graft.SparkSpec
import graft.ext.Multimodal.MediaItem

/** Energy-delta audio fingerprint invariants. */
class AudioFpSpec extends SparkSpec {
  import spark.implicits._

  private def clip(id: Long, gain: Int = 1, frames: Int = 650,
      channels: Int = 1) =
    MediaItem(id, "audio", Multimodal.Wav.build(8000, channels, frames,
      (f, c) => gain * (((f * 37 + c * 11) % 83) * 60 - 2400)))

  test("volume scaling never changes the fingerprint") {
    val fp1 = AudioFp.fingerprint(clip(1, gain = 1)).get
    val fp3 = AudioFp.fingerprint(clip(2, gain = 3)).get
    assert(fp1 === fp3, "positive gain preserves every slope comparison")
  }

  test("gain-shifted copies pair at hamming 0; different content doesn't") {
    val different = MediaItem(3, "audio", Multimodal.Wav.build(8000, 1, 650,
      (f, _) => ((f * f % 89) * 55 - 2300)))
    val media = Seq(clip(1), clip(2, gain = 2), different).toDS()
    val pairs = Dedup.pairs(AudioFp.fingerprintTable(media), "_id", "sh",
      Blocks(7)).collect()
    assert(pairs.length === 1, s"got ${pairs.toSeq}")
    assert(pairs.head.getAs[Long]("id_a") === 1L)
    assert(pairs.head.getAs[Long]("id_b") === 2L)
    assert(pairs.head.getAs[Int]("hamming") === 0)
  }

  test("stereo mixes channels; clips below 65 frames or non-WAV skip") {
    assert(AudioFp.fingerprint(clip(1, channels = 2)).isDefined)
    assert(AudioFp.fingerprint(clip(1, frames = 64)).isEmpty)
    assert(AudioFp.fingerprint(
      MediaItem(9, "audio", Array[Byte](1, 2, 3))).isEmpty)
  }

  test("trailing remainder frames are ignored deterministically") {
    // 650 and 655 frames share wlen=10 over the first 650 frames
    val a = AudioFp.fingerprint(clip(1, frames = 650)).get
    val b = AudioFp.fingerprint(clip(2, frames = 659)).get
    assert(a === b)
  }
}
