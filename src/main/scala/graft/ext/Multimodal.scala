package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns as opaque `binary` payloads
  * with typed metadata — the pattern for carrying media through a
  * 100 TB training-data pipeline.
  *
  * The Spark-side plumbing is real: schemas, typed `Dataset` rows,
  * `mapPartitions` batch shape (decoder state initialized once per
  * partition, NOT per row), and frame-explosion plans. The codec itself
  * is STUBBED with a deterministic fake (this container has no image /
  * audio libraries): [[StubCodec.decode]] derives metadata purely from
  * the payload bytes, so tests and oracles are exact. Swap `StubCodec`
  * for a JNI/javacv decoder in production — nothing else changes.
  */
object Multimodal {

  /** A media row: opaque payload + declared modality. */
  final case class MediaItem(media_id: Long, modality: String, payload: Array[Byte])

  /** Decoded (stub) metadata. For images width/height; for "video" a
    * deterministic frame count; `n_bytes` is always the payload size. */
  final case class MediaMeta(media_id: Long, modality: String,
    n_bytes: Long, width: Int, height: Int, channels: Int, n_frames: Int)

  /** Deterministic stand-in for the real decoder. Every field is a pure
    * function of the payload bytes, mirrored exactly by the DuckDB
    * oracle (octet_length arithmetic). */
  object StubCodec {
    def decode(item: MediaItem): MediaMeta = {
      val n = item.payload.length.toLong
      MediaMeta(item.media_id, item.modality, n,
        width = (n % 640 + 1).toInt,
        height = (n % 480 + 1).toInt,
        channels = 3,
        n_frames = (n / 32 + 1).toInt)
    }
  }

  /** REAL header parsers — pure JVM byte arithmetic, no native deps:
    *  - BMP (`BM` magic, BITMAPINFOHEADER): width/height/bit-depth from
    *    the documented little-endian header offsets;
    *  - PNG (8-byte magic + mandatory first IHDR chunk): big-endian
    *    dimensions and color-type → channels (metadata needs no inflate);
    *  - GIF (87a/89a logical screen descriptor): little-endian dims;
    *  - WAV (`RIFF….WAVE`, chunk walk to `fmt `/`data`): channels,
    *    sample rate and the sample-frame count. Audio maps onto
    *    [[MediaMeta]] as width = sample rate, height = bits/sample,
    *    n_frames = sample frames;
    *  - JPEG (SOI + marker-segment walk to the first SOFn frame
    *    header): big-endian dimensions and component count — the frame
    *    header is uncompressed, so metadata needs no entropy decode.
    * Full pixel/sample DECODE of compressed codecs (JPEG pixels,
    * H.264…) needs native decoders absent from this environment; those
    * payloads fall back to the deterministic [[StubCodec]], so plans
    * stay total and exact. */
  object HeaderCodec {
    private def le16(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    private def le32(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
        ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)

    private def be32(p: Array[Byte], o: Int): Int =
      ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
        ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)

    private def isBmp(p: Array[Byte]) =
      p.length >= 54 && p(0) == 'B'.toByte && p(1) == 'M'.toByte
    private def isWav(p: Array[Byte]) =
      p.length >= 44 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'
    private val PngMagic = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    private def isPng(p: Array[Byte]) =
      p.length >= 33 && p.take(8).sameElements(PngMagic)
    private def isGif(p: Array[Byte]) =
      p.length >= 13 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a'
    private def isJpeg(p: Array[Byte]) =
      p.length >= 4 && p(0) == 0xff.toByte && p(1) == 0xd8.toByte &&
        p(2) == 0xff.toByte

    private def be16(p: Array[Byte], o: Int): Int =
      ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)

    /** Walk JPEG marker segments to the first SOFn (start-of-frame)
      * header: FFC0–FFCF excluding DHT (C4), JPGn (C8) and DAC (CC).
      * Returns (width, height, components), or null if no frame header
      * appears before scan data / truncation. */
    private def jpegFrame(p: Array[Byte]): (Int, Int, Int) = {
      var o = 2
      while (o + 4 <= p.length) {
        // tolerate fill bytes: a marker may be preceded by any number of FFs
        if (p(o) != 0xff.toByte) return null
        var m = o + 1
        while (m < p.length && p(m) == 0xff.toByte) m += 1
        if (m >= p.length) return null
        val marker = p(m) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOF payload: len(2) precision(1) height(2) width(2) ncomp(1)
          if (m + 8 >= p.length) return null
          return (be16(p, m + 6), be16(p, m + 4), p(m + 8) & 0xff)
        }
        if (marker == 0xda || marker == 0xd9) return null // SOS/EOI: give up
        if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) o = m + 1
        else {
          if (m + 3 > p.length) return null
          o = m + 1 + be16(p, m + 1) // length includes its own 2 bytes
        }
      }
      null
    }

    def decode(item: MediaItem): MediaMeta = {
      val p = item.payload
      if (isPng(p)) {
        // IHDR is mandated first chunk: width/height big-endian at 16/20;
        // color type at 25 → channel count (dimensions only — pixel data
        // is DEFLATE-compressed and needs no decode for metadata)
        val channels = p(25) match {
          case 2 => 3 // truecolor
          case 4 => 2 // gray+alpha
          case 6 => 4 // truecolor+alpha
          case _ => 1 // grayscale / palette
        }
        MediaMeta(item.media_id, "image", p.length.toLong,
          width = be32(p, 16), height = be32(p, 20),
          channels = channels, n_frames = 1)
      } else if (isGif(p)) {
        // logical screen descriptor: little-endian dims at 6/8; GIF87a/89a
        MediaMeta(item.media_id, "image", p.length.toLong,
          width = le16(p, 6), height = le16(p, 8),
          channels = 3, n_frames = 1)
      } else if (isJpeg(p)) {
        val frame = jpegFrame(p)
        if (frame == null) StubCodec.decode(item)
        else MediaMeta(item.media_id, "image", p.length.toLong,
          width = frame._1, height = frame._2,
          channels = frame._3, n_frames = 1)
      } else if (isBmp(p))
        MediaMeta(item.media_id, "image", p.length.toLong,
          width = le32(p, 18),
          height = math.abs(le32(p, 22)), // negative = top-down rows
          channels = math.max(1, le16(p, 28) / 8),
          n_frames = 1)
      else if (isWav(p)) {
        // walk RIFF chunks for fmt (format) and data (payload length)
        var (o, ch, rate, bits, dataLen) = (12, 1, 0, 8, 0L)
        var walking = true
        while (walking && o + 8 <= p.length) {
          val id = new String(p, o, 4, "US-ASCII")
          val len = le32(p, o + 4)
          // a negative length (crafted/corrupt) would walk BACKWARDS —
          // an infinite loop, which on a cluster is a hung executor
          if (len < 0) walking = false
          else {
            if (id == "fmt " && o + 24 <= p.length) {
              ch = le16(p, o + 10); rate = le32(p, o + 12); bits = le16(p, o + 22)
            } else if (id == "data") dataLen = len.toLong & 0xffffffffL
            o += 8 + len + (len & 1) // chunks are word-aligned
          }
        }
        val blockAlign = math.max(1, ch * math.max(1, bits / 8))
        MediaMeta(item.media_id, "audio", p.length.toLong,
          width = rate, height = bits, channels = ch,
          n_frames = (dataLen / blockAlign).toInt)
      } else StubCodec.decode(item)
    }
  }

  /** Wrap a text column as a fake media payload (UTF-8 bytes). Lets the
    * test tables exercise the plumbing without real media files. */
  def asMedia(docs: DataFrame, id: String, text: String,
      modality: String = "image"): Dataset[MediaItem] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long").as("media_id"),
        lit(modality).as("modality"),
        encode(col(text), "UTF-8").as("payload"))
      .as[MediaItem]
  }

  /** Decode a media Dataset into typed metadata. `mapPartitions` so a
    * real codec can amortize per-partition init (model load, native
    * context) across the batch — the shape that matters at scale. */
  def decodeMeta(media: Dataset[MediaItem]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (once, not per row)
      it.map(HeaderCodec.decode)
    }
  }

  /** Resize plan: recompute target dims preserving aspect, payload
    * untouched (a real impl would re-encode in the same mapPartitions).
    * Pure column arithmetic over the decoded metadata. */
  def resizePlan(meta: Dataset[MediaMeta], maxDim: Int): DataFrame =
    meta.toDF().withColumn("scale",
        least(lit(1.0), lit(maxDim) / greatest(col("width"), col("height"))))
      .withColumn("out_width", greatest(floor(col("width") * col("scale")), lit(1)))
      .withColumn("out_height", greatest(floor(col("height") * col("scale")), lit(1)))
      .drop("scale")

  /** Frame sampling for video payloads: one output row per sampled frame
    * index (every `stride`-th frame). Explode happens on the metadata —
    * the heavy payload column is dropped before the explode, so row
    * multiplication never copies media bytes. */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .as("frame_idx"))

  /** REAL raster codec: binary PPM (P6) — the one mainstream image
    * format fully decodable with no native library (magic + ASCII
    * header + raw RGB bytes), so the pixel path here is a genuine
    * decode, not a stub: header parse, one byte-walk over the raster,
    * per-image statistics accumulated DURING the walk (full and
    * strided in the same pass — the sampled variant never re-reads the
    * payload), and a real downsample RE-ENCODE producing a valid
    * smaller P6. Swapping in a JPEG decoder changes only the
    * byte-walk; every surrounding plan shape is exercised for real. */
  object Ppm {

    /** Per-image pixel statistics from ONE raster walk: full channel
      * sums plus the sums over the (x % stride == 0, y % stride == 0)
      * sample grid. Integer arithmetic end-to-end — exact for oracles. */
    final case class PpmStats(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long,
      s_sum_r: Long, s_sum_g: Long, s_sum_b: Long)

    /** Serialize a P6 image; `pixel(x, y)` returns (r, g, b) in 0-255. */
    def build(width: Int, height: Int,
        pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + 3 * width * height)
      System.arraycopy(header, 0, out, 0, header.length)
      var o = header.length
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
          o += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** Parse the P6 header: returns (width, height, rasterOffset) or
      * null for non-PPM/truncated payloads (skipped, like Gvid).
      * `private[ext]`: [[Phash]] walks the same raster. */
    private[ext] def header(p: Array[Byte]): (Int, Int, Int) = {
      if (p.length < 2 || p(0) != 'P' || p(1) != '6') return null
      var o = 2
      def ws(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
      def int(): Int = {
        while (o < p.length && ws(p(o))) o += 1
        if (o >= p.length || p(o) < '0' || p(o) > '9') return -1
        var v = 0
        while (o < p.length && p(o) >= '0' && p(o) <= '9') {
          v = v * 10 + (p(o) - '0'); o += 1
        }
        v
      }
      val (w, h, maxv) = (int(), int(), int())
      if (w <= 0 || h <= 0 || maxv != 255 || o >= p.length) return null
      o += 1 // single whitespace after maxval, then the raster
      if (p.length < o + 3L * w * h) return null
      (w, h, o)
    }

    /** Decode one image's statistics; Iterator.empty for payloads that
      * are not (complete) P6 — one corrupt image never aborts the job. */
    def stats(item: MediaItem, stride: Int): Iterator[PpmStats] = {
      val hd = header(item.payload)
      if (hd == null) return Iterator.empty
      val (w, h, off) = hd
      val p = item.payload
      var (sr, sg, sb, ssr, ssg, ssb) = (0L, 0L, 0L, 0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        val row = off + 3 * y * w
        while (x < w) {
          val o = row + 3 * x
          val (r, g, b) = (p(o) & 0xff, p(o + 1) & 0xff, p(o + 2) & 0xff)
          sr += r; sg += g; sb += b
          if (x % stride == 0 && y % stride == 0) { ssr += r; ssg += g; ssb += b }
          x += 1
        }
        y += 1
      }
      Iterator.single(PpmStats(item.media_id, w, h, sr, sg, sb, ssr, ssg, ssb))
    }

    /** Distributed pixel decode: one stats row per valid image, decoder
      * state per PARTITION, full + strided sums from one raster pass. */
    def decodeStats(media: Dataset[MediaItem], stride: Int): Dataset[PpmStats] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition decoder init would go here (once, not per row)
        it.flatMap(stats(_, stride))
      }
    }

    /** REAL downsample re-encode: keep every `stride`-th pixel on both
      * axes and emit a valid smaller P6 payload. Non-PPM payloads pass
      * through untouched (a resize stage must be total). */
    def downsample(item: MediaItem, stride: Int): MediaItem = {
      val hd = header(item.payload)
      if (hd == null) return item
      val (w, h, off) = hd
      val (ow, oh) = ((w + stride - 1) / stride, (h + stride - 1) / stride)
      val p = item.payload
      item.copy(payload = build(ow, oh, (x, y) => {
        val o = off + 3 * ((y * stride) * w + x * stride)
        (p(o) & 0xff, p(o + 1) & 0xff, p(o + 2) & 0xff)
      }))
    }
  }

  /** REAL compressed image codec: PNG, truecolor 8-bit — the first of
    * the two mainstream COMPRESSED image formats this engine decodes
    * for real, with no native dependency: PNG's compression is zlib
    * DEFLATE, which the JVM ships (`java.util.zip.Inflater`), so the
    * pixel path is a genuine compressed-bitstream decode:
    *
    *  - chunk walk with CRC32 verification (a corrupt chunk skips the
    *    image, never aborts the job);
    *  - multi-IDAT reassembly (the zlib stream may span any number of
    *    IDAT chunks — the spec requires consecutive concatenation);
    *  - INFLATE of the scanline stream;
    *  - full scanline-filter reconstruction — all five PNG filter
    *    types (None / Sub / Up / Average / Paeth) — with per-image
    *    channel statistics accumulated DURING the reconstruction walk
    *    (full + strided sums in the same pass, like [[Ppm]]).
    *
    * The encoder emits spec-compliant PNGs (Deflater, per-row cycling
    * filters so every filter type is exercised, IDAT split at 512
    * bytes) — build→decode is checked byte-exact by the oracle.
    * Ref: PNG spec (RFC 2083) §3 chunks, §6 filters; reference
    * multimodal ingestion treats images as opaque payloads +
    * extracted metadata (dlt filesystem binary items). */
  object Png {

    /** Same statistics shape as [[Ppm.PpmStats]], from the
      * reconstructed (post-inflate, post-unfilter) raster. */
    final case class PngStats(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long,
      s_sum_r: Long, s_sum_g: Long, s_sum_b: Long)

    private val Magic =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def crc32(tag: Array[Byte], data: Array[Byte], off: Int, len: Int): Int = {
      val c = new java.util.zip.CRC32
      c.update(tag, 0, tag.length)
      if (len > 0) c.update(data, off, len)
      c.getValue.toInt
    }

    private def writeChunk(out: java.io.ByteArrayOutputStream, tag: String,
        data: Array[Byte], off: Int, len: Int): Unit = {
      val t = tag.getBytes("US-ASCII")
      val hd = java.nio.ByteBuffer.allocate(8).putInt(len).put(t).array()
      out.write(hd, 0, 8)
      out.write(data, off, len)
      val c = java.nio.ByteBuffer.allocate(4).putInt(crc32(t, data, off, len)).array()
      out.write(c, 0, 4)
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Serialize a truecolor 8-bit PNG; `pixel(x, y)` returns (r, g, b)
      * in 0-255. Row y is filtered with type y % 5, so a multi-row
      * image exercises every filter; the deflated stream splits into
      * 512-byte IDAT chunks, so any image past a few rows exercises
      * multi-IDAT reassembly. */
    def build(width: Int, height: Int,
        pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val stride = 3 * width
      val filtered = new Array[Byte](height * (1 + stride))
      val prev = new Array[Int](stride)
      val cur = new Array[Int](stride)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          cur(3 * x) = r & 0xff; cur(3 * x + 1) = g & 0xff; cur(3 * x + 2) = b & 0xff
          x += 1
        }
        val ft = y % 5
        val ro = y * (1 + stride)
        filtered(ro) = ft.toByte
        var i = 0
        while (i < stride) {
          val left = if (i >= 3) cur(i - 3) else 0
          val up = if (y > 0) prev(i) else 0
          val ul = if (y > 0 && i >= 3) prev(i - 3) else 0
          val f = ft match {
            case 0 => cur(i)
            case 1 => cur(i) - left
            case 2 => cur(i) - up
            case 3 => cur(i) - ((left + up) >> 1)
            case _ => cur(i) - paeth(left, up, ul)
          }
          filtered(ro + 1 + i) = f.toByte
          i += 1
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      // zlib-deflate the filtered scanlines
      val defl = new java.util.zip.Deflater
      defl.setInput(filtered); defl.finish()
      val zbuf = new java.io.ByteArrayOutputStream
      val tmp = new Array[Byte](4096)
      while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      val z = zbuf.toByteArray
      val out = new java.io.ByteArrayOutputStream
      out.write(Magic, 0, Magic.length)
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(width).putInt(height)
        .put(8.toByte).put(2.toByte) // bit depth 8, color type 2 (RGB)
        .put(0.toByte).put(0.toByte).put(0.toByte)
        .array()
      writeChunk(out, "IHDR", ihdr, 0, 13)
      var o = 0
      while (o < z.length) {
        val n = math.min(512, z.length - o)
        writeChunk(out, "IDAT", z, o, n)
        o += n
      }
      writeChunk(out, "IEND", Array.emptyByteArray, 0, 0)
      out.toByteArray
    }

    /** Decode one PNG's statistics; Iterator.empty for anything that is
      * not a complete, CRC-clean, 8-bit truecolor non-interlaced PNG —
      * an unsupported or corrupt image skips, never aborts the job. */
    def stats(item: MediaItem, sampleStride: Int): Iterator[PngStats] = {
      val p = item.payload
      if (p.length < 8 + 25 || !p.take(8).sameElements(Magic)) return Iterator.empty
      def be32(o: Int) = ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
        ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
      var (o, w, h, ok) = (8, -1, -1, true)
      val idat = new java.io.ByteArrayOutputStream
      var done = false
      while (!done && ok) {
        if (o + 12 > p.length) { ok = false }
        else {
          val len = be32(o)
          if (len < 0 || o + 12L + len > p.length) ok = false
          else {
            val tag = new String(p, o + 4, 4, "US-ASCII")
            val t = java.util.Arrays.copyOfRange(p, o + 4, o + 8)
            if (crc32(t, p, o + 8, len) != be32(o + 8 + len)) ok = false
            else tag match {
              case "IHDR" =>
                if (len != 13) ok = false
                else {
                  w = be32(o + 8); h = be32(o + 12)
                  // supported profile: 8-bit truecolor, deflate, filter
                  // method 0, non-interlaced
                  if (p(o + 16) != 8 || p(o + 17) != 2 ||
                    p(o + 18) != 0 || p(o + 19) != 0 || p(o + 20) != 0) ok = false
                }
              case "IDAT" => idat.write(p, o + 8, len)
              case "IEND" => done = true
              case _ => () // ancillary chunks skip
            }
            o += 12 + len
          }
        }
      }
      if (!ok || !done || w <= 0 || h <= 0) return Iterator.empty
      // cap the reconstruction buffer: a crafted IHDR with huge
      // dimensions must not drive a multi-GB allocation (or Int
      // overflow in h*(1+3w)) before the inflate even starts
      if (h.toLong * (1L + 3L * w) > Int.MaxValue) return Iterator.empty
      val rowBytes = 3 * w
      val raw = new Array[Byte](h * (1 + rowBytes))
      val infl = new java.util.zip.Inflater
      infl.setInput(idat.toByteArray)
      try {
        var off = 0
        while (off < raw.length && !infl.finished()) {
          val n = infl.inflate(raw, off, raw.length - off)
          if (n == 0 && infl.needsInput()) return Iterator.empty // truncated
          off += n
        }
        if (off != raw.length) return Iterator.empty
      } catch {
        case _: java.util.zip.DataFormatException => return Iterator.empty
      } finally infl.end()
      // unfilter + accumulate in one walk
      val prev = new Array[Int](rowBytes)
      val cur = new Array[Int](rowBytes)
      var (sr, sg, sb, ssr, ssg, ssb) = (0L, 0L, 0L, 0L, 0L, 0L)
      var y = 0
      while (y < h) {
        val ro = y * (1 + rowBytes)
        val ft = raw(ro) & 0xff
        if (ft > 4) return Iterator.empty
        var i = 0
        while (i < rowBytes) {
          val left = if (i >= 3) cur(i - 3) else 0
          val up = if (y > 0) prev(i) else 0
          val ul = if (y > 0 && i >= 3) prev(i - 3) else 0
          val f = raw(ro + 1 + i) & 0xff
          cur(i) = (ft match {
            case 0 => f
            case 1 => f + left
            case 2 => f + up
            case 3 => f + ((left + up) >> 1)
            case _ => f + paeth(left, up, ul)
          }) & 0xff
          i += 1
        }
        var x = 0
        val keepRow = y % sampleStride == 0
        while (x < w) {
          val (r, g, b) = (cur(3 * x), cur(3 * x + 1), cur(3 * x + 2))
          sr += r; sg += g; sb += b
          if (keepRow && x % sampleStride == 0) { ssr += r; ssg += g; ssb += b }
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, rowBytes)
        y += 1
      }
      Iterator.single(PngStats(item.media_id, w, h, sr, sg, sb, ssr, ssg, ssb))
    }

    /** Distributed compressed-image decode: inflater state per
      * PARTITION, full + strided sums from the reconstruction walk. */
    def decodeStats(media: Dataset[MediaItem], stride: Int): Dataset[PngStats] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition decoder init would go here (once, not per row)
        it.flatMap(stats(_, stride))
      }
    }
  }

  /** REAL compressed image codec #2: GIF — the codec here is GIF's
    * actual LZW (variable-width codes 9→12 bits, LSB-first packing,
    * clear-code table resets, the KwKwK self-reference case), written
    * out and read back with no library at all, so this exercises a
    * complete compressed-bitstream decoder in pure JVM code:
    *
    *  - GIF89a logical screen descriptor + 256-entry global color
    *    table + image descriptor + sub-block framed LZW stream;
    *  - a real LZW encoder (dictionary of (prefix, byte) → code,
    *    width growth in lockstep with the decoder, CLEAR emitted when
    *    the 4096-entry table fills);
    *  - a real LZW decoder (prefix/suffix chain expansion, first-byte
    *    tracking, truncation-safe) that must reproduce the index
    *    raster byte-exactly;
    *  - palette mapping + full/strided channel sums in one walk.
    *
    * Unsupported or corrupt payloads skip (Iterator.empty), never
    * abort. Ref: GIF89a specification §§18-22 + Appendix F (LZW);
    * the reference ingests images as opaque payloads + metadata. */
  object Gif {

    /** Same statistics shape as [[Ppm.PpmStats]], over palette-mapped
      * decoded pixels. */
    final case class GifStats(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long,
      s_sum_r: Long, s_sum_g: Long, s_sum_b: Long)

    /** GIF-LZW compress `indices` (one byte per pixel, row-major).
      * Exposed within the package so the spec can round-trip the codec
      * on adversarial streams (table-full resets, KwKwK). */
    private[ext] def lzwEncode(indices: Array[Byte], minCodeSize: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val out = new java.io.ByteArrayOutputStream
      var (bitBuf, bitCnt) = (0L, 0)
      var codeSize = minCodeSize + 1
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
        while (bitCnt >= 8) {
          out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
        }
      }
      val table = new java.util.HashMap[Integer, Integer](8192)
      var nextCode = eoi + 1
      emit(clear)
      var prev = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val k = indices(i) & 0xff
        val key: Integer = (prev << 8) | k
        val hit = table.get(key)
        if (hit != null) prev = hit
        else {
          emit(prev)
          table.put(key, nextCode); nextCode += 1
          // the decoder sits one table-add behind, so it widens at
          // (1 << size) while the encoder widens one add later
          if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          if (nextCode == 4096) { // code 4095 was the last assignable

            emit(clear)
            table.clear(); nextCode = eoi + 1; codeSize = minCodeSize + 1
          }
          prev = k
        }
        i += 1
      }
      emit(prev); emit(eoi)
      if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
      out.toByteArray
    }

    /** GIF-LZW decompress into exactly `expected` bytes; null on any
      * malformation (truncation, out-of-range code, overrun). */
    private[ext] def lzwDecode(data: Array[Byte], minCodeSize: Int,
        expected: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val first = new Array[Byte](4096)
      var j = 0
      while (j < clear) { suffix(j) = j.toByte; first(j) = j.toByte; j += 1 }
      val out = new Array[Byte](expected)
      val stack = new Array[Byte](4096)
      var outN = 0
      var codeSize = minCodeSize + 1
      var nextCode = eoi + 1
      var (bitBuf, bitCnt, pos) = (0L, 0, 0)
      var prevCode = -1
      while (true) {
        while (bitCnt < codeSize && pos < data.length) {
          bitBuf |= (data(pos) & 0xffL) << bitCnt; pos += 1; bitCnt += 8
        }
        if (bitCnt < codeSize) return null // truncated stream
        val c = (bitBuf & ((1L << codeSize) - 1)).toInt
        bitBuf >>>= codeSize; bitCnt -= codeSize
        if (c == clear) {
          nextCode = eoi + 1; codeSize = minCodeSize + 1; prevCode = -1
        } else if (c == eoi) {
          return if (outN == expected) out else null
        } else if (prevCode == -1) {
          if (c >= clear) return null // first code after clear is a literal
          if (outN >= expected) return null
          out(outN) = c.toByte; outN += 1
          prevCode = c
        } else {
          if (c > nextCode || c == eoi) return null
          // expand c (or, for c == nextCode, the KwKwK string
          // prev + first(prev)) through the prefix chain
          var top = 0
          var cur = c
          if (c == nextCode) { stack(top) = first(prevCode); top += 1; cur = prevCode }
          while (cur >= clear) {
            stack(top) = suffix(cur); top += 1; cur = prefix(cur)
          }
          stack(top) = suffix(cur); top += 1
          if (outN + top > expected) return null
          val headByte = stack(top - 1)
          while (top > 0) { top -= 1; out(outN) = stack(top); outN += 1 }
          if (nextCode < 4096) {
            prefix(nextCode) = prevCode
            suffix(nextCode) = headByte
            first(nextCode) = first(prevCode)
            nextCode += 1
            if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prevCode = c
        }
      }
      null // unreachable
    }

    /** Serialize a GIF89a: 256-entry global palette from `palette(i)`,
      * pixel indices from `index(x, y)` (0-255), real LZW stream in
      * ≤255-byte sub-blocks. */
    def build(width: Int, height: Int, index: (Int, Int) => Int,
        palette: Int => (Int, Int, Int)): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      out.write("GIF89a".getBytes("US-ASCII"))
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      le16(width); le16(height)
      out.write(0xf7) // global table, 8-bit color resolution, 256 entries
      out.write(0); out.write(0) // background index, aspect
      var i = 0
      while (i < 256) {
        val (r, g, b) = palette(i)
        out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff)
        i += 1
      }
      out.write(0x2c) // image descriptor
      le16(0); le16(0); le16(width); le16(height)
      out.write(0) // no local table, not interlaced
      val indices = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { indices(y * width + x) = index(x, y).toByte; x += 1 }
        y += 1
      }
      out.write(8) // LZW minimum code size
      val z = lzwEncode(indices, 8)
      var o = 0
      while (o < z.length) {
        val n = math.min(255, z.length - o)
        out.write(n)
        out.write(z, o, n)
        o += n
      }
      out.write(0) // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** Decode one GIF's statistics from its first image; skips anything
      * not a complete global-palette non-interlaced GIF. */
    def stats(item: MediaItem, stride: Int): Iterator[GifStats] = {
      val p = item.payload
      if (p.length < 14 || p(0) != 'G' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != '8' || (p(4) != '7' && p(4) != '9') || p(5) != 'a')
        return Iterator.empty
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      val packed = p(10) & 0xff
      if ((packed & 0x80) == 0) return Iterator.empty // need a global table
      val gctLen = 1 << ((packed & 7) + 1)
      var o = 13
      if (p.length < o + 3 * gctLen) return Iterator.empty
      val gct = o
      o += 3 * gctLen
      // walk blocks to the first image descriptor
      while (o < p.length && (p(o) & 0xff) == 0x21) { // extension: skip
        o += 2 // introducer + label
        while (o < p.length && p(o) != 0) o += 1 + (p(o) & 0xff)
        o += 1
      }
      if (o + 10 > p.length || (p(o) & 0xff) != 0x2c) return Iterator.empty
      val (w, h) = (le16(o + 5), le16(o + 7))
      val ipacked = p(o + 9) & 0xff
      if ((ipacked & 0xc0) != 0) return Iterator.empty // local table/interlace
      o += 10
      if (o >= p.length) return Iterator.empty
      val minCodeSize = p(o) & 0xff
      if (minCodeSize < 2 || minCodeSize > 11) return Iterator.empty
      o += 1
      val z = new java.io.ByteArrayOutputStream
      while (o < p.length && p(o) != 0) {
        val n = p(o) & 0xff
        if (o + 1 + n > p.length) return Iterator.empty
        z.write(p, o + 1, n)
        o += 1 + n
      }
      if (o >= p.length) return Iterator.empty // missing terminator
      if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue) return Iterator.empty
      val indices = lzwDecode(z.toByteArray, minCodeSize, w * h)
      if (indices == null) return Iterator.empty
      var (sr, sg, sb, ssr, ssg, ssb) = (0L, 0L, 0L, 0L, 0L, 0L)
      var y = 0
      while (y < h) {
        val keepRow = y % stride == 0
        var x = 0
        while (x < w) {
          val idx = indices(y * w + x) & 0xff
          if (idx >= gctLen) return Iterator.empty
          val c = gct + 3 * idx
          val (r, g, b) = (p(c) & 0xff, p(c + 1) & 0xff, p(c + 2) & 0xff)
          sr += r; sg += g; sb += b
          if (keepRow && x % stride == 0) { ssr += r; ssg += g; ssb += b }
          x += 1
        }
        y += 1
      }
      Iterator.single(GifStats(item.media_id, w, h, sr, sg, sb, ssr, ssg, ssb))
    }

    /** Distributed LZW decode: decoder state per PARTITION. */
    def decodeStats(media: Dataset[MediaItem], stride: Int): Dataset[GifStats] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition decoder init would go here (once, not per row)
        it.flatMap(stats(_, stride))
      }
    }
  }

  /** REAL audio codec: WAV / PCM16 — like [[Ppm]] for images, PCM in a
    * RIFF container is fully decodable with no native library, so the
    * sample path is a genuine decode: chunk walk to `fmt `/`data`, one
    * pass over the interleaved little-endian samples accumulating
    * per-clip statistics (signed sum + absolute sum, full and strided
    * over sample FRAMES in the same pass). Compressed audio (MP3/AAC)
    * would swap only the sample walk. */
  object Wav {

    /** Per-clip sample statistics from ONE walk over the PCM data:
      * signed and absolute sums over every channel-sample, plus the
      * same sums over every `stride`-th sample FRAME (all channels of
      * a kept frame count). Integer arithmetic end-to-end. */
    final case class WavStats(media_id: Long, sample_rate: Int,
      channels: Int, n_frames: Long,
      sum_amp: Long, sum_abs: Long, s_sum_amp: Long, s_sum_abs: Long)

    /** Serialize a canonical 44-byte-header PCM16 WAV;
      * `sample(frame, channel)` returns a signed 16-bit value. */
    def build(sampleRate: Int, channels: Int, frames: Int,
        sample: (Int, Int) => Int): Array[Byte] = {
      val dataLen = 2 * channels * frames
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort)
        .putInt(sampleRate).putInt(sampleRate * 2 * channels)
        .putShort((2 * channels).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var f = 0
      while (f < frames) {
        var c = 0
        while (c < channels) { buf.putShort(sample(f, c).toShort); c += 1 }
        f += 1
      }
      buf.array()
    }

    /** Parse the RIFF/fmt/data layout of a complete PCM16 WAV:
      * (rate, channels, dataOff, frames), or null for anything else.
      * `private[ext]`: [[AudioFp]] walks the same samples. */
    private[ext] def header(p: Array[Byte]): (Int, Int, Int, Int) = {
      if (p.length < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
        return null
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32(o: Int) = le16(o) | (le16(o + 2) << 16)
      // chunk walk: find fmt (PCM16) and data
      var (o, rate, channels, dataOff, dataLen) = (12, -1, -1, -1, -1)
      while (o + 8 <= p.length && (rate < 0 || dataOff < 0)) {
        val (id, len) = (new String(p.slice(o, o + 4), "US-ASCII"), le32(o + 4))
        if (len < 0) return null // crafted length: never walk back
        if (id == "fmt " && o + 24 <= p.length) {
          if (le16(o + 8) != 1 || le16(o + 22) != 16) return null
          channels = le16(o + 10); rate = le32(o + 12)
        } else if (id == "data") { dataOff = o + 8; dataLen = len }
        o += 8 + len + (len & 1) // chunks are word-aligned
      }
      if (rate < 0 || channels <= 0 || dataOff < 0 ||
        p.length < dataOff.toLong + dataLen) return null
      (rate, channels, dataOff, dataLen / (2 * channels))
    }

    /** Decode one clip's statistics; Iterator.empty for payloads that
      * are not (complete) PCM16 WAV — corrupt clips skip, never abort. */
    def stats(item: MediaItem, stride: Int): Iterator[WavStats] = {
      val p = item.payload
      val hd = header(p)
      if (hd == null) return Iterator.empty
      val (rate, channels, dataOff, frames) = hd
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      var (sa, sb, ssa, ssb) = (0L, 0L, 0L, 0L)
      var f = 0
      while (f < frames) {
        val keep = f % stride == 0
        var c = 0
        while (c < channels) {
          val v = le16(dataOff + 2 * (f * channels + c)).toShort.toLong
          sa += v; sb += math.abs(v)
          if (keep) { ssa += v; ssb += math.abs(v) }
          c += 1
        }
        f += 1
      }
      Iterator.single(WavStats(item.media_id, rate, channels, frames,
        sa, sb, ssa, ssb))
    }

    /** Distributed sample decode: decoder state per PARTITION, full +
      * strided sums from one pass over the PCM data. */
    def decodeStats(media: Dataset[MediaItem], stride: Int): Dataset[WavStats] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition decoder init would go here (once, not per row)
        it.flatMap(stats(_, stride))
      }
    }
  }

  /** REAL compressed audio codec: IMA ADPCM (DVI4) in a standard WAV
    * container, wFormatTag 0x11 — 4:1-compressed audio decoded for
    * real in pure JVM code. Each mono block carries a 4-byte header
    * (initial predictor int16 + step-table index) followed by packed
    * 4-bit nibbles; decoding walks the adaptive quantizer exactly as
    * specified (89-entry step table, per-nibble index adjustment,
    * 16-bit clamp), so every decoded sample depends on the full
    * nibble history — a single mis-stepped nibble corrupts the rest
    * of the block and breaks the oracle hash.
    *
    * The encoder is the matching real quantizer (sign + 3 magnitude
    * bits against the current step, mirrored decoder state), so spec
    * round-trips exercise encode→decode on real signals. Ref: IMA
    * ADPCM reference algorithm (Intel/DVI, IMA Digital Audio Focus
    * Group 1992); container per RIFF/WAVE fmt 0x11. */
  object Adpcm {

    private val StepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

    private val IndexTable: Array[Int] =
      Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

    /** Per-clip statistics over the DECODED samples: full + strided
      * sums (global sample index across blocks), like [[Wav.WavStats]]. */
    final case class AdpcmStats(media_id: Long, sample_rate: Int,
      n_blocks: Int, n_samples: Long,
      sum_amp: Long, sum_abs: Long, s_sum_amp: Long, s_sum_abs: Long)

    /** One IMA decode step: returns the new (predictor, index) after
      * consuming nibble `n`. */
    private def step(pred: Int, idx: Int, n: Int): (Int, Int) = {
      val s = StepTable(idx)
      var diff = s >> 3
      if ((n & 1) != 0) diff += s >> 2
      if ((n & 2) != 0) diff += s >> 1
      if ((n & 4) != 0) diff += s
      val p = if ((n & 8) != 0) pred - diff else pred + diff
      val clamped = math.max(-32768, math.min(32767, p))
      val i2 = math.max(0, math.min(88, idx + IndexTable(n)))
      (clamped, i2)
    }

    /** Serialize a mono IMA-ADPCM WAV: `blocks` blocks of `blockAlign`
      * bytes each; block b starts from `header(b)` = (predictor,
      * stepIndex) and carries `(blockAlign - 4) * 2` nibbles from
      * `nibble(b, k)` (k is 1-based within the block, values 0-15). */
    def build(sampleRate: Int, blockAlign: Int, blocks: Int,
        header: Int => (Int, Int), nibble: (Int, Int) => Int): Array[Byte] = {
      val spb = (blockAlign - 4) * 2 + 1 // header sample + nibble samples
      val dataLen = blocks * blockAlign
      val buf = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(4 + 28 + 12 + 8 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(20)
        .putShort(0x11).putShort(1) // IMA ADPCM, mono
        .putInt(sampleRate)
        .putInt(sampleRate * blockAlign / spb) // avg byte rate
        .putShort(blockAlign.toShort).putShort(4) // bits per (coded) sample
        .putShort(2).putShort(spb.toShort) // cbSize, samples per block
      buf.put("fact".getBytes("US-ASCII")).putInt(4)
        .putInt(blocks * spb)
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var b = 0
      while (b < blocks) {
        val (pred, idx) = header(b)
        buf.putShort(pred.toShort).put(idx.toByte).put(0.toByte)
        var j = 0
        while (j < blockAlign - 4) {
          val lo = nibble(b, 2 * j + 1) & 0xf
          val hi = nibble(b, 2 * j + 2) & 0xf
          buf.put((lo | (hi << 4)).toByte)
          j += 1
        }
        b += 1
      }
      buf.array()
    }

    /** REAL IMA encoder: quantize mono PCM16 into ADPCM blocks. The
      * per-block header captures the first sample + carried index; the
      * remaining `(blockAlign-4)*2` samples in each block quantize to
      * sign + 3 magnitude bits against the adaptive step, with the
      * encoder mirroring the decoder's state transitions exactly. */
    def encode(pcm: Array[Short], sampleRate: Int, blockAlign: Int): Array[Byte] = {
      val nibblesPerBlock = (blockAlign - 4) * 2
      val spb = nibblesPerBlock + 1
      val blocks = (pcm.length + spb - 1) / spb
      val headers = new Array[(Int, Int)](blocks)
      val nibbles = Array.ofDim[Byte](blocks, nibblesPerBlock)
      var idx = 0
      var b = 0
      while (b < blocks) {
        var pred = if (b * spb < pcm.length) pcm(b * spb).toInt else 0
        headers(b) = (pred, idx)
        var k = 0
        while (k < nibblesPerBlock) {
          val pos = b * spb + 1 + k
          val target = if (pos < pcm.length) pcm(pos).toInt else pred
          val s = StepTable(idx)
          var diff = target - pred
          var n = 0
          if (diff < 0) { n = 8; diff = -diff }
          if (diff >= s) { n |= 4; diff -= s }
          if (diff >= (s >> 1)) { n |= 2; diff -= s >> 1 }
          if (diff >= (s >> 2)) n |= 1
          val (p2, i2) = step(pred, idx, n)
          pred = p2; idx = i2
          nibbles(b)(k) = n.toByte
          k += 1
        }
        b += 1
      }
      build(sampleRate, blockAlign, blocks,
        header = headers(_), nibble = (b, k) => nibbles(b)(k - 1))
    }

    /** Decode every block of a mono IMA-ADPCM WAV; Iterator.empty for
      * anything else (foreign format tags, stereo, truncation). */
    def stats(item: MediaItem, stride: Int): Iterator[AdpcmStats] = {
      val p = item.payload
      if (p.length < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
        return Iterator.empty
      def le16(o: Int) = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32(o: Int) = le16(o) | (le16(o + 2) << 16)
      var (o, rate, blockAlign, dataOff, dataLen) = (12, -1, -1, -1, -1)
      while (o + 8 <= p.length && (rate < 0 || dataOff < 0)) {
        val (id, len) = (new String(p, o, 4, "US-ASCII"), le32(o + 4))
        if (len < 0) return Iterator.empty // crafted length: never walk back
        if (id == "fmt " && o + 24 <= p.length) {
          if (le16(o + 8) != 0x11 || le16(o + 10) != 1 || le16(o + 22) != 4)
            return Iterator.empty
          rate = le32(o + 12); blockAlign = le16(o + 20)
        } else if (id == "data") { dataOff = o + 8; dataLen = len }
        o += 8 + len + (len & 1)
      }
      if (rate < 0 || blockAlign < 5 || dataOff < 0 ||
        p.length < dataOff.toLong + dataLen || dataLen % blockAlign != 0)
        return Iterator.empty
      val blocks = dataLen / blockAlign
      val spb = (blockAlign - 4) * 2 + 1
      var (sa, sb, ssa, ssb) = (0L, 0L, 0L, 0L)
      var b = 0
      while (b < blocks) {
        val base = dataOff + b * blockAlign
        var pred = le16(base).toShort.toInt
        var idx = p(base + 2) & 0xff
        if (idx > 88) return Iterator.empty
        var s = b.toLong * spb // global sample index
        sa += pred; sb += math.abs(pred)
        if (s % stride == 0) { ssa += pred; ssb += math.abs(pred) }
        var j = 0
        while (j < blockAlign - 4) {
          val byte = p(base + 4 + j) & 0xff
          var half = 0
          while (half < 2) {
            val n = if (half == 0) byte & 0xf else byte >> 4
            val (p2, i2) = step(pred, idx, n)
            pred = p2; idx = i2
            s += 1
            sa += pred; sb += math.abs(pred)
            if (s % stride == 0) { ssa += pred; ssb += math.abs(pred) }
            half += 1
          }
          j += 1
        }
        b += 1
      }
      Iterator.single(AdpcmStats(item.media_id, rate, blocks,
        blocks.toLong * spb, sa, sb, ssa, ssb))
    }

    /** Distributed compressed-audio decode: decoder state per
      * PARTITION, full + strided sums in the decode walk. */
    def decodeStats(media: Dataset[MediaItem], stride: Int): Dataset[AdpcmStats] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition decoder init would go here (once, not per row)
        it.flatMap(stats(_, stride))
      }
    }
  }

  /** Toy deterministic VIDEO CONTAINER (`GVID`) — the stand-in for an
    * MP4/MKV demuxer this environment cannot ship. The container is a
    * REAL binary format (magic + LE header + per-frame records) built
    * and re-parsed byte-for-byte, so the Spark-side plumbing — binary
    * payload column, per-partition demuxer loop, frame explosion WITHOUT
    * copying payload bytes per frame — is exactly what a javacv/ffmpeg
    * demuxer would ride; only the codec bitstream is fake (a checksum
    * standing in for compressed frame data).
    *
    * Layout: `GVID` magic · width LE16 · height LE16 · fps LE16 ·
    * n_frames LE32 · then per frame: keyframe flag byte · checksum LE32.
    */
  object Gvid {
    private val Magic = Array('G', 'V', 'I', 'D').map(_.toByte)

    /** One demuxed (sampled) frame; pts derives from fps at parse time. */
    final case class VideoFrame(media_id: Long, width: Int, height: Int,
      fps: Int, n_frames: Int, frame_idx: Int, is_key: Int,
      checksum: Long, pts_micros: Long)

    /** Serialize a container: header + `checksums.length` frame records;
      * every `keyEvery`-th frame is flagged as a keyframe. */
    def build(width: Int, height: Int, fps: Int, checksums: Seq[Long],
        keyEvery: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer
        .allocate(14 + 5 * checksums.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(Magic)
      buf.putShort(width.toShort).putShort(height.toShort).putShort(fps.toShort)
      buf.putInt(checksums.length)
      checksums.zipWithIndex.foreach { case (cs, i) =>
        buf.put(if (i % keyEvery == 0) 1.toByte else 0.toByte)
        buf.putInt((cs & 0xffffffffL).toInt)
      }
      buf.array()
    }

    /** Demux one container into its sampled frames (every `stride`-th).
      * The stride applies DURING the byte walk — unsampled frame records
      * are skipped, never materialized, which is what keeps a 1000-frame
      * payload from exploding 1000 rows when 10 are wanted. Non-GVID
      * payloads yield no frames (a demuxer skips what it cannot read). */
    def parse(item: MediaItem, stride: Int): Iterator[VideoFrame] = {
      val p = item.payload
      if (p.length < 14 || !p.take(4).sameElements(Magic)) return Iterator.empty
      val buf = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.position(4)
      val (w, h, fps) = (buf.getShort & 0xffff, buf.getShort & 0xffff, buf.getShort & 0xffff)
      val n = buf.getInt
      // a truncated container is skipped exactly like a wrong-magic one
      // (a demuxer skips what it cannot read) — one corrupt payload must
      // not abort the whole explodeFrames job
      if (n < 0 || p.length < 14 + 5 * n.toLong) return Iterator.empty
      Iterator.range(0, n, math.max(1, stride)).map { i =>
        val off = 14 + 5 * i
        val key = p(off) & 0xff
        val cs = ((p(off + 1) & 0xffL)) | ((p(off + 2) & 0xffL) << 8) |
          ((p(off + 3) & 0xffL) << 16) | ((p(off + 4) & 0xffL) << 24)
        VideoFrame(item.media_id, w, h, fps, n, i, key, cs,
          i.toLong * 1000000L / math.max(1, fps))
      }
    }

    /** Demux a media Dataset: one row per sampled frame, typed schema,
      * demuxer state per PARTITION (the batch shape a native demuxer
      * needs — open/close contexts once, not per row). */
    def explodeFrames(media: Dataset[MediaItem], stride: Int): Dataset[VideoFrame] = {
      import media.sparkSession.implicits._
      media.mapPartitions { it =>
        // per-partition demuxer init would go here (once, not per row)
        it.flatMap(parse(_, stride))
      }
    }
  }
}
