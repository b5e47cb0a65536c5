package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * Decode status by modality:
  *  - images: REAL — assets are complete PNGs (`pngEncode`) decoded via
  *    `javax.imageio` (pure JDK); `resizePixels` resamples actual pixels.
  *  - audio: REAL — `javax.sound.sampled` parses the WAV and `audioStats`
  *    folds the PCM samples.
  *  - video: frame decode is REAL for the JDK-decodable container —
  *    multi-frame GIF (`gifEncodeFrames` → `videoFrameHashes` decodes the
  *    SAMPLED frames' actual rasters via ImageIO's multi-image reader;
  *    the m5 oracle replays every sampled frame's pixels). MP4 stays
  *    metadata-only (`sniffMp4` box walk feeding `sampleFrames`): its
  *    codecs (H.264 etc.) do not exist in a pure JDK — that single codec
  *    gap, not the Spark plumbing, is the remaining stub.
  * Everything Spark-side is real and tested either way: schema, batch
  * iteration shape (mapPartitions over row batches ≈ the Pandas-UDF
  * batch contract), partitioning, and the join back to extracted spans.
  */
object MediaOps {

  final case class MediaRow(media_ref: String, bytes: Array[Byte], mime: String)
  final case class MediaMeta(
      media_ref: String, mime: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int,
      channels: Int, sample_rate: Int, feature: Array[Float])

  // Closed-form generator/stub constants (shared with the m1-m3 DuckDB
  // oracles): all arithmetic is mod-P integer math over the decimal
  // doc_id string — no PRNG stream, no wrapping 64-bit multiply — so the
  // oracle recomputes byte lengths, dimensions and frame counts in SQL.
  val MediaP = 4294967311L // prime > 2^32 (same as Dedup.HashP)
  val MediaK = 2654435761L // Knuth multiplicative constant

  /** Closed-form metadata for writer-generated assets (shared with the
    * m1/m2/m3 oracles, which recompute these from the seed in SQL while
    * the Spark side reads them back out of the REAL header bytes). */
  def assetDims(seed: Long): (Int, Int) =
    (16 + (seed % 1024).toInt, 16 + (seed / 1024 % 1024).toInt)
  /** PNG assets carry REAL pixel data, so their dims stay small enough
    * that one stored-deflate block holds a whole image (h·(1+3w) ≤ 65535
    * ⇒ w,h ≤ 143) and per-pixel oracle replay stays cheap. */
  def pngDims(seed: Long): (Int, Int) =
    (16 + (seed % 128).toInt, 16 + (seed / 128 % 128).toInt)
  def wavChannels(seed: Long): Int = 1 + (seed % 2).toInt
  def wavSampleRate(seed: Long): Int = 8000 + ((seed % 8) * 4000).toInt
  def mp4Frames(seed: Long): Int = 1 + (seed / 3 % 300).toInt
  /** GIF-video frames carry REAL pixel data per frame, so dims stay tiny
    * (8..23) and counts modest (1..120 → 1..4 sampled at stride 30):
    * the m5 oracle replays every sampled frame pixel by pixel. */
  def gifDims(seed: Long): (Int, Int) =
    (8 + (seed % 16).toInt, 8 + (seed / 16 % 16).toInt)
  def gifFrameCount(seed: Long): Int = 1 + (seed / 256 % 120).toInt

  /** Canonical 44-byte PCM RIFF/WAVE header (fmt + data chunk headers)
    * with the given channel count and sample rate — what any WAV metadata
    * sniffer reads. `totalLen` sizes the RIFF/data fields honestly. */
  def wavHeader(channels: Int, sampleRate: Int, totalLen: Int): Array[Byte] = {
    val out = new Array[Byte](44)
    def ascii(off: Int, s: String): Unit = {
      var i = 0
      while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def le32(off: Int, v: Long): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
      out(off + 2) = (v >>> 16).toByte; out(off + 3) = (v >>> 24).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
    }
    val bytesPerSec = sampleRate.toLong * channels * 2
    ascii(0, "RIFF"); le32(4, totalLen - 8L); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16L)
    le16(20, 1) // PCM
    le16(22, channels); le32(24, sampleRate.toLong)
    le32(28, bytesPerSec); le16(32, channels * 2); le16(34, 16) // block align, bits
    ascii(36, "data"); le32(40, totalLen - 44L)
    out
  }

  /** Minimal real MP4 box prefix: ftyp(16) + moov{ mvhd(108) + trak{
    * tkhd(92) } } = 240 bytes. mvhd carries timescale=30 and
    * duration=frames (so frame count reads straight out of the real box
    * at 30 fps), tkhd carries width/height as 16.16 fixed point. */
  val Mp4HeaderLen = 232 // ftyp(16) + moov(8 + mvhd 108 + trak(8 + tkhd 92))
  def mp4Header(w: Int, h: Int, frames: Int): Array[Byte] = {
    val out = new Array[Byte](Mp4HeaderLen)
    var p = 0
    def ascii(s: String): Unit = { var i = 0; while (i < s.length) { out(p) = s.charAt(i).toByte; p += 1; i += 1 } }
    def be32(v: Long): Unit = {
      out(p) = (v >>> 24).toByte; out(p + 1) = (v >>> 16).toByte
      out(p + 2) = (v >>> 8).toByte; out(p + 3) = v.toByte; p += 4
    }
    def skip(n: Int): Unit = p += n // zeroed fields
    be32(16L); ascii("ftyp"); ascii("isom"); be32(512L) // brand + version
    be32(8L + 108 + 8 + 92); ascii("moov")
    be32(108L); ascii("mvhd")
    skip(4) // version+flags
    skip(8) // creation + modification
    be32(30L) // timescale: 30 ticks/s
    be32(frames.toLong) // duration in ticks = frame count at 30 fps
    be32(0x00010000L) // rate 1.0
    skip(2 + 2 + 8) // volume, reserved
    skip(36) // matrix (identity omitted — zeros are fine for a sniffer)
    skip(24 + 4) // predefined + next track id
    be32(8L + 92); ascii("trak")
    be32(92L); ascii("tkhd")
    skip(4) // version+flags
    skip(8) // creation + modification
    be32(1L) // track id
    skip(4) // reserved
    be32(frames.toLong) // duration
    skip(8 + 2 + 2 + 2 + 2 + 36) // reserved, layer, group, volume, rsvd, matrix
    be32(w.toLong << 16); be32(h.toLong << 16) // 16.16 fixed
    out
  }

  /** Closed-form channel value at flat raster index `idx` (= (y·w+x)·3+c,
    * row-major RGB) — additive form on purpose: (idx+1)·K ≤ 2^48, so the
    * mod chain stays in int64 for the DuckDB replay (no int128 needed). */
  @inline def pngPixel(seed: Long, idx: Long): Int =
    ((seed + (idx + 1) * MediaK) % MediaP % 256).toInt

  /** A COMPLETE real PNG — signature, IHDR, one IDAT, IEND, all CRCs and
    * the zlib adler32 genuine — whose pixels follow `pngPixel` and whose
    * IDAT uses a single STORED deflate block, so the total byte length is
    * closed-form (68 + h·(1+3w)) and the oracle recomputes it from the
    * seed while `javax.imageio` decodes the file like any other PNG.
    * Truecolor 8-bit, filter 0 on every scanline. */
  def pngEncode(w: Int, h: Int, seed: Long): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + 3 * w)) // filter byte + RGB per row
    var p = 0
    var idx = 0L
    var y = 0
    while (y < h) {
      raw(p) = 0 // filter: None
      p += 1
      var i = 0
      val rowBytes = 3 * w
      while (i < rowBytes) {
        raw(p) = pngPixel(seed, idx).toByte
        p += 1; idx += 1; i += 1
      }
      y += 1
    }
    require(raw.length <= 65535, s"stored deflate block overflow: ${raw.length}")
    val zlib = new Array[Byte](2 + 5 + raw.length + 4)
    zlib(0) = 0x78; zlib(1) = 0x01 // CMF/FLG, (0x7801 % 31 == 0)
    zlib(2) = 0x01 // final stored block
    zlib(3) = raw.length.toByte; zlib(4) = (raw.length >>> 8).toByte
    zlib(5) = (~raw.length).toByte; zlib(6) = ((~raw.length) >>> 8).toByte
    System.arraycopy(raw, 0, zlib, 7, raw.length)
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val a = adler.getValue
    zlib(zlib.length - 4) = (a >>> 24).toByte
    zlib(zlib.length - 3) = (a >>> 16).toByte
    zlib(zlib.length - 2) = (a >>> 8).toByte
    zlib(zlib.length - 1) = a.toByte
    val out = new java.io.ByteArrayOutputStream(68 + raw.length)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val buf = new Array[Byte](8 + data.length + 4)
      def be32(off: Int, v: Long): Unit = {
        buf(off) = (v >>> 24).toByte; buf(off + 1) = (v >>> 16).toByte
        buf(off + 2) = (v >>> 8).toByte; buf(off + 3) = v.toByte
      }
      be32(0, data.length.toLong)
      var i = 0
      while (i < 4) { buf(4 + i) = typ.charAt(i).toByte; i += 1 }
      System.arraycopy(data, 0, buf, 8, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(buf, 4, 4 + data.length)
      be32(8 + data.length, crc.getValue)
      out.write(buf)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2 // bit depth 8, truecolor
    chunk("IHDR", ihdr)
    chunk("IDAT", zlib)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
  /** Closed-form total length of a `pngEncode` file. */
  def pngByteLen(w: Int, h: Int): Int = 68 + h * (1 + 3 * w)

  /** A COMPLETE real GIF87a — 256-entry grayscale palette, pixel index
    * at (x,y) = `pngPixel(seed, y·w+x)`, LZW stream in "uncompressed"
    * form: 9-bit literal codes with a CLEAR every 254 symbols so the
    * code width never grows. Any conforming decoder (the JDK's ImageIO
    * included) reads the exact closed-form gray values back — the
    * second lossless format through the same `decodeImage` path. */
  def gifEncode(w: Int, h: Int, seed: Long): Array[Byte] =
    gifEncodeFrames(w, h, seed, 1)

  /** Multi-frame GIF87a — the CONTENT-REAL video container (GIF87a
    * permits any number of image blocks; ImageIO's reader exposes them as
    * frames): frame f's pixel at flat index (y·w+x) is
    * `pngPixel(seed, f·w·h + y·w+x)` — one closed-form stream continued
    * across frames, so a frame-decode oracle replays every sampled
    * frame's pixels from the seed alone. Same palette/LZW scheme as the
    * single-frame writer (`gifEncode` = nFrames 1). */
  def gifEncodeFrames(w: Int, h: Int, seed: Long, nFrames: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xFFFF && h <= 0xFFFF,
      s"GIF dimensions are unsigned 16-bit: ${w}x$h") // le16 would truncate
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    val out = new java.io.ByteArrayOutputStream(w * h * nFrames * 2 + 800)
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    out.write("GIF87a".getBytes("ASCII"))
    le16(w); le16(h)
    out.write(0xF7) // global color table, 8-bit, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    var f = 0
    while (f < nFrames) {
      out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
      out.write(8) // LZW minimum code size → 9-bit codes
      writeGifLzwBody(out, w, h, seed, f.toLong * w * h)
      f += 1
    }
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** One image block's LZW data (sub-blocked) for `gifEncodeFrames`:
    * 9-bit literal codes, pixel at flat index i = pngPixel(seed, base+i). */
  private def writeGifLzwBody(out: java.io.ByteArrayOutputStream,
      w: Int, h: Int, seed: Long, base: Long): Unit = {
    // pack 9-bit codes LSB-first, flushing 255-byte sub-blocks
    val block = new Array[Byte](255)
    var blockLen = 0
    var bitBuf = 0L
    var bitCnt = 0
    val body = new java.io.ByteArrayOutputStream()
    def flushBlock(): Unit =
      if (blockLen > 0) {
        body.write(blockLen); body.write(block, 0, blockLen); blockLen = 0
      }
    def putCode(c: Int): Unit = {
      bitBuf |= c.toLong << bitCnt
      bitCnt += 9
      while (bitCnt >= 8) {
        block(blockLen) = (bitBuf & 0xFF).toByte
        blockLen += 1
        if (blockLen == 255) flushBlock()
        bitBuf >>>= 8; bitCnt -= 8
      }
    }
    val Clear = 256
    val Eoi = 257
    putCode(Clear)
    var n = 0
    var idx = 0L
    val total = w.toLong * h
    while (idx < total) {
      putCode(pngPixel(seed, base + idx))
      n += 1
      // the decoder's dictionary grows one entry per literal after a
      // clear; reset before it reaches 512 so codes stay 9 bits wide
      if (n == 254 && idx != total - 1) { putCode(Clear); n = 0 }
      idx += 1
    }
    putCode(Eoi)
    if (bitCnt > 0) { // flush the final partial byte
      block(blockLen) = (bitBuf & 0xFF).toByte
      blockLen += 1
    }
    flushBlock()
    body.write(0) // block terminator
    out.write(body.toByteArray)
  }

  /** WAV metadata from real header bytes: walk RIFF chunks to `fmt `,
    * read channels + sample rate. None when not a RIFF/WAVE stream. */
  def sniffWav(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 36) return None
    def ascii(off: Int, s: String): Boolean = {
      var i = 0
      while (i < s.length) { if (b(off + i) != s.charAt(i).toByte) return false; i += 1 }
      true
    }
    @inline def le16(off: Int): Int = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    @inline def le32(off: Int): Long =
      (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
        ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var p = 12
    while (p + 8 <= b.length) {
      val size = le32(p + 4)
      if (ascii(p, "fmt ") && p + 16 <= b.length)
        return Some((le16(p + 10), le32(p + 12).toInt))
      p += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      if (size < 0 || size > b.length) return None
    }
    None
  }

  /** MP4 metadata from real box structure: walk top-level boxes to moov,
    * then children for mvhd (timescale, duration → frames at the embedded
    * timescale treated as fps ticks) and trak/tkhd (16.16 width/height).
    * None when no ftyp/moov signature. */
  def sniffMp4(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b == null || b.length < 16) return None
    def ascii(off: Int, s: String): Boolean = {
      if (off + s.length > b.length) return false
      var i = 0
      while (i < s.length) { if (b(off + i) != s.charAt(i).toByte) return false; i += 1 }
      true
    }
    @inline def be32(off: Int): Long =
      ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
        ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
    if (!ascii(4, "ftyp")) return None
    var frames = 0
    var w = 0
    var h = 0
    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 8) return
      var p = start
      while (p + 8 <= end) {
        val size = be32(p)
        if (size < 8 || p + size > end) return
        if (ascii(p + 4, "moov") || ascii(p + 4, "trak"))
          walk(p + 8, p + size.toInt, depth + 1)
        else if (ascii(p + 4, "mvhd") && p + 28 <= end) {
          val timescale = be32(p + 20)
          val duration = be32(p + 24)
          if (timescale > 0) frames = duration.toInt // ticks ARE frames at ts=30fps convention
        } else if (ascii(p + 4, "tkhd") && p + 92 <= end) {
          w = (be32(p + 84) >>> 16).toInt
          h = (be32(p + 88) >>> 16).toInt
        }
        p += size.toInt
      }
    }
    walk(0, b.length, 0)
    if (frames == 0 && w == 0) None else Some((w, h, math.max(1, frames)))
  }

  /** Minimal real PNG header: 8-byte signature + IHDR chunk (13-byte data,
    * real CRC32) — exactly what any conforming dimension sniffer reads.
    * 33 bytes. */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](33)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { out(i) = sig(i).toByte; i += 1 }
    def be32(off: Int, v: Long): Unit = {
      out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
      out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
    }
    be32(8, 13L) // IHDR data length
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    be32(16, w.toLong); be32(20, h.toLong)
    out(24) = 8 // bit depth
    out(25) = 2 // color type: truecolor
    // compression = filter = interlace = 0 (already zeroed)
    val crc = new java.util.zip.CRC32()
    crc.update(out, 12, 17) // type + data
    be32(29, crc.getValue)
    out
  }

  /** Synthetic deterministic media-asset table derived from the doc_id
    * column of `ids` (no external data): media_ref matches the refs
    * emitted by `wrapDocumentsMarked`. Every asset now carries a REAL format header
    * over the closed-form filler stream — PNG signature + IHDR (real
    * CRC), RIFF/WAVE fmt chunk, or MP4 ftyp/moov/mvhd/tkhd boxes — with
    * closed-form metadata values, so the decode path reads metadata back
    * out of the actual bytes and the oracle recomputes the same values
    * from the seed. Video assets are sized past the 232-byte box prefix. */
  def syntheticAssets(ids: DataFrame): Dataset[MediaRow] = {
    import ids.sparkSession.implicits._
    ids.select(col("doc_id").cast("string"))
      .as[String]
      .map { id =>
        val seed = Dedup.shingleHash(id) // base-31 poly mod 2^32 over digits
        val mime = (seed % 3) match {
          case 0 => "image/png"
          case 1 => "audio/wav"
          case _ => "video/mp4"
        }
        val bytes =
          if (mime == "image/png") {
            // a COMPLETE decodable PNG: real pixels, closed-form length
            val (w, h) = pngDims(seed)
            pngEncode(w, h, seed)
          } else {
            val len =
              if (mime == "video/mp4") 256 + (seed % 192).toInt
              else 64 + (seed % 192).toInt
            val b = new Array[Byte](len)
            var j = 0
            while (j < len) {
              b(j) = (((seed + (j + 1) * MediaK) % MediaP % 256) - 128).toByte
              j += 1
            }
            val (w, h) = assetDims(seed)
            val header = mime match {
              case "audio/wav" => wavHeader(wavChannels(seed), wavSampleRate(seed), len)
              case _           => mp4Header(w, h, mp4Frames(seed))
            }
            System.arraycopy(header, 0, b, 0, header.length)
            b
          }
        MediaRow(graft.SgmlExtract.AssetPrefix + id + graft.SgmlExtract.AssetSuffix,
          bytes, mime)
      }
  }

  /** Image dimension sniffing from REAL header bytes — pure JVM, no codec
    * libraries: PNG (IHDR), GIF87a/89a (logical screen descriptor,
    * little-endian), JPEG (segment scan to the first SOFn frame header).
    * Returns (mime, width, height); None when no image signature matches
    * (the caller falls back to the documented stub). Runs per row inside
    * mapPartitions — narrow, allocation-free. */
  def sniffImage(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b == null) return None
    @inline def u8(i: Int): Int = b(i) & 0xFF
    @inline def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    @inline def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("image/png", be32(16), be32(20)))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("image/gif", le16(6), le16(8)))
    else if (b.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      // JPEG: walk marker segments to the first SOFn (C0–CF minus the
      // non-frame C4/C8/CC); SOF layout = len(2) precision(1) h(2) w(2)
      var i = 2
      while (i + 9 < b.length && u8(i) == 0xFF) {
        val marker = u8(i + 1)
        if (marker == 0xFF) i += 1 // fill byte
        else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) i += 2 // standalone
        else {
          val segLen = be16(i + 2)
          if (segLen < 2) return None
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
            return Some(("image/jpeg", be16(i + 7), be16(i + 5)))
          i += 2 + segLen
        }
      }
      None
    } else None
  }

  /** Header-level metadata pass (the m1 shape): `sniffImage` (PNG/GIF/
    * JPEG dimensions), `sniffWav` (channels + sample rate), `sniffMp4`
    * (mvhd frame count + tkhd dimensions) all parse the actual bytes, no
    * codec libraries needed — a metadata scan must not pay full decode.
    * Content decode lives in `resizePixels` (real pixels via ImageIO) and
    * `audioStats` (real PCM via javax.sound); only VIDEO frame decode is
    * a stub (no AV codecs in the JDK). The 8-dim "feature" here is a byte
    * histogram, and unrecognized payloads fall back to hash-derived
    * dimensions. Batched per partition like a Pandas UDF batch. */
  def decodeStub(assets: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { m =>
        // base-31 poly over UNSIGNED byte values mod P (oracle-replicable)
        var h = 0L
        var i = 0
        while (i < m.bytes.length) { h = (h * 31 + (m.bytes(i) + 128)) % MediaP; i += 1 }
        var w = 0
        var ht = 0
        var frames = 1
        var channels = 0
        var rate = 0
        sniffImage(m.bytes) match {
          case Some((_, iw, ih)) => w = iw; ht = ih
          case None => sniffWav(m.bytes) match {
            case Some((ch, sr)) => channels = ch; rate = sr
            case None => sniffMp4(m.bytes) match {
              case Some((mw, mh, fr)) => w = mw; ht = mh; frames = fr
              case None => // STUB fallback for unrecognized payloads
                w = 16 + (h % 1024).toInt
                ht = 16 + (h / 1024 % 1024).toInt
                if (m.mime.startsWith("video")) frames = 1 + (h / 1048576 % 300).toInt
            }
          }
        }
        val feat = new Array[Float](8)
        i = 0
        while (i < m.bytes.length) {
          feat(i % 8) += (m.bytes(i) & 0xFF) / 255.0f
          i += 1
        }
        MediaMeta(m.media_ref, m.mime, m.bytes.length, w, ht, frames,
          channels, rate, feat)
      }
    }
  }

  /** REAL image decode — `javax.imageio` (pure JDK, no external codecs):
    * returns (width, height, row-major RGB bytes). None when ImageIO has
    * no reader for the payload (then the caller falls back to header
    * sniffing / the documented stub). getRGB on an sRGB 8-bit source
    * returns the raw channel values — exact for our gamma-less PNGs. */
  def decodeImage(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b == null) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Byte](w * h * 3)
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        out(p) = (rgb >>> 16).toByte; out(p + 1) = (rgb >>> 8).toByte
        out(p + 2) = rgb.toByte
        p += 3; x += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  /** m2's REAL pixel path: decode each image via `decodeImage`, resize by
    * nearest-neighbor over the ACTUAL raster (integer source indices
    * sx=⌊rx·w/rw⌋, sy=⌊ry·h/rh⌋ — exact, SQL-replicable), and fingerprint
    * the resized pixel stream with the base-31 fold the oracles share.
    * Geometry matches `resizeMeta` bit for bit (same fixed-point-via-
    * double scale). Non-decodable payloads are skipped (flatMap) — at
    * scale this stage follows the m1 metadata pass, which already
    * classified them. Narrow mapPartitions, no shuffle. */
  def resizePixels(assets: Dataset[MediaRow],
      maxW: Int = 256, maxH: Int = 256): DataFrame = {
    import assets.sparkSession.implicits._
    assets.flatMap { m =>
      decodeImage(m.bytes).map { case (w, h, px) =>
        val s = math.min(math.min(maxW * 1000000L.toDouble / w,
          maxH * 1000000L.toDouble / h), 1000000.0)
        val rw = math.max(1, (w * s / 1000000L).toInt)
        val rh = math.max(1, (h * s / 1000000L).toInt)
        var hash = 0L
        var ry = 0
        while (ry < rh) {
          val sy = ry * h / rh
          var rx = 0
          while (rx < rw) {
            val sx = rx * w / rw
            val base = (sy * w + sx) * 3
            var c = 0
            while (c < 3) {
              hash = (hash * 31 + (px(base + c) & 0xFF)) % MediaP
              c += 1
            }
            rx += 1
          }
          ry += 1
        }
        (m.media_ref, w, h, rw, rh, hash)
      }
    }.toDF("media_ref", "width", "height", "resized_w", "resized_h",
      "pixel_hash")
  }

  /** REAL audio decode — `javax.sound.sampled` (pure JDK): parse the WAV
    * through AudioSystem, read the frame-aligned PCM stream, fold 16-bit
    * little-endian samples into count / exact sum-of-squares / RMS.
    * Non-audio payloads are skipped. Narrow mapPartitions, no shuffle. */
  def audioStats(assets: Dataset[MediaRow]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.flatMap { m =>
      val decoded =
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(m.bytes))
          val fmt = in.getFormat
          Some((fmt.getChannels, fmt.getSampleRate.toInt, in.readAllBytes()))
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case _: java.io.IOException => None
        }
      decoded.map { case (channels, rate, data) =>
        val n = data.length / 2
        var sumSq = 0L
        var i = 0
        while (i < n) {
          val s = ((data(2 * i) & 0xFF) | (data(2 * i + 1) << 8)).toShort.toLong
          sumSq += s * s
          i += 1
        }
        (m.media_ref, channels, rate, n.toLong, sumSq)
      }
    }.toDF("media_ref", "channels", "sample_rate", "n_samples", "sum_sq")
      // micro-RMS as an exact integer: ⌊√(Σs²/n)·10⁶⌋ — floor of a
      // deterministic IEEE chain replicates across engines (ROUND's
      // half-way tie rules do not, bit-for-bit)
      .withColumn("rms_micro",
        floor(sqrt(col("sum_sq") / col("n_samples")) * lit(1000000.0))
          .cast("long"))
  }

  /** Join decoded media metadata back onto extracted media spans —
    * media side is derived-small here; at scale this is the spans⋈assets
    * equi-join on media_ref (broadcast when the asset dim is small). */
  def enrichSpans(spanRows: DataFrame, meta: DataFrame): DataFrame = {
    spanRows.filter(col("kind") === "media")
      .join(meta, Seq("media_ref"), "left")
  }

  /** Resize GEOMETRY to fit a bounding box, aspect preserved — the
    * metadata-only planning pass (what a scheduler sizes batches with);
    * `resizePixels` applies the same geometry to real pixels. The ×1e6
    * scale factor is fixed-point-via-double: Spark's `/` on integral
    * columns is IEEE double division (integer division is `div`), so the
    * result is bit-deterministic and the truncating int cast below
    * replicates in SQL as FLOOR. Narrow, codegen'd column expressions —
    * no UDF needed for the geometry. */
  def resizeMeta(meta: DataFrame, maxW: Int = 256, maxH: Int = 256): DataFrame = {
    // scale = min(maxW/w, maxH/h, 1), fixed-point ×1e6 carried in doubles
    val s = least(lit(maxW * 1000000L) / col("width"),
      lit(maxH * 1000000L) / col("height"), lit(1000000L))
    meta
      .withColumn("resized_w", greatest(lit(1), (col("width") * s / 1000000L).cast("int")))
      .withColumn("resized_h", greatest(lit(1), (col("height") * s / 1000000L).cast("int")))
  }

  /** Frame sampling for video assets: every `stride`-th frame index up to
    * `maxFrames`, one output row per sampled frame (sequence + explode —
    * the generator shape; at 100 TB each frame row later feeds the decode
    * stage, so sampling BEFORE decode prunes work). */
  def sampleFrames(meta: DataFrame, stride: Int = 30, maxFrames: Int = 8): DataFrame = {
    meta.filter(col("mime").startsWith("video"))
      .withColumn("frame_idx",
        explode(slice(sequence(lit(0), col("n_frames") - 1, lit(stride)), 1, maxFrames)))
      .select(col("media_ref"), col("n_frames"), col("frame_idx"))
  }

  /** The GIF rendition of each video asset (the docs whose `syntheticAssets`
    * mime is video/mp4): a complete multi-frame GIF87a whose every frame is
    * ImageIO-decodable with closed-form pixels — the container that makes
    * video frame decode CONTENT-REAL in a pure JDK (MP4 needs AV codecs the
    * JDK does not ship; GIF is the JDK-native multi-frame format, same role
    * MJPEG-in-AVI would play with a heavier box walk). Same deterministic
    * seed chain as every other asset. */
  def syntheticVideos(ids: DataFrame): Dataset[MediaRow] = {
    import ids.sparkSession.implicits._
    ids.select(col("doc_id").cast("string"))
      .as[String]
      .flatMap { id =>
        val seed = Dedup.shingleHash(id)
        if (seed % 3 != 2) None // GIF twin exists only for the video docs
        else {
          val (w, h) = gifDims(seed)
          Some(MediaRow(
            graft.SgmlExtract.AssetPrefix + id + graft.SgmlExtract.AssetSuffix,
            gifEncodeFrames(w, h, seed, gifFrameCount(seed)), "video/gif"))
        }
      }
  }

  /** REAL video-frame decode (m5): sample every `stride`-th frame up to
    * `maxFrames` (same policy as `sampleFrames`), decode ONLY those frames
    * via ImageIO's multi-image reader, and fingerprint each decoded raster
    * with the shared base-31 RGB fold (same hash as m2's resize path).
    * Frame count comes from the reader — real container metadata, not the
    * generator. Narrow flatMap, no shuffle; decode work is bounded by the
    * sampling policy, never the full frame count — at 100 TB the point of
    * sampling BEFORE decoding. Payloads ImageIO cannot read are skipped
    * (classified upstream by the m1 metadata pass). */
  def videoFrameHashes(assets: Dataset[MediaRow],
      stride: Int = 30, maxFrames: Int = 8): DataFrame = {
    import assets.sparkSession.implicits._
    assets.flatMap { m =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(m.bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); Nil }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val nFrames = reader.getNumImages(true) // real container metadata
          (0 until nFrames by stride).take(maxFrames).map { fi =>
            val img = reader.read(fi)
            var hash = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                hash = (hash * 31 + ((rgb >>> 16) & 0xFF)) % MediaP
                hash = (hash * 31 + ((rgb >>> 8) & 0xFF)) % MediaP
                hash = (hash * 31 + (rgb & 0xFF)) % MediaP
                x += 1
              }
              y += 1
            }
            (m.media_ref, nFrames.toLong, fi.toLong, hash)
          }
        } catch {
          case _: java.io.IOException => Nil
        } finally {
          reader.dispose(); iis.close()
        }
      }
    }.toDF("media_ref", "n_frames", "frame_idx", "frame_hash")
  }
}
