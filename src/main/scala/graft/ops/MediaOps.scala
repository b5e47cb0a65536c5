package graft.ops

import java.nio.ByteBuffer
import java.nio.ByteOrder.{BIG_ENDIAN, LITTLE_ENDIAN}
import java.nio.charset.StandardCharsets.US_ASCII
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
  *
  * Each format is written in one place and read in one place: PNG by
  * `pngEncode` (whose first 33 bytes are `pngHeader`), GIF by
  * `gifEncodeFrames`, WAV by `wavHeader` and MP4 by `mp4Header`; headers
  * are read by `sniffImage`, `sniffWav` and `sniffMp4`, tried in that
  * order by `sniff`, and rasters by `rgbBytes`, fingerprinted by
  * `rasterHash`. `assetOf` is the one seed chain of the synthetic assets.
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
  private def assetDims(seed: Long): (Int, Int) =
    (16 + (seed % 1024).toInt, 16 + (seed / 1024 % 1024).toInt)
  /** PNG assets carry REAL pixel data, so their dims stay small enough
    * that one stored-deflate block holds a whole image (h·(1+3w) ≤ 65535
    * ⇒ w,h ≤ 143) and per-pixel oracle replay stays cheap. */
  def pngDims(seed: Long): (Int, Int) =
    (16 + (seed % 128).toInt, 16 + (seed / 128 % 128).toInt)
  def wavChannels(seed: Long): Int = 1 + (seed % 2).toInt
  def wavSampleRate(seed: Long): Int = 8000 + ((seed % 8) * 4000).toInt
  private def mp4Frames(seed: Long): Int = 1 + (seed / 3 % 300).toInt
  /** GIF-video frames carry REAL pixel data per frame, so dims stay tiny
    * (8..23) and counts modest (1..120 → 1..4 sampled at stride 30):
    * the m5 oracle replays every sampled frame pixel by pixel. */
  def gifDims(seed: Long): (Int, Int) =
    (8 + (seed % 16).toInt, 8 + (seed / 16 % 16).toInt)
  private def gifFrameCount(seed: Long): Int = 1 + (seed / 256 % 120).toInt

  // Every multi-byte field is written and read through a
  // `java.nio.ByteBuffer` in the format's byte order (big-endian by
  // default; WAV and GIF are little-endian); four-char codes and
  // signatures go through these two.
  private def tag(s: String): Array[Byte] = s.getBytes(US_ASCII)
  /** Whether `b` holds the ASCII `tag` at `off` (false past the end). */
  private def tagAt(b: Array[Byte], off: Int, tag: String): Boolean =
    off + tag.length <= b.length && tag.indices.forall(i => b(off + i) == tag.charAt(i).toByte)

  /** Canonical 44-byte PCM RIFF/WAVE header (fmt + data chunk headers)
    * with the given channel count and sample rate — what any WAV metadata
    * sniffer reads. `totalLen` sizes the RIFF/data fields honestly. */
  def wavHeader(channels: Int, sampleRate: Int, totalLen: Int): Array[Byte] =
    ByteBuffer.allocate(44).order(LITTLE_ENDIAN)
      .put(tag("RIFF")).putInt(totalLen - 8).put(tag("WAVE"))
      .put(tag("fmt ")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // bytes per second
      .putShort((channels * 2).toShort).putShort(16.toShort) // block align, bits
      .put(tag("data")).putInt(totalLen - 44)
      .array

  /** Minimal real MP4 box prefix: ftyp(16) + moov{ mvhd(108) + trak{
    * tkhd(92) } } = 232 bytes. mvhd carries timescale=30 and
    * duration=frames (so frame count reads straight out of the real box
    * at 30 fps), tkhd carries width/height as 16.16 fixed point. */
  private val Mp4HeaderLen = 232 // ftyp(16) + moov(8 + mvhd 108 + trak(8 + tkhd 92))
  def mp4Header(w: Int, h: Int, frames: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(Mp4HeaderLen) // big-endian; skipped fields stay zero
    def box(size: Int, typ: String): Unit = b.putInt(size).put(tag(typ))
    def skip(n: Int): Unit = b.position(b.position() + n)
    box(16, "ftyp"); b.put(tag("isom")).putInt(512) // brand + version
    box(8 + 108 + 8 + 92, "moov")
    box(108, "mvhd")
    skip(4 + 8) // version+flags, creation + modification
    b.putInt(30) // timescale: 30 ticks/s
    b.putInt(frames) // duration in ticks = frame count at 30 fps
    b.putInt(0x00010000) // rate 1.0
    skip(2 + 2 + 8) // volume, reserved
    skip(36) // matrix (identity omitted — zeros are fine for a sniffer)
    skip(24 + 4) // predefined + next track id
    box(8 + 92, "trak")
    box(92, "tkhd")
    skip(4 + 8) // version+flags, creation + modification
    b.putInt(1) // track id
    skip(4) // reserved
    b.putInt(frames) // duration
    skip(8 + 2 + 2 + 2 + 2 + 36) // reserved, layer, group, volume, rsvd, matrix
    b.putInt(w << 16).putInt(h << 16) // 16.16 fixed
    b.array
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
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val zlib = ByteBuffer.allocate(2 + 5 + raw.length + 4).order(LITTLE_ENDIAN)
      .put(0x78.toByte).put(0x01.toByte) // CMF/FLG, (0x7801 % 31 == 0)
      .put(0x01.toByte) // final stored block
      .putShort(raw.length.toShort).putShort((~raw.length).toShort) // LEN, NLEN
      .put(raw)
      .order(BIG_ENDIAN).putInt(adler.getValue.toInt)
    Array.concat(pngHeader(w, h), pngChunk("IDAT", zlib.array),
      pngChunk("IEND", Array.emptyByteArray))
  }

  /** The PNG file signature + IHDR chunk of a truecolor 8-bit w×h image
    * — exactly what any conforming dimension sniffer reads, and the first
    * 33 bytes of `pngEncode`. */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte) // bit depth 8, truecolor
    // compression = filter = interlace = 0 (already zeroed)
    PngSignature ++ pngChunk("IHDR", ihdr.array)
  }

  private val PngSignature = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** One PNG chunk: big-endian data length, type, data, and the CRC-32
    * of type + data. */
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + data.length + 4).putInt(data.length).put(tag(typ)).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(b.array, 4, 4 + data.length)
    b.putInt(crc.getValue.toInt).array
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
      s"GIF dimensions are unsigned 16-bit: ${w}x$h") // putShort would truncate
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    val out = new java.io.ByteArrayOutputStream(w * h * nFrames * 2 + 800)
    val screen = ByteBuffer.allocate(13 + 3 * 256).order(LITTLE_ENDIAN)
      .put(tag("GIF87a")).putShort(w.toShort).putShort(h.toShort)
      .put(0xF7.toByte) // global color table, 8-bit, 256 entries
      .put(0.toByte).put(0.toByte) // background index, aspect
    (0 until 256).foreach(i => screen.put(i.toByte).put(i.toByte).put(i.toByte)) // gray ramp
    out.write(screen.array)
    // every frame's image descriptor is the same: full-screen, no local table
    val image = ByteBuffer.allocate(11).order(LITTLE_ENDIAN)
      .put(0x2C.toByte).putShort(0.toShort).putShort(0.toShort)
      .putShort(w.toShort).putShort(h.toShort).put(0.toByte)
      .put(8.toByte) // LZW minimum code size → 9-bit codes
      .array
    var f = 0
    while (f < nFrames) {
      out.write(image)
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
    def flushBlock(): Unit =
      if (blockLen > 0) {
        out.write(blockLen); out.write(block, 0, blockLen); blockLen = 0
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
    out.write(0) // block terminator
  }

  /** WAV metadata from real header bytes: walk RIFF chunks to `fmt `,
    * read channels + sample rate. None when not a RIFF/WAVE stream. */
  def sniffWav(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 36) return None
    val le = ByteBuffer.wrap(b).order(LITTLE_ENDIAN)
    if (!tagAt(b, 0, "RIFF") || !tagAt(b, 8, "WAVE")) return None
    var p = 12
    while (p + 8 <= b.length) {
      val size = le.getInt(p + 4) & 0xFFFFFFFFL
      if (tagAt(b, p, "fmt ") && p + 16 <= b.length)
        return Some((le.getShort(p + 10) & 0xFFFF, le.getInt(p + 12)))
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
    val be = ByteBuffer.wrap(b)
    if (!tagAt(b, 4, "ftyp")) return None
    var frames = 0
    var w = 0
    var h = 0
    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 8) return
      var p = start
      while (p + 8 <= end) {
        val size = be.getInt(p) // a size ≥ 2^31 reads negative: fails `size < 8`
        if (size < 8 || size > end - p) return
        if (tagAt(b, p + 4, "moov") || tagAt(b, p + 4, "trak"))
          walk(p + 8, p + size, depth + 1)
        else if (tagAt(b, p + 4, "mvhd") && p + 28 <= end) {
          val timescale = be.getInt(p + 20)
          val duration = be.getInt(p + 24)
          if (timescale != 0) frames = duration // ticks ARE frames at ts=30fps convention
        } else if (tagAt(b, p + 4, "tkhd") && p + 92 <= end) {
          w = be.getInt(p + 84) >>> 16
          h = be.getInt(p + 88) >>> 16
        }
        p += size
      }
    }
    walk(0, b.length, 0)
    if (frames == 0 && w == 0) None else Some((w, h, math.max(1, frames)))
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
        val (ref, seed, mime) = assetOf(id)
        val bytes =
          if (mime == "image/png") {
            // a COMPLETE decodable PNG: real pixels, closed-form length
            val (w, h) = pngDims(seed)
            pngEncode(w, h, seed)
          } else {
            val len =
              if (mime == "video/mp4") 256 + (seed % 192).toInt
              else 64 + (seed % 192).toInt
            val b = Array.tabulate(len)(j => (pngPixel(seed, j) - 128).toByte)
            val (w, h) = assetDims(seed)
            val header = mime match {
              case "audio/wav" => wavHeader(wavChannels(seed), wavSampleRate(seed), len)
              case _           => mp4Header(w, h, mp4Frames(seed))
            }
            System.arraycopy(header, 0, b, 0, header.length)
            b
          }
        MediaRow(ref, bytes, mime)
      }
  }

  /** Doc `id`'s synthetic asset: (media_ref, seed, mime). The seed is the
    * base-31 poly mod 2^32 over the id's digits, and `seed % 3` picks the
    * mime: PNG, WAV or MP4 (whose docs also get a GIF rendition). */
  private def assetOf(id: String): (String, Long, String) = {
    val seed = Dedup.shingleHash(id)
    val mime = (seed % 3) match {
      case 0 => "image/png"
      case 1 => "audio/wav"
      case _ => "video/mp4"
    }
    (graft.SgmlExtract.AssetPrefix + id + graft.SgmlExtract.AssetSuffix, seed, mime)
  }

  /** Image dimension sniffing from REAL header bytes — pure JVM, no codec
    * libraries: PNG (IHDR), GIF87a/89a (logical screen descriptor,
    * little-endian), JPEG (segment scan to the first SOFn frame header).
    * Returns (mime, width, height); None when no image signature matches.
    * Runs per row inside mapPartitions — narrow, no decode. */
  def sniffImage(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b == null) return None
    val be = ByteBuffer.wrap(b)
    if (b.length >= 24 && java.util.Arrays.equals(b, 0, 4, PngSignature, 0, 4) &&
        tagAt(b, 12, "IHDR"))
      Some(("image/png", be.getInt(16), be.getInt(20)))
    else if (b.length >= 10 && (tagAt(b, 0, "GIF87a") || tagAt(b, 0, "GIF89a"))) {
      val le = be.order(LITTLE_ENDIAN)
      Some(("image/gif", le.getShort(6) & 0xFFFF, le.getShort(8) & 0xFFFF))
    } else if (b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      // JPEG: walk marker segments to the first SOFn (C0–CF minus the
      // non-frame C4/C8/CC); SOF layout = len(2) precision(1) h(2) w(2)
      var i = 2
      while (i + 9 < b.length && (b(i) & 0xFF) == 0xFF) {
        val marker = b(i + 1) & 0xFF
        if (marker == 0xFF) i += 1 // fill byte
        else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) i += 2 // standalone
        else {
          val segLen = be.getShort(i + 2) & 0xFFFF
          if (segLen < 2) return None
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
            return Some(("image/jpeg", be.getShort(i + 7) & 0xFFFF, be.getShort(i + 5) & 0xFFFF))
          i += 2 + segLen
        }
      }
      None
    } else None
  }

  /** The one header sniff chain: `sniffImage`, then `sniffWav`, then
    * `sniffMp4`. The header's fields as a `MediaMeta` with the sniffed
    * mime (n_frames 1 unless MP4; no media_ref, no feature); None when
    * no header matches. */
  private[graft] def sniff(b: Array[Byte]): Option[MediaMeta] = {
    def meta(mime: String, w: Int = 0, h: Int = 0, frames: Int = 1,
        channels: Int = 0, rate: Int = 0) =
      MediaMeta(null, mime, b.length, w, h, frames, channels, rate, Array.emptyFloatArray)
    sniffImage(b).map { case (mime, w, h) => meta(mime, w, h) }
      .orElse(sniffWav(b).map { case (ch, sr) => meta("audio/wav", channels = ch, rate = sr) })
      .orElse(sniffMp4(b).map { case (w, h, fr) => meta("video/mp4", w, h, fr) })
  }

  /** Header-level metadata pass (the m1 shape): `sniff` reads PNG/GIF/
    * JPEG dimensions, WAV channels + sample rate, or the MP4 mvhd frame
    * count + tkhd dimensions out of the actual bytes, no codec libraries
    * needed — a metadata scan must not pay full decode. The asset's own
    * mime is kept. Content decode lives in `resizePixels` (real pixels via
    * ImageIO) and `audioStats` (real PCM via javax.sound); only VIDEO
    * frame decode is a stub (no AV codecs in the JDK). The 8-dim
    * "feature" here is a byte histogram, and unrecognized payloads fall
    * back to hash-derived dimensions. Batched per partition like a
    * Pandas UDF batch. */
  def decodeStub(assets: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { m =>
        val feat = new Array[Float](8)
        var i = 0
        while (i < m.bytes.length) {
          feat(i % 8) += (m.bytes(i) & 0xFF) / 255.0f
          i += 1
        }
        sniff(m.bytes) match {
          case Some(s) => s.copy(media_ref = m.media_ref, mime = m.mime, feature = feat)
          case None => // STUB fallback for unrecognized payloads
            // base-31 poly over byte + 128 (signed bytes shifted to 0..255) mod P
            var h = 0L
            i = 0
            while (i < m.bytes.length) { h = (h * 31 + (m.bytes(i) + 128)) % MediaP; i += 1 }
            val frames = if (m.mime.startsWith("video")) 1 + (h / 1048576 % 300).toInt else 1
            MediaMeta(m.media_ref, m.mime, m.bytes.length, 16 + (h % 1024).toInt,
              16 + (h / 1024 % 1024).toInt, frames, 0, 0, feat)
        }
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
    if (img == null) None else Some((img.getWidth, img.getHeight, rgbBytes(img)))
  }

  /** A decoded raster as row-major RGB bytes. */
  private def rgbBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
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
    out
  }

  /** The raster hash m2 and m5 share: resample a w×h RGB raster to
    * rw×rh by nearest neighbor (integer source indices sx=⌊rx·w/rw⌋,
    * sy=⌊ry·h/rh⌋ — exact, SQL-replicable; rw=w, rh=h is the raster
    * itself) and fold the channel values in row-major order with the
    * base-31 poly mod P the oracles replay. */
  private def rasterHash(w: Int, h: Int, px: Array[Byte], rw: Int, rh: Int): Long = {
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
    hash
  }

  /** m2's REAL pixel path: decode each image via `decodeImage`, resize by
    * nearest-neighbor over the ACTUAL raster, and fingerprint the resized
    * pixel stream with `rasterHash`. Geometry matches `resizeMeta` bit
    * for bit (same fixed-point-via-double scale). Non-decodable payloads
    * are skipped (flatMap) — at scale this stage follows the m1 metadata
    * pass, which already classified them. Narrow mapPartitions, no
    * shuffle. */
  def resizePixels(assets: Dataset[MediaRow],
      maxW: Int = 256, maxH: Int = 256): DataFrame = {
    import assets.sparkSession.implicits._
    assets.flatMap { m =>
      decodeImage(m.bytes).map { case (w, h, px) =>
        val s = math.min(math.min(maxW * 1000000L.toDouble / w,
          maxH * 1000000L.toDouble / h), 1000000.0)
        val rw = math.max(1, (w * s / 1000000L).toInt)
        val rh = math.max(1, (h * s / 1000000L).toInt)
        (m.media_ref, w, h, rw, rh, rasterHash(w, h, px, rw, rh))
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
        val (ref, seed, mime) = assetOf(id)
        if (mime != "video/mp4") None // GIF twin exists only for the video docs
        else {
          val (w, h) = gifDims(seed)
          Some(MediaRow(ref, gifEncodeFrames(w, h, seed, gifFrameCount(seed)), "video/gif"))
        }
      }
  }

  /** REAL video-frame decode (m5): sample every `stride`-th frame up to
    * `maxFrames` (same policy as `sampleFrames`), decode ONLY those frames
    * via ImageIO's multi-image reader, and fingerprint each decoded raster
    * with `rasterHash` at its own size (m2's hash without the resize).
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
            val (w, h) = (img.getWidth, img.getHeight)
            (m.media_ref, nFrames.toLong, fi.toLong, rasterHash(w, h, rgbBytes(img), w, h))
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
