package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary` payloads
 * with typed metadata, plus decode and feature-extract stages.
 *
 * Codec status:
 *  - BMP (24-bit uncompressed) and WAV (PCM16 mono) are REAL zero-dependency
 *    decoders ([[decodeBmp]]/[[decodeWav]]) — header parsing, bottom-up row
 *    order, 4-byte row padding, chunk walking, little-endian samples;
 *  - PNG (8-bit RGB/RGBA, non-interlaced) is a REAL entropy-coded decoder
 *    ([[decodePng]]) on JDK-only primitives: chunk walk + CRC32 verify,
 *    java.util.zip.Inflater for the DEFLATE stream, and all five scanline
 *    filters (None/Sub/Up/Average/Paeth) unfiltered per spec;
 *  - every other container (JPEG/FLAC/H.264...) STAYS A STUB — this
 *    container ships no codec libraries, so [[fakeDecode]] derives a
 *    deterministic fake feature vector from the payload bytes. Swapping in a
 *    real decoder means adding a sniff branch in [[extractFeatures]]
 *    (mapPartitions batch shape, schema and downstream stay identical).
 */
object MultimodalOps {

  final case class Media(media_id: Long, kind: String, payload: Array[Byte],
                         width: Int, height: Int, sample_rate: Int, duration_ms: Long)

  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                                 features: Array[Float])

  /** Deterministic synthetic media table (payload = seeded pseudo-random bytes). */
  def syntheticMedia(spark: SparkSession, n: Long, payloadBytes: Int = 4096): Dataset[Media] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { id =>
        val rng = new scala.util.Random(42L + id) // per-row seed → partition-order independent
        val payload = new Array[Byte](payloadBytes)
        rng.nextBytes(payload)
        val kind = (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
        Media(id, kind, payload,
          width = if (kind == "image") 64 + (id % 8).toInt * 32 else 0,
          height = if (kind == "image") 64 + (id % 5).toInt * 32 else 0,
          sample_rate = if (kind == "audio") 16000 else 0,
          duration_ms = if (kind != "image") 1000 + id % 9000 else 0)
      }
    }
  }

  // -------------------------------------------------------------------------
  // real zero-dependency codecs: BMP (24-bit BI_RGB) and WAV (PCM16 mono)
  // -------------------------------------------------------------------------

  /** Decoded image: pixels row-major TOP-DOWN, 3 bytes/pixel in R,G,B order. */
  final case class BmpImage(width: Int, height: Int, rgb: Array[Byte])
  /** Decoded audio: PCM16 samples as Ints in [-32768, 32767]. */
  final case class WavAudio(sampleRate: Int, samples: Array[Int])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
  private def putLe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def putLe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte; b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
  }

  def isBmp(b: Array[Byte]): Boolean =
    b.length > 54 && b(0) == 'B'.toByte && b(1) == 'M'.toByte
  def isWav(b: Array[Byte]): Boolean =
    b.length > 44 && b(0) == 'R'.toByte && b(1) == 'I'.toByte &&
      b(2) == 'F'.toByte && b(3) == 'F'.toByte && b(8) == 'W'.toByte &&
      b(9) == 'A'.toByte && b(10) == 'V'.toByte && b(11) == 'E'.toByte

  /** 24-bit bottom-up BI_RGB BMP. `rgb(x, y)` is queried top-down; rows are
    * written bottom-up with BGR byte order and 4-byte padding, per spec. */
  def encodeBmp(width: Int, height: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = (width * 3 + 3) & ~3
    val dataSize = rowBytes * height
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    putLe32(out, 2, out.length); putLe32(out, 10, 54)
    putLe32(out, 14, 40) // BITMAPINFOHEADER
    putLe32(out, 18, width); putLe32(out, 22, height) // positive = bottom-up
    putLe16(out, 26, 1); putLe16(out, 28, 24); putLe32(out, 30, 0) // planes/bpp/BI_RGB
    putLe32(out, 34, dataSize)
    var y = 0
    while (y < height) {
      val rowOff = 54 + (height - 1 - y) * rowBytes // bottom-up
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(x, y)
        out(rowOff + x * 3) = b.toByte
        out(rowOff + x * 3 + 1) = g.toByte
        out(rowOff + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse a 24-bit uncompressed BMP: honors the header's pixel-data offset,
    * positive (bottom-up) and negative (top-down) heights, and row padding. */
  def decodeBmp(b: Array[Byte]): BmpImage = {
    require(isBmp(b), "not a BMP payload")
    val dataOff = le32(b, 10)
    val width = le32(b, 18)
    val rawH = le32(b, 22)
    val height = math.abs(rawH)
    val topDown = rawH < 0
    require(le16(b, 28) == 24, s"unsupported bpp ${le16(b, 28)} (24-bit only)")
    require(le32(b, 30) == 0, "unsupported compression (BI_RGB only)")
    // header fields are UNTRUSTED: bound every allocation/read against the
    // actual payload before sizing arrays. ALL intermediate arithmetic in
    // Long — `width * 3` alone can wrap Int for a hostile width and slip a
    // tiny rowBytes past the bound check
    val rowBytesL = (width.toLong * 3 + 3) & ~3L
    require(width > 0 && height > 0 && dataOff >= 54 &&
      dataOff.toLong + rowBytesL * height <= b.length,
      s"BMP header inconsistent with payload (${width}x$rawH, off=$dataOff, len=${b.length})")
    // bound passed ⇒ rowBytesL*height < 2^31 ⇒ every product below fits Int
    val rowBytes = rowBytesL.toInt
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = dataOff + (if (topDown) y else height - 1 - y) * rowBytes
      var x = 0
      while (x < width) {
        rgb((y * width + x) * 3) = b(srcRow + x * 3 + 2)     // R
        rgb((y * width + x) * 3 + 1) = b(srcRow + x * 3 + 1) // G
        rgb((y * width + x) * 3 + 2) = b(srcRow + x * 3)     // B
        x += 1
      }
      y += 1
    }
    BmpImage(width, height, rgb)
  }

  /** Mono PCM16 WAV container around the given samples. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    "RIFF".getBytes.copyToArray(out, 0)
    putLe32(out, 4, 36 + dataSize)
    "WAVEfmt ".getBytes.copyToArray(out, 8)
    putLe32(out, 16, 16) // fmt chunk size
    putLe16(out, 20, 1) // PCM
    putLe16(out, 22, 1) // mono
    putLe32(out, 24, sampleRate)
    putLe32(out, 28, sampleRate * 2) // byte rate
    putLe16(out, 32, 2) // block align
    putLe16(out, 34, 16) // bits/sample
    "data".getBytes.copyToArray(out, 36)
    putLe32(out, 40, dataSize)
    var i = 0
    while (i < samples.length) { putLe16(out, 44 + i * 2, samples(i) & 0xFFFF); i += 1 }
    out
  }

  /** Walk RIFF chunks (odd sizes pad to even, unknown chunks skipped — e.g.
    * LIST/INFO before data) to the fmt + data chunks; PCM16 mono only. */
  def decodeWav(b: Array[Byte]): WavAudio = {
    require(isWav(b), "not a WAV payload")
    var off = 12
    var rate = -1
    var samples: Array[Int] = null
    while (off + 8 <= b.length && (rate < 0 || samples == null)) {
      val id = new String(b, off, 4, "US-ASCII")
      val size = le32(b, off + 4)
      // chunk size is UNTRUSTED: negative or oversized values would stall the
      // walk (off never advances) or allocate beyond the payload — fail instead
      require(size >= 0 && off.toLong + 8 + size <= b.length,
        s"WAV chunk '$id' size $size inconsistent with payload (off=$off, len=${b.length})")
      if (id == "fmt ") {
        require(size >= 16, s"fmt chunk too short ($size)")
        require(le16(b, off + 8) == 1, "unsupported WAV encoding (PCM only)")
        require(le16(b, off + 10) == 1, "unsupported channel count (mono only)")
        require(le16(b, off + 22) == 16, "unsupported bit depth (16-bit only)")
        rate = le32(b, off + 12)
      } else if (id == "data") {
        val n = size / 2
        samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          samples(i) = (le16(b, off + 8 + i * 2) << 16) >> 16 // sign-extend
          i += 1
        }
      }
      off += 8 + size + (size & 1) // chunks pad to even length
    }
    require(rate > 0 && samples != null, "missing fmt/data chunk")
    WavAudio(rate, samples)
  }

  // -------------------------------------------------------------------------
  // PNG (8-bit RGB / RGBA, non-interlaced): the one JDK-only ENTROPY-CODED
  // container — DEFLATE via java.util.zip, CRC32 chunk integrity, and the
  // five scanline predictors. Exercises the codec seam on a format with real
  // compression, unlike BMP/WAV's raw payloads.
  // -------------------------------------------------------------------------

  private val PngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  def isPng(b: Array[Byte]): Boolean =
    b.length > PngSignature.length + 12 &&
      PngSignature.indices.forall(i => b(i) == PngSignature(i))

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) | ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
  private def putBe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 24).toByte; b(o + 1) = (v >> 16).toByte
    b(o + 2) = (v >> 8).toByte; b(o + 3) = v.toByte
  }

  /** Paeth predictor (PNG spec §9.4): nearest of left/up/upper-left to a+b-c. */
  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Filter-type → predicted byte (shared by filter and unfilter — the spec
    * defines ONE predictor table, so encode/decode must not drift apart).
    * `ft` is validated by both callers to be 0-4. */
  @inline private def predictor(ft: Int, left: Int, up: Int, ul: Int): Int = ft match {
    case 0 => 0
    case 1 => left
    case 2 => up
    case 3 => (left + up) / 2
    case _ => paeth(left, up, ul)
  }

  /**
   * Encode an 8-bit PNG. `rgba(x, y)` supplies pixels top-down; alpha is
   * written only when `hasAlpha`. Each row carries filter type `y % 5`, so a
   * round-trip exercises every predictor (None/Sub/Up/Average/Paeth) — the
   * point of this encoder is to value-pin [[decodePng]]'s unfilter logic, not
   * to optimize compression (a real encoder picks filters per-row by entropy).
   */
  def encodePng(width: Int, height: Int, hasAlpha: Boolean,
                rgba: (Int, Int) => (Int, Int, Int, Int)): Array[Byte] = {
    val bpp = if (hasAlpha) 4 else 3
    // same contract as encodeGif: zero/negative dims must not silently emit a
    // degenerate container, and the buffer size product must be bounded as a
    // LONG before any Int allocation (height*(1+stride) overflows Int well
    // before either dimension does, turning a mis-dial into
    // NegativeArraySizeException instead of this family's IllegalArgument)
    require(width > 0 && height > 0, s"PNG dimensions must be positive (${width}x$height)")
    require(height.toLong * (1L + width.toLong * bpp) <= Int.MaxValue - 64,
      s"PNG raw stream too large (${width}x$height, $bpp bytes/pixel)")
    val stride = width * bpp
    // raw scanline stream: 1 filter byte + filtered pixel bytes per row
    val raw = new Array[Byte](height * (1 + stride))
    val prev = new Array[Byte](stride) // zero row above the first, per spec
    val cur = new Array[Byte](stride)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b, a) = rgba(x, y)
        cur(x * bpp) = r.toByte; cur(x * bpp + 1) = g.toByte; cur(x * bpp + 2) = b.toByte
        if (hasAlpha) cur(x * bpp + 3) = a.toByte
        x += 1
      }
      val ft = y % 5
      val off = y * (1 + stride)
      raw(off) = ft.toByte
      var i = 0
      while (i < stride) {
        val cu = cur(i) & 0xFF
        val left = if (i >= bpp) cur(i - bpp) & 0xFF else 0
        val up = prev(i) & 0xFF
        val ul = if (i >= bpp) prev(i - bpp) & 0xFF else 0
        raw(off + 1 + i) = (cu - predictor(ft, left, up, ul)).toByte
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }

    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val idat = zbuf.toByteArray

    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      putBe32(out, 0, data.length)
      typ.getBytes("US-ASCII").copyToArray(out, 4)
      data.copyToArray(out, 8)
      val crc = new java.util.zip.CRC32()
      crc.update(out, 4, 4 + data.length)
      putBe32(out, 8 + data.length, crc.getValue.toInt)
      out
    }
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width); putBe32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = (if (hasAlpha) 6 else 2).toByte // color type: truecolor (+alpha)
    // ihdr(10..12) = compression 0, filter 0, interlace 0
    PngSignature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /**
   * Decode an 8-bit RGB/RGBA non-interlaced PNG to top-down RGB (alpha
   * dropped). Every header/chunk field is UNTRUSTED: chunk lengths are
   * bounds-checked against the payload, chunk CRCs verified, the inflated
   * byte count must equal the IHDR-derived scanline-stream size exactly
   * (truncated or trailing DEFLATE output fails fast instead of decoding
   * garbage), and the total raw size is Long-bounded before allocation.
   */
  def decodePng(b: Array[Byte]): BmpImage = {
    require(isPng(b), "not a PNG payload")
    var off = PngSignature.length
    var width = 0; var height = 0; var bpp = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      require(off + 12 <= b.length, s"PNG truncated mid-chunk (off=$off, len=${b.length})")
      val len = be32(b, off)
      require(len >= 0 && off + 12L + len <= b.length,
        s"PNG chunk length $len inconsistent with payload (off=$off, len=${b.length})")
      val typ = new String(b, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(b, off + 4, 4 + len)
      require(crc.getValue.toInt == be32(b, off + 8 + len),
        s"PNG chunk $typ CRC mismatch")
      typ match {
        case "IHDR" =>
          require(!seenIhdr && len == 13, "malformed IHDR")
          width = be32(b, off + 8); height = be32(b, off + 12)
          val bitDepth = b(off + 16) & 0xFF
          val colorType = b(off + 17) & 0xFF
          require(bitDepth == 8, s"unsupported bit depth $bitDepth (8 only)")
          require(colorType == 2 || colorType == 6,
            s"unsupported color type $colorType (truecolor 2/6 only)")
          require((b(off + 18) & 0xFF) == 0, "unsupported compression method")
          require((b(off + 19) & 0xFF) == 0, "unsupported filter method")
          require((b(off + 20) & 0xFF) == 0, "interlaced PNG unsupported")
          bpp = if (colorType == 6) 4 else 3
          // bound the raw allocation BEFORE trusting width*height: each
          // dimension capped FIRST (<= 2^20) so the Long product below
          // cannot itself overflow — Int.MaxValue² wraps Long negative and
          // would sail through a product-only check — then the total
          // scanline stream capped at 1 GiB
          require(width > 0 && height > 0 &&
            width <= (1 << 20) && height <= (1 << 20) &&
            height.toLong * (1L + width.toLong * bpp) <= (1L << 30),
            s"PNG dimensions out of bounds (${width}x$height)")
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, "IDAT before IHDR")
          idat.write(b, off + 8, len)
        case "IEND" => seenIend = true
        case _      => () // ancillary chunks (tEXt, pHYs, ...) skipped
      }
      off += 12 + len
    }
    require(seenIhdr, "missing IHDR")
    val stride = width * bpp
    val rawSize = height * (1 + stride)
    val raw = new Array[Byte](rawSize)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < rawSize && !inflater.finished()) {
        val n = try inflater.inflate(raw, got, rawSize - got)
        catch { case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"PNG DEFLATE stream corrupt: ${e.getMessage}")
        }
        // n == 0 while unfinished means NO forward progress is possible:
        // either the stream is truncated (needsInput) or it demands a preset
        // dictionary (FDICT zlib flag — inflate() returns 0 with
        // needsInput() FALSE forever, so testing needsInput alone spins this
        // loop on a hostile payload; a hung task is worse than a thrown one)
        if (n == 0 && !inflater.finished())
          throw new IllegalArgumentException(
            if (inflater.needsDictionary()) "PNG DEFLATE stream demands a preset dictionary (FDICT unsupported)"
            else "PNG DEFLATE stream truncated")
        got += n
      }
      require(got == rawSize, s"PNG scanline stream short: $got of $rawSize bytes")
      // any residual DEFLATE output means the stream disagrees with IHDR;
      // same DataFormatException wrap as above — a corrupt Adler-32 trailer
      // parses HERE (the in-loop inflate stops at exactly rawSize), and must
      // surface as the contract's IllegalArgumentException, not leak raw
      val extra = new Array[Byte](1)
      val residual = try !inflater.finished() && inflater.inflate(extra) > 0
      catch { case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"PNG DEFLATE trailer corrupt: ${e.getMessage}")
      }
      require(!residual, "PNG scanline stream longer than IHDR dimensions imply")
    } finally inflater.end()

    // unfilter in place, row by row (spec §9: predictors see UNFILTERED bytes)
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + stride) + 1
      val prevOff = rowOff - (1 + stride)
      val ft = raw(rowOff - 1) & 0xFF
      require(ft <= 4, s"PNG filter type $ft out of range")
      var i = 0
      while (i < stride) {
        val left = if (i >= bpp) raw(rowOff + i - bpp) & 0xFF else 0
        val up = if (y > 0) raw(prevOff + i) & 0xFF else 0
        val ul = if (y > 0 && i >= bpp) raw(prevOff + i - bpp) & 0xFF else 0
        raw(rowOff + i) = ((raw(rowOff + i) & 0xFF) + predictor(ft, left, up, ul)).toByte
        i += 1
      }
      y += 1
    }

    val rgb = new Array[Byte](width * height * 3)
    y = 0
    while (y < height) {
      val rowOff = y * (1 + stride) + 1
      var x = 0
      while (x < width) {
        rgb((y * width + x) * 3) = raw(rowOff + x * bpp)
        rgb((y * width + x) * 3 + 1) = raw(rowOff + x * bpp + 1)
        rgb((y * width + x) * 3 + 2) = raw(rowOff + x * bpp + 2)
        x += 1 // alpha byte (bpp=4) dropped
      }
      y += 1
    }
    BmpImage(width, height, rgb)
  }

  // -------------------------------------------------------------------------
  // GIF (87a/89a, non-interlaced, first image block): the SECOND real
  // entropy coding in the decoder family — LZW with variable-width codes,
  // clear/end codes, KwKwK handling and the 4096-entry dictionary cap —
  // next to PNG's DEFLATE. Palette-indexed output mapped through the
  // global/local color table to RGB.
  // -------------------------------------------------------------------------

  def isGif(b: Array[Byte]): Boolean =
    b.length > 13 && b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
      b(3) == '8'.toByte && (b(4) == '7'.toByte || b(4) == '9'.toByte) && b(5) == 'a'.toByte

  /** LSB-first bit writer/reader pair — GIF packs LZW codes little-endian. */
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nbits = 0
    def put(code: Int, width: Int): Unit = {
      acc |= code << nbits
      nbits += width
      while (nbits >= 8) { out.write(acc & 0xFF); acc >>>= 8; nbits -= 8 }
    }
    def bytes(): Array[Byte] = {
      if (nbits > 0) { out.write(acc & 0xFF); acc = 0; nbits = 0 }
      out.toByteArray
    }
  }

  /**
   * Encode a single-frame GIF89a with a 256-entry global color table
   * (`palette` supplies the first entries; the rest pad black) and REAL LZW
   * compression (dictionary build, width growth, clear-on-full) — so a
   * round-trip exercises the decoder's full dictionary path, not just
   * literals. `index(x, y)` must be < palette.length <= 256.
   */
  def encodeGif(width: Int, height: Int,
                palette: Array[(Int, Int, Int)],
                index: (Int, Int) => Int): Array[Byte] = {
    require(palette.nonEmpty && palette.length <= 256, s"palette size ${palette.length}")
    // header fields are 16-bit: silently truncating would emit a container
    // whose pixel stream disagrees with its own declared dimensions
    require(width > 0 && height > 0 && width <= 0xFFFF && height <= 0xFFFF,
      s"GIF dimensions out of range (${width}x$height)")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    // logical screen descriptor: GCT present, 256 entries (size bits = 7)
    out.write(width & 0xFF); out.write(width >> 8)
    out.write(height & 0xFF); out.write(height >> 8)
    out.write(0x80 | 0x07); out.write(0); out.write(0)
    for (i <- 0 until 256) {
      val (r, g, b) = if (i < palette.length) palette(i) else (0, 0, 0)
      out.write(r & 0xFF); out.write(g & 0xFF); out.write(b & 0xFF)
    }
    // image descriptor at (0,0), no LCT, non-interlaced
    out.write(0x2C)
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(width & 0xFF); out.write(width >> 8)
    out.write(height & 0xFF); out.write(height >> 8)
    out.write(0)
    val minCode = 8 // 256-entry table
    out.write(minCode)
    val clear = 1 << minCode
    val end = clear + 1

    val bw = new BitWriter
    val dict = new java.util.HashMap[Long, Integer]()
    var next = end + 1
    var w = minCode + 1
    def reset(): Unit = { dict.clear(); next = end + 1; w = minCode + 1 }
    bw.put(clear, w)
    var cur = -1
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val px = index(x, y)
        require(px >= 0 && px < palette.length, s"palette index $px out of range at ($x,$y)")
        if (cur < 0) cur = px
        else {
          val key = cur.toLong << 12 | px
          val hit = dict.get(key)
          if (hit != null) cur = hit
          else {
            bw.put(cur, w)
            if (next < 4096) {
              dict.put(key, next); next += 1
              // codes up to next-1 must fit the width the DECODER reads with
              if (next > (1 << w) && w < 12) w += 1
            } else { bw.put(clear, w); reset() }
            cur = px
          }
        }
        x += 1
      }
      y += 1
    }
    if (cur >= 0) bw.put(cur, w)
    bw.put(end, w)
    val data = bw.bytes()
    var off = 0
    while (off < data.length) { // <=255-byte sub-blocks
      val n = math.min(255, data.length - off)
      out.write(n); out.write(data, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /**
   * Decode the first image of an 8-bit-palette GIF to top-down RGB. Hostile
   * input rules match the other decoders: dims capped before allocation,
   * sub-block lengths bounds-checked, LZW failures (bad first code,
   * width-overflow, truncation, palette-index overflow) throw
   * IllegalArgumentException — never hang, over-read, or over-allocate.
   * Interlaced images and images without any color table are unsupported
   * (loud).
   */
  def decodeGif(b: Array[Byte]): BmpImage = {
    require(isGif(b), "not a GIF payload")
    def u8(o: Int): Int = { require(o < b.length, "GIF truncated"); b(o) & 0xFF }
    def u16(o: Int): Int = { require(o + 1 < b.length, "GIF truncated"); (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) }
    var off = 6
    val packed = u8(off + 4)
    var table: Array[Byte] = null // 3 bytes per entry
    off += 7
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 0x07)
      require(off + 3L * n <= b.length, "GIF global color table truncated")
      table = java.util.Arrays.copyOfRange(b, off, off + 3 * n)
      off += 3 * n
    }
    // walk blocks to the first image descriptor
    while (u8(off) != 0x2C) {
      u8(off) match {
        case 0x21 => // extension: label byte + length-prefixed sub-blocks
          off += 2
          while (u8(off) != 0) {
            val n = u8(off)
            require(off + 1L + n <= b.length, "GIF extension sub-block truncated")
            off += 1 + n
          }
          off += 1
        case 0x3B => throw new IllegalArgumentException("GIF has no image block")
        case t    => throw new IllegalArgumentException(f"unknown GIF block 0x$t%02x")
      }
    }
    val width = u16(off + 5)
    val height = u16(off + 7)
    val ipacked = u8(off + 9)
    off += 10
    require((ipacked & 0x40) == 0, "interlaced GIF unsupported")
    if ((ipacked & 0x80) != 0) {
      val n = 2 << (ipacked & 0x07)
      require(off + 3L * n <= b.length, "GIF local color table truncated")
      table = java.util.Arrays.copyOfRange(b, off, off + 3 * n)
      off += 3 * n
    }
    require(table != null, "GIF image without any color table unsupported")
    require(width > 0 && height > 0 && width <= (1 << 16) && height <= (1 << 16) &&
      width.toLong * height * 3 <= (1L << 30),
      s"GIF dimensions out of bounds (${width}x$height)")
    val nColors = table.length / 3

    val minCode = u8(off); off += 1
    // spec caps min code size at 8 (palette indices are bytes): accepting
    // 9-11 would let literal codes 256..2047 truncate mod 256 into WRONG
    // palette entries via .toByte instead of failing
    require(minCode >= 2 && minCode <= 8, s"GIF LZW min code size $minCode out of range")
    // concatenate the length-prefixed data sub-blocks
    val dataBuf = new java.io.ByteArrayOutputStream()
    var n = u8(off)
    while (n != 0) {
      require(off + 1L + n <= b.length, "GIF image data sub-block truncated")
      dataBuf.write(b, off + 1, n)
      off += 1 + n
      n = u8(off)
    }
    val data = dataBuf.toByteArray

    // LZW decode to palette indices
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = end + 1
    var w = minCode + 1
    // Long bit cursor: a legal max-dimension GIF can carry hundreds of MB of
    // LZW data, where `data.length * 8` and the cursor itself wrap Int —
    // turning the truncation guard into a spurious reject or an
    // ArrayIndexOutOfBoundsException that escapes the decode contract
    var bitPos = 0L
    def readCode(): Int = {
      require(bitPos + w <= data.length.toLong * 8, "GIF LZW stream truncated (no end code)")
      var acc = 0
      var got = 0
      while (got < w) {
        val byteI = ((bitPos + got) >> 3).toInt
        acc |= ((data(byteI) >> ((bitPos + got) & 7).toInt) & 1) << got
        got += 1
      }
      bitPos += w
      acc
    }
    val out = new Array[Byte](width * height)
    var outN = 0
    val stack = new Array[Byte](4096)
    // write string(code) into out, return its first byte — code must be a
    // KNOWN code (literal or existing dictionary entry; callers handle KwKwK)
    def emit(code: Int): Int = {
      var sp = 0
      var c = code
      while (c >= clear + 2) { // dictionary entry: walk the suffix chain
        require(c < next, s"GIF LZW code $c beyond dictionary")
        stack(sp) = suffix(c); sp += 1
        require(sp < stack.length, "GIF LZW corrupt chain")
        c = prefix(c)
      }
      require(c < clear, s"GIF LZW chain ends at non-literal $c")
      stack(sp) = c.toByte; sp += 1
      require(outN + sp <= out.length, "GIF LZW output exceeds image dimensions")
      var i = sp - 1
      while (i >= 0) { out(outN) = stack(i); outN += 1; i -= 1 }
      c
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = readCode()
      if (code == clear) {
        next = end + 1; w = minCode + 1; prev = -1
      } else if (code == end) {
        done = true
      } else if (prev == -1) {
        require(code < clear, s"GIF LZW first code $code after clear is not a literal")
        require(outN < out.length, "GIF LZW output exceeds image dimensions")
        out(outN) = code.toByte; outN += 1
        prev = code
      } else {
        require(code <= next, s"GIF LZW code $code beyond dictionary")
        val first =
          if (code == next) {
            // KwKwK: the just-about-to-be-defined code = string(prev) + firstChar(prev)
            val f = emit(prev)
            require(outN < out.length, "GIF LZW output exceeds image dimensions")
            out(outN) = f.toByte; outN += 1
            f
          } else emit(code)
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first.toByte; next += 1
          // the decoder lags the encoder's code counter by one: grow at ==
          // where the encoder grows at > (derivation in encodeGif)
          if (next == (1 << w) && w < 12) w += 1
        }
        prev = code
      }
    }
    require(outN == out.length, s"GIF LZW produced $outN of ${out.length} pixels")

    val rgb = new Array[Byte](width * height * 3)
    var i = 0
    while (i < out.length) {
      val idx = out(i) & 0xFF
      require(idx < nColors, s"GIF pixel index $idx beyond color table ($nColors)")
      rgb(i * 3) = table(idx * 3)
      rgb(i * 3 + 1) = table(idx * 3 + 1)
      rgb(i * 3 + 2) = table(idx * 3 + 2)
      i += 1
    }
    BmpImage(width, height, rgb)
  }

  /** Sniff-and-decode for image containers with a real decoder (PNG/GIF/BMP). */
  def decodeImage(b: Array[Byte]): BmpImage =
    if (isPng(b)) decodePng(b)
    else if (isGif(b)) decodeGif(b)
    else decodeBmp(b)

  /**
   * Nearest-neighbor resize. Source pixel for output (x, y) is
   * (x*srcW/outW, y*srcH/outH) with floor integer division — the standard
   * no-interpolation mapping, chosen because it is EXACTLY reproducible by
   * the DuckDB oracle (`//` floor division on the same non-negative ints;
   * bilinear would put float rounding on the value path). Up- and
   * down-scaling both work; SOURCE index math uses Long products, and the
   * OUTPUT allocation is guarded by the same loud pre-check as the
   * decoders (outW×outH×3 must fit an Int array — checked as a Long
   * product BEFORE allocating, so oversized dims fail the argument check
   * instead of wrapping into NegativeArraySizeException mid-pipeline).
   * Pure kernel — the Dataset stage is [[resizeImages]].
   */
  def resizeNearest(img: BmpImage, outW: Int, outH: Int): BmpImage = {
    require(outW > 0 && outH > 0, s"resize dims must be positive (got $outW x $outH)")
    require(outW.toLong * outH * 3L <= Int.MaxValue,
      s"resize output $outW x $outH exceeds the byte-array limit " +
        "(w*h*3 must fit an Int) — pick smaller target dims")
    require(img.width > 0 && img.height > 0, "cannot resize an empty image")
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * img.height / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * img.width / outW).toInt
        val si = (sy * img.width + sx) * 3
        val di = (y * outW + x) * 3
        out(di) = img.rgb(si); out(di + 1) = img.rgb(si + 1); out(di + 2) = img.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    BmpImage(outW, outH, out)
  }

  /**
   * Decode → resize → RE-ENCODE stage (the thumbnail / fixed-input-shape
   * preprocessing step of a multimodal training pipeline): every image
   * payload (BMP/PNG/GIF, sniffed) comes out a real outW×outH 24-bit BMP;
   * non-image rows pass through untouched. One mapPartitions scan — payloads
   * never shuffle, and the output is again a valid `Media` table, so the
   * stage composes with [[imageStats]]/[[extractFeatures]]/storage sinks.
   * Corrupt payloads fail loudly (IllegalArgumentException from the decoder
   * contract) rather than silently passing through at the wrong size.
   */
  def resizeImages(media: Dataset[Media], outW: Int, outH: Int): Dataset[Media] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      if (m.kind != "image") m
      else {
        val r = resizeNearest(decodeImage(m.payload), outW, outH)
        val px = r.rgb
        val payload = encodeBmp(outW, outH, (x, y) => {
          val i = (y * outW + x) * 3
          (px(i) & 0xFF, px(i + 1) & 0xFF, px(i + 2) & 0xFF)
        })
        m.copy(payload = payload, width = outW, height = outH)
      }
    })
  }

  /**
   * Deterministic synthetic GIF media: every row a REAL single-frame GIF89a
   * whose pixels and 64-color palette come from the closed-form formulas
   * below — LZW is lossless, so the DuckDB oracle recomputes the DECODED
   * channel sums exactly (q_media_gif), value-pinning the LZW dictionary
   * round-trip, width growth, and palette mapping.
   *
   * Formulas (mirrored verbatim in SparkEntry's q_media_gif oracle — change
   * together):
   *   w = 11+(id%5)*6, h = 9+(id%7)*4
   *   palette i in 0..63: r=(3i+id)%256, g=(5i+2id)%256, b=(7i+3id)%256
   *   pixel index p(x,y) = (x*7 + y*11 + id) % 64
   */
  def syntheticGifMedia(spark: SparkSession, n: Long): Dataset[Media] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { boxed =>
        val id: Long = boxed
        val w = (11 + (id % 5) * 6).toInt
        val h = (9 + (id % 7) * 4).toInt
        val pal = Array.tabulate(64)(i => (
          ((3 * i + id) % 256).toInt,
          ((5 * i + 2 * id) % 256).toInt,
          ((7 * i + 3 * id) % 256).toInt))
        val payload = encodeGif(w, h, pal, (x, y) => ((x * 7 + y * 11 + id) % 64).toInt)
        Media(id, "image", payload, w, h, 0, 0)
      }
    }
  }

  /**
   * Deterministic synthetic PNG media: every row is a REAL 8-bit PNG —
   * alternating RGB / RGBA color types, per-row filter cycling through all
   * five predictors (encodePng), pixels from the closed-form formulas below.
   * The DuckDB oracle recomputes the DECODED channel sums from the same
   * formulas (q_media_png), so chunk CRCs, DEFLATE round-trip, unfiltering
   * and the RGBA alpha-drop are all value-checked.
   *
   * Formulas (mirrored verbatim in SparkEntry's q_media_png oracle — change
   * together):
   *   w = 9+(id%6)*7, h = 7+(id%4)*9, alpha channel present iff id%2==1
   *   r=(x*11+y*5+id)%256, g=(x*3+y*13+5*id)%256, b=(x*2+y*7+11*id)%256
   *   a=(x+y+id)%256 (dropped by decode; must not affect the sums)
   */
  def syntheticPngMedia(spark: SparkSession, n: Long): Dataset[Media] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { id =>
        val w = (9 + (id % 6) * 7).toInt
        val h = (7 + (id % 4) * 9).toInt
        val payload = encodePng(w, h, hasAlpha = id % 2 == 1, (x, y) => (
          ((x * 11 + y * 5 + id) % 256).toInt,
          ((x * 3 + y * 13 + 5 * id) % 256).toInt,
          ((x * 2 + y * 7 + 11 * id) % 256).toInt,
          ((x + y + id) % 256).toInt))
        Media(id, "image", payload, w, h, 0, 0)
      }
    }
  }

  /**
   * STUB decode for containers WITHOUT a real decoder here (JPEG/FLAC/
   * H.264...) — everything around it (mapPartitions batching, per-partition
   * decoder state, output schema) is the production shape. BMP/WAV/PNG
   * payloads never reach this: [[extractFeatures]] sniffs magic bytes first.
   */
  def fakeDecode(payload: Array[Byte], dim: Int = 16): Array[Float] = {
    // deterministic byte-histogram "embedding" standing in for decoded features
    val hist = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xFF) % dim) += 1.0f
      i += 1
    }
    val norm = math.sqrt(hist.map(x => x * x).sum).toFloat max 1e-9f
    hist.map(_ / norm)
  }

  /**
   * Deterministic synthetic media with REAL containers: image rows are valid
   * 24-bit BMPs, audio rows valid PCM16 WAVs, each generated from the
   * closed-form formulas below (the DuckDB oracle recomputes the DECODED
   * channel/sample sums from the same formulas — a mismatch anywhere in the
   * container round-trip fails the gate); video rows stay opaque seeded
   * bytes (the declared stub boundary).
   *
   * Formulas (mirrored verbatim in SparkEntry's q_media_bmp / q_media_wav
   * oracles — change together):
   *   image (id%3==0): w = 13+(id%7)*5, h = 8+(id%5)*6,
   *     r=(x*7+y*3+id)%256, g=(x*5+y*11+2*id)%256, b=(x+y+3*id)%256
   *   audio (id%3==1): rate = 8000+(id%5)*2000, n = 50+(id%10)*25,
   *     sample(i) = (i*37 + id*101) % 4001 - 2000
   */
  def syntheticMediaContainers(spark: SparkSession, n: Long): Dataset[Media] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      it.map { id =>
        (id % 3) match {
          case 0 =>
            val w = (13 + (id % 7) * 5).toInt
            val h = (8 + (id % 5) * 6).toInt
            val payload = encodeBmp(w, h, (x, y) => (
              ((x * 7 + y * 3 + id) % 256).toInt,
              ((x * 5 + y * 11 + 2 * id) % 256).toInt,
              ((x + y + 3 * id) % 256).toInt))
            Media(id, "image", payload, w, h, 0, 0)
          case 1 =>
            val rate = (8000 + (id % 5) * 2000).toInt
            val nSamp = (50 + (id % 10) * 25).toInt
            val samples = Array.tabulate(nSamp)(i => ((i * 37 + id * 101) % 4001 - 2000).toInt)
            Media(id, "audio", encodeWavPcm16(rate, samples), 0, 0, rate,
              nSamp * 1000L / rate)
          case _ =>
            val rng = new scala.util.Random(42L + id)
            val payload = new Array[Byte](2048)
            rng.nextBytes(payload)
            Media(id, "video", payload, 0, 0, 0, 1000 + id % 9000)
        }
      }
    }
  }

  final case class ImageStats(media_id: Long, width: Int, height: Int,
                              sum_r: Long, sum_g: Long, sum_b: Long)
  final case class AudioStats(media_id: Long, sample_rate: Int, n_samples: Int,
                              sum_samples: Long, max_sample: Int)

  /** Per-channel pixel sums of a decoded image (single source of truth for
    * the stats Dataset and the feature branch). */
  private def channelSums(img: BmpImage): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < img.rgb.length) {
      sr += img.rgb(i) & 0xFF; sg += img.rgb(i + 1) & 0xFF; sb += img.rgb(i + 2) & 0xFF
      i += 3
    }
    (sr, sg, sb)
  }

  /** (sum, sum-of-squares, max) over decoded PCM samples. */
  private def sampleStats(wav: WavAudio): (Long, Double, Int) = {
    var sum = 0L
    var sq = 0.0
    var max = Int.MinValue
    var i = 0
    while (i < wav.samples.length) {
      val s = wav.samples(i)
      sum += s; sq += s.toDouble * s; if (s > max) max = s
      i += 1
    }
    (sum, sq, max)
  }

  /** REAL decode path: per-channel pixel sums of every image payload
    * (BMP or PNG, sniffed). Integer sums, so the oracle compare is exact
    * (no float hashing). */
  def imageStats(media: Dataset[Media]): Dataset[ImageStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions(_.map { m =>
      val img = decodeImage(m.payload)
      val (sr, sg, sb) = channelSums(img)
      ImageStats(m.media_id, img.width, img.height, sr, sg, sb)
    })
  }

  /** REAL decode path: sample statistics of every WAV payload. */
  def audioStats(media: Dataset[Media]): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions(_.map { m =>
      val wav = decodeWav(m.payload)
      val (sum, _, max) = sampleStats(wav)
      AudioStats(m.media_id, wav.sampleRate, wav.samples.length, sum, max)
    })
  }

  /** Feature extraction: per-partition decoder, payload never shuffled after.
    * BMP/WAV payloads get REAL decoded features (dims/channel means, rate/
    * sample stats); other containers fall to the [[fakeDecode]] stub. */
  def extractFeatures(media: Dataset[Media], dim: Int = 16): Dataset[MediaFeatures] = {
    // validated OUTSIDE the defensive try: a bad dim is a caller bug (would
    // otherwise masquerade as "corrupt payload" and silently disable decoding)
    require(dim >= 5, s"dim must be >= 5 to hold the decoded feature slots (got $dim)")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (real codecs are expensive to open)
      it.map { m =>
        // sniff-then-decode is DEFENSIVE: magic bytes can collide (any blob
        // starting "BM"/"RIFF"), and one malformed container must not kill a
        // corpus-scale job — any decode failure falls back to the stub features
        val feats = try {
          if (isBmp(m.payload) || isPng(m.payload) || isGif(m.payload)) {
            val img = decodeImage(m.payload)
            val (sr, sg, sb) = channelSums(img)
            val nPix = (img.width * img.height).toFloat max 1f
            val f = new Array[Float](dim)
            f(0) = img.width.toFloat; f(1) = img.height.toFloat
            f(2) = sr / nPix; f(3) = sg / nPix; f(4) = sb / nPix
            f
          } else if (isWav(m.payload)) {
            val wav = decodeWav(m.payload)
            val n = wav.samples.length max 1
            val (sum, sq, _) = sampleStats(wav)
            val f = new Array[Float](dim)
            f(0) = wav.sampleRate.toFloat; f(1) = wav.samples.length.toFloat
            f(2) = (sum.toDouble / n).toFloat; f(3) = math.sqrt(sq / n).toFloat
            f
          } else fakeDecode(m.payload, dim)
        } catch {
          case scala.util.control.NonFatal(_) => fakeDecode(m.payload, dim)
        }
        MediaFeatures(m.media_id, m.kind, m.payload.length, feats)
      }
    }
  }
}
