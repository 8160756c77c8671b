package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, partition-wise decode, and frame sampling.
  *
  * Header decode is REAL for BMP and WAV ([[decodeHeaders]] — pure-JVM
  * fixed-offset parsing, no codec deps); PIXEL decode is real for
  * uncompressed 24/32-bit BMP ([[decodePixels]] — fixed-stride
  * little-endian rows, no codec needed) and sample decode for PCM16
  * WAV ([[pcm16Frames]]); formats no decoder here covers fall back to
  * deterministic stub dims (`ImageIO.read` / ffmpeg / soundfile would
  * slot in there).
  *
  * The blob contract, shared by every operator and fixture here:
  *  - an operator reads a frame's `(doc_id, blob)` columns;
  *  - a null blob counts as an empty payload;
  *  - its output is a non-null `doc_id` plus the operator's own fields,
  *    zero or more rows per blob (payloads a parser refuses drop);
  *  - each `synthetic*` fixture is built through [[blobFrame]] as
  *    `(doc_id BIGINT NOT NULL, blob BINARY NOT NULL)`.
  * Both sides are `mapPartitions` batches (the Scala analog of
  * `mapInPandas`) iterated lazily, so a 100 TB blob column streams
  * through executors without materializing a partition in memory.
  */
object Multimodal {

  /** Wrap a text column as an opaque blob + surface-level metadata
    * (what a real pipeline stores next to s3 pointers). Narrow. */
  def asBlob(docs: DataFrame, payloadCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      col(payloadCol).cast("binary").as("blob"),
      octet_length(col(payloadCol)).cast("long").as("n_bytes"),
      md5(col(payloadCol).cast("binary")).as("digest"))

  /** One fixture row per `docs` row: its `doc_id` and `bytes(doc_id)`. */
  private def blobFrame(docs: DataFrame)(bytes: Long => Array[Byte]): DataFrame =
    docs.select(col("doc_id")).mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, bytes(id))
    })(Encoders.row(StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("blob", BinaryType, nullable = false)))))

  /** Run `parse` over each blob's payload (a null blob as an empty
    * one); every tuple it yields, in `fields` order, becomes one output
    * row behind the blob's `doc_id`. */
  private def perBlob(blobs: DataFrame, fields: Seq[StructField])(
      parse: Array[Byte] => IterableOnce[Product]): DataFrame =
    blobs.select(col("doc_id"), col("blob")).mapPartitions(_.flatMap { r =>
      val id = r.getLong(0)
      val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
      parse(bytes).iterator.map(t => Row.fromSeq(id +: t.productIterator.toSeq))
    })(Encoders.row(StructType(StructField("doc_id", LongType, nullable = false) +: fields)))

  // ---------------------------------------------------------------
  // Real (pure-JVM) header decode: BMP and WAV headers are fixed-
  // offset little-endian structures, so the decode contract can be
  // REAL without codec dependencies — width/height/channels for
  // images, channels/sample-rate/bits for audio. Unknown formats fall
  // back to the deterministic stub dims (the seam where ImageIO/
  // ffmpeg/soundfile slot in for pixel/sample decode).
  // ---------------------------------------------------------------

  private val PngSignature: Array[Int] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
  private def isPngSignature(b: Array[Byte]): Boolean =
    b.length >= 8 && (0 until 8).forall(i => (b(i) & 0xff) == PngSignature(i))
  private def i32be(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def i16be(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parse a BMP (BITMAPINFOHEADER), PNG (signature + IHDR chunk),
    * JPEG (SOI + marker walk to SOF0/1/2) or WAV (RIFF/fmt chunk walk)
    * header. Returns (format, width, height, channels, sampleRate,
    * bitsPerSample) — for PNG bitsPerSample is the IHDR bit depth per
    * channel, for JPEG the SOF sample precision; unknown/truncated
    * payloads → ("unknown", stub dims) — the honest fallback for
    * formats needing a real codec. */
  private[graft] def parseHeader(bytes0: Array[Byte])
      : (String, Integer, Integer, Integer, Integer, Integer) = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length >= 30 && bytes(0) == 'B' && bytes(1) == 'M') {
      // dispatch on the DIB header size at 14 — BITMAPINFOHEADER (40+)
      // and the OS/2 BITMAPCOREHEADER (12) lay fields out differently;
      // parsing one with the other's offsets emits confident garbage
      i32le(bytes, 14) match {
        case dib if dib >= 40 =>
          val width = i32le(bytes, 18)
          val height = math.abs(i32le(bytes, 22)) // negative = top-down rows
          val bpp = u16le(bytes, 28)
          ("bmp", width, height, math.max(1, bpp / 8), null, null)
        case 12 if bytes.length >= 26 => // core: u16 fields, no top-down
          ("bmp", u16le(bytes, 18), u16le(bytes, 20),
            math.max(1, u16le(bytes, 24) / 8), null, null)
        case _ => ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
      }
    } else if (bytes.length >= 26 && isPngSignature(bytes)) {
      // PNG: 8-byte signature, then the IHDR chunk MUST come first
      // (spec: [len:4 BE][,"IHDR"][width:4 BE][height:4 BE][bit
      // depth:1][color type:1]...) — width at 16, height at 20, depth
      // at 24, color type at 25. Header-only parse: the IHDR CRC is
      // not validated (that is the pixel decoder's job). A width or
      // height with the high bit set is out of the PNG domain
      // (unsigned 31-bit) → malformed, fall back.
      if (tag(bytes, 12) == "IHDR") {
        val width = i32be(bytes, 16)
        val height = i32be(bytes, 20)
        val depth = bytes(24) & 0xff
        val channels = (bytes(25) & 0xff) match {
          case 0 => 1 // greyscale
          case 2 => 3 // truecolor
          case 3 => 1 // palette index
          case 4 => 2 // grey + alpha
          case 6 => 4 // truecolor + alpha
          case _ => -1
        }
        if (width > 0 && height > 0 && channels > 0)
          ("png", width, height, channels, null, depth)
        else ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
      } else ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      // JPEG: SOI then a marker walk — [0xFF][code][len:2 BE incl.
      // itself][payload] per segment (fill 0xFF bytes before a code
      // are legal padding; RST0-7/TEM are standalone, no length).
      // Dimensions live in the frame header SOFn: [len][precision:1]
      // [height:2 BE][width:2 BE][ncomp:1] — SOF0 baseline, SOF1
      // extended, SOF2 progressive all share the layout. Sizes are
      // attacker-controlled: len < 2 or out-of-bounds breaks to the
      // fallback, never spins (the WAV chunk-walk discipline); the
      // walk stops at SOS (entropy-coded data follows) or EOI.
      var p = 2L
      var res: (String, Integer, Integer, Integer, Integer, Integer) = null
      var fallback = false
      while (res == null && !fallback && p + 1 < bytes.length) {
        if ((bytes(p.toInt) & 0xff) != 0xff) fallback = true
        else {
          var q = p + 1 // skip fill bytes: 0xFF padding before the code
          while (q < bytes.length && (bytes(q.toInt) & 0xff) == 0xff) q += 1
          if (q >= bytes.length) fallback = true
          else (bytes(q.toInt) & 0xff) match {
            case 0xd9 | 0xda => fallback = true // EOI / SOS: no SOF seen
            case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) =>
              p = q + 1 // standalone marker, no length field
            case m =>
              if (q + 3 > bytes.length) fallback = true
              else {
                val len = ((bytes(q.toInt + 1) & 0xff) << 8) | (bytes(q.toInt + 2) & 0xff)
                if (len < 2 || q + 1 + len > bytes.length) fallback = true
                else if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
                  // SOF payload: precision, height, width, ncomp
                  if (len < 8) fallback = true
                  else {
                    val precision = bytes(q.toInt + 3) & 0xff
                    val height = i16be(bytes, q.toInt + 4)
                    val width = i16be(bytes, q.toInt + 6)
                    val ncomp = bytes(q.toInt + 8) & 0xff
                    if (width > 0 && height > 0 && ncomp > 0)
                      res = ("jpeg", width, height, ncomp, null, precision)
                    else fallback = true
                  }
                } else p = q + 1 + len
              }
          }
        }
      }
      if (res != null) res
      else ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
    } else if (bytes.length >= 36 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE") {
      // chunk walk: [id:4][size:4][payload:size], first chunk at 12.
      // Sizes are attacker-controlled bytes: a negative or huge size
      // must break to the fallback, not spin the walk or index out of
      // bounds (one malformed file must not hang a 100 TB decode
      // stage). Walk in Long so p never overflows.
      var p = 12L
      var fallback = false
      while (!fallback && p + 8 <= bytes.length) {
        val size = i32le(bytes, p.toInt + 4)
        if (tag(bytes, p.toInt) == "fmt " && size >= 16 && p + 8 + 16 <= bytes.length) {
          val ch = u16le(bytes, p.toInt + 10)
          val rate = i32le(bytes, p.toInt + 12)
          val bits = u16le(bytes, p.toInt + 22)
          return ("wav", null, null, ch, rate, bits)
        }
        if (size < 0) fallback = true
        else p += 8L + size.toLong + (size & 1)
      }
      ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
    } else ("unknown", stubW(bytes), stubH(bytes), 3, null, null)
  }

  private def stubW(bytes: Array[Byte]): Int =
    64 + (if (bytes.nonEmpty) (bytes(0) & 0x3f) else 0)
  private def stubH(bytes: Array[Byte]): Int =
    64 + (if (bytes.length > 1) (bytes(1) & 0x3f) else 0)

  /** [[parseHeader]] at scale: one row per blob, REAL BMP/PNG/JPEG/WAV
    * header parse, stub fallback for unknown formats (a null blob
    * included). */
  def decodeHeaders(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("bits_per_sample", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = false))) { bytes =>
      val (fmt, w, h, ch, rate, bits) = parseHeader(bytes)
      Some((fmt, w, h, ch, rate, bits, bytes.length.toLong))
    }

  /** REAL pixel decode for uncompressed 24/32-bit BMP (BI_RGB,
    * BITMAPINFOHEADER): pixel rows are fixed-stride little-endian
    * BGR(A) — `stride = ⌈width·bytesPerPixel / 4⌉·4` — so per-channel
    * byte sums come out of a pure-JVM pass with no codec dependency.
    * Sums are orientation-invariant, so top-down (negative height)
    * bitmaps decode identically. Untrusted-length hardening: header
    * fields are bounds-checked against the actual payload before any
    * pixel read; compressed/paletted/foreign payloads yield `None`
    * (the stub seam keeps carrying those). */
  private[graft] def decodeBmpPixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long, Long)] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    if (i32le(bytes, 14) < 40) return None // need INFOHEADER's compression field
    val off = i32le(bytes, 10)
    val width = i32le(bytes, 18)
    val height = math.abs(i32le(bytes, 22)) // negative = top-down rows
    val bpp = u16le(bytes, 28)
    if (i32le(bytes, 30) != 0 || (bpp != 24 && bpp != 32)) return None // BI_RGB only
    if (width <= 0 || height <= 0 || width > (1 << 20) || height > (1 << 20)) return None
    val bpx = bpp / 8
    val stride = ((width.toLong * bpx + 3) / 4) * 4
    if (off < 54 || off.toLong + stride * height > bytes.length) return None
    var sb = 0L; var sg = 0L; var sr = 0L; var sa = 0L
    var row = 0
    while (row < height) {
      var p = off + (row * stride).toInt
      var x = 0
      while (x < width) {
        sb += bytes(p) & 0xff
        sg += bytes(p + 1) & 0xff
        sr += bytes(p + 2) & 0xff
        if (bpx == 4) sa += bytes(p + 3) & 0xff
        p += bpx
        x += 1
      }
      row += 1
    }
    Some((width, height, bpx, width.toLong * height, sb, sg, sr, sa))
  }

  /** [[decodeBmpPixels]] at scale: rows whose payload is not an
    * uncompressed 24/32-bit BMP are dropped (decode what is decodable
    * without a codec — the documented stub seam still carries
    * compressed formats). */
  def decodePixels(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("n_pixels", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_a", LongType, nullable = false)))(decodeBmpPixels)

  /** Nearest-neighbor resample of decoded BMP pixels onto the FIXED
    * `outW`×`outH` mesh — the preprocessing step every vision
    * embedding model runs before featurization (fixed input dims),
    * and the resize stage of the multimodal pipeline. Integer-exact
    * source mapping: src = (dst · srcDim) div outDim, in IMAGE
    * orientation (y = 0 is the TOP row — bottom-up BMPs flip file
    * rows; top-down, negative-height BMPs read in file order). Both
    * up- and down-scaling are defined (NN replicates when upscaling).
    *
    * Output stays one row per IMAGE (the verify dump must be
    * image-sized, not pixel-sized): per-channel sums over the resized
    * grid plus a POSITIONAL checksum Σ (y·outW + x + 1)·(B + G·2⁸ +
    * R·2¹⁶) — a transposed, flipped, or channel-swapped grid cannot
    * collide, so the oracle's analytic replay proves every resized
    * pixel was read from the right source coordinate. Zero shuffle;
    * max term 2²⁴·outW·outH per pixel keeps the checksum far inside
    * Long. Alpha is outside the resize digest (32 bpp sources resize
    * their RGB planes). */
  def imageResize(blobs: DataFrame, outW: Int = 16, outH: Int = 16): DataFrame = {
    require(outW >= 1 && outH >= 1 && outW.toLong * outH <= (1L << 16),
      s"resize mesh must be in [1, 65536] pixels, got ${outW}x$outH")
    perBlob(blobs, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("out_w", IntegerType, nullable = false),
      StructField("out_h", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("checksum", LongType, nullable = false))) { bytes =>
      // codec dispatch: BMP stride walk or baseline-JPEG planes —
      // the same NN index rule either way
      val resized =
        if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
          jpegResizeNn(bytes, outW, outH)
        else bmpResizeNn(bytes, outW, outH)
      resized.map { case (w, h, sr, sg, sb, ck) => (w, h, outW, outH, sr, sg, sb, ck) }
    }
  }

  /** [[imageResize]]'s JPEG kernel: [[decodeJpegCore]] planes sampled
    * at the SAME integer NN rule as the BMP walk (src = (dst·srcDim)
    * div out; JPEG rows are always stored top-first). Grayscale
    * replicates into all three channels so the positional checksum is
    * codec-comparable; color converts BT.601 like [[decodeJpegPixels]]. */
  private[graft] def jpegResizeNn(bytes: Array[Byte], outW: Int, outH: Int)
      : Option[(Int, Int, Long, Long, Long, Long)] =
    decodeJpegAny(bytes).map { d =>
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var ck = 0L
      def cl(v: Double): Int = {
        val r = math.round(v); if (r < 0) 0 else if (r > 255) 255 else r.toInt
      }
      var y = 0
      while (y < outH) {
        val sy = (y.toLong * d.height / outH).toInt
        var x = 0
        while (x < outW) {
          val sx = (x.toLong * d.width / outW).toInt
          var r = 0; var g = 0; var b = 0
          if (d.planes.length == 1) {
            val v = d.planes(0)(sy * d.planeW(0) + sx) & 0xff
            r = v; g = v; b = v
          } else {
            val yy = d.planes(0)((sy * d.compV(0) / d.vmax) * d.planeW(0)
              + sx * d.compH(0) / d.hmax) & 0xff
            val cb = (d.planes(1)((sy * d.compV(1) / d.vmax) * d.planeW(1)
              + sx * d.compH(1) / d.hmax) & 0xff) - 128
            val cr = (d.planes(2)((sy * d.compV(2) / d.vmax) * d.planeW(2)
              + sx * d.compH(2) / d.hmax) & 0xff) - 128
            r = cl(yy + 1.402 * cr)
            g = cl(yy - 0.344136 * cb - 0.714136 * cr)
            b = cl(yy + 1.772 * cb)
          }
          sumR += r; sumG += g; sumB += b
          ck += (y.toLong * outW + x + 1) * (b + (g << 8) + (r << 16))
          x += 1
        }
        y += 1
      }
      (d.width, d.height, sumR, sumG, sumB, ck)
    }

  /** [[imageResize]]'s per-blob kernel: header walk + bounds checks
    * identical to [[decodeBmpPixels]] (BI_RGB 24/32 bpp only; foreign
    * payloads yield `None` for the codec seam), then the NN index walk
    * over the out mesh. Returns (srcW, srcH, sumR, sumG, sumB,
    * positional checksum). */
  private[graft] def bmpResizeNn(bytes0: Array[Byte], outW: Int, outH: Int)
      : Option[(Int, Int, Long, Long, Long, Long)] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    if (i32le(bytes, 14) < 40) return None
    val off = i32le(bytes, 10)
    val width = i32le(bytes, 18)
    val hRaw = i32le(bytes, 22)
    val topDown = hRaw < 0 // negative height = rows stored top-first
    val height = math.abs(hRaw)
    val bpp = u16le(bytes, 28)
    if (i32le(bytes, 30) != 0 || (bpp != 24 && bpp != 32)) return None
    if (width <= 0 || height <= 0 || width > (1 << 20) || height > (1 << 20)) return None
    val bpx = bpp / 8
    val stride = ((width.toLong * bpx + 3) / 4) * 4
    if (off < 54 || off.toLong + stride * height > bytes.length) return None
    var sumB = 0L; var sumG = 0L; var sumR = 0L; var ck = 0L
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * height / outH).toInt // image-row index
      val fr = if (topDown) sy else height - 1 - sy
      val rowOff = off + (fr * stride).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * width / outW).toInt
        val p = rowOff + sx * bpx
        val b = bytes(p) & 0xff
        val g = bytes(p + 1) & 0xff
        val r = bytes(p + 2) & 0xff
        sumB += b; sumG += g; sumR += r
        ck += (y.toLong * outW + x + 1) * (b + (g << 8) + (r << 16))
        x += 1
      }
      y += 1
    }
    Some((width, height, sumR, sumG, sumB, ck))
  }

  /** Output fields shared by the RGBA-sum decoders: [[decodePng]],
    * [[decodeGif]], [[decodeJpeg]] and [[decodeBmpRle]]. */
  private val rgbaSumFields: Seq[StructField] = Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sum_a", LongType, nullable = false))

  /** REAL pixel decode for 8-bit-depth non-interlaced PNG (color types
    * 0 grey / 2 RGB / 6 RGBA): concatenates the IDAT chunks, inflates
    * the zlib stream (`java.util.zip.Inflater` — the JDK carries zlib,
    * so a COMPRESSED codec decodes pure-JVM with no dependency), then
    * reverses the per-row filter (None/Sub/Up/Average/Paeth, PNG spec
    * §9) reconstructing every scanline, and sums each channel.
    *
    * Untrusted-byte hardening, same discipline as the WAV/JPEG walks:
    * chunk lengths are bounds-checked before any read; header dims are
    * capped (2^14 per axis, 2^26 total samples) BEFORE the inflate
    * buffer is sized so a malicious IHDR cannot allocate unbounded
    * memory; a truncated or corrupt deflate stream, a short inflate, or
    * an out-of-range filter byte all yield `None`, never a throw or a
    * spin. ADAM7-interlaced images decode via the seven-pass walk
    * (each sub-image filtered independently; sums are placement-free).
    * 16-bit-depth images decode too (bytewise unfilter at the wider
    * pixel stride, big-endian sample assembly; sums are of 16-bit
    * sample VALUES); 16-bit indexed refuses (out of spec). */
  private[graft] def decodePngPixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long, Long)] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 45 || !isPngSignature(bytes)) return None
    if (i32be(bytes, 8) != 13 || tag(bytes, 12) != "IHDR") return None
    val width = i32be(bytes, 16)
    val height = i32be(bytes, 20)
    val depth = bytes(24) & 0xff
    val colorType = bytes(25) & 0xff
    val compression = bytes(26) & 0xff
    val filterMethod = bytes(27) & 0xff
    val interlace = bytes(28) & 0xff
    if ((depth != 8 && depth != 16) || compression != 0 || filterMethod != 0 ||
        interlace > 1) return None
    // colorType 3 = palette: 1 index byte per pixel, colors resolved
    // through the PLTE chunk (captured in the walk below); palette
    // images are 8-bit-max by spec — 16-bit indexed refuses
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 6 => 4; case _ => return None
    }
    if (depth == 16 && colorType == 3) return None
    val sampleBytes = depth / 8
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14)) return None
    if (width.toLong * height * channels > (1L << 26)) return None
    // chunk walk after IHDR (signature 8 + IHDR chunk 25 = 33):
    // IDAT payloads concatenate into ONE zlib stream (PNG spec §10);
    // PLTE (if any) must precede them and holds ≤ 256 RGB triples
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Byte] = null
    var p = 33L
    var seenIend = false
    while (!seenIend && p + 8 <= bytes.length) {
      val len = i32be(bytes, p.toInt)
      if (len < 0 || p + 12 + len > bytes.length) return None
      tag(bytes, p.toInt + 4) match {
        case "IDAT" => idat.write(bytes, p.toInt + 8, len)
        case "PLTE" =>
          if (len == 0 || len % 3 != 0 || len > 768 || idat.size() > 0) return None
          palette = java.util.Arrays.copyOfRange(bytes, p.toInt + 8, p.toInt + 8 + len)
        case "IEND" => seenIend = true
        case _      => ()
      }
      p += 12L + len
    }
    if (idat.size() == 0) return None
    if (colorType == 3 && palette == null) return None // indexed with no PLTE
    // filter distance = BYTES per pixel (PNG spec: ceil(depth/8) per
    // sample × channels) — 16-bit rows unfilter bytewise at stride 2
    val bpx = channels * sampleBytes
    // scanline layout: one sub-image for sequential PNGs, the seven
    // Adam7 sub-images (each filtered INDEPENDENTLY, empty passes
    // contribute no scanlines — PNG spec §8.2) for interlace 1. The
    // channel sums are placement-free, so de-interlacing reduces to
    // walking the passes in order.
    val passes: Seq[(Int, Int)] =
      if (interlace == 0) Seq((width, height))
      else Adam7Passes.map { case (x0, y0, dx, dy) =>
        (if (width > x0) (width - x0 + dx - 1) / dx else 0,
         if (height > y0) (height - y0 + dy - 1) / dy else 0)
      }.filter(p => p._1 > 0 && p._2 > 0)
    val rawLen = passes.map { case (w0, h0) => h0 * (w0 * bpx + 1) }.sum
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      var stalled = false
      while (got < rawLen && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, got, rawLen - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
        got += n
      }
      if (got < rawLen) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // Reconstruct rows in place (the filter predictors read already-
    // reconstructed bytes — left, up, up-left) one sub-image at a
    // time (filters never reach across a pass boundary), accumulating
    // channel sums in the same sweep.
    val sums = new Array[Long](4)
    var passOff = 0
    for ((w0, h0) <- passes) {
      val stride0 = w0 * bpx
      var r = 0
      while (r < h0) {
        val base = passOff + r * (stride0 + 1) + 1
        val prevBase = base - (stride0 + 1)
        val f = raw(base - 1) & 0xff
        if (f > 4) return None
        var i = 0
        while (i < stride0) {
          val x = raw(base + i) & 0xff
          val a = if (i >= bpx) raw(base + i - bpx) & 0xff else 0
          val b = if (r > 0) raw(prevBase + i) & 0xff else 0
          val c = if (r > 0 && i >= bpx) raw(prevBase + i - bpx) & 0xff else 0
          val rec = f match {
            case 0 => x
            case 1 => (x + a) & 0xff
            case 2 => (x + b) & 0xff
            case 3 => (x + (a + b) / 2) & 0xff
            case _ => // Paeth
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              (x + pred) & 0xff
          }
          raw(base + i) = rec.toByte
          if (colorType == 3) {
            // indexed: resolve through the palette; an index past the
            // PLTE is out of the PNG domain → refuse, never misread
            if (rec * 3 + 2 >= palette.length) return None
            sums(0) += palette(rec * 3) & 0xff
            sums(1) += palette(rec * 3 + 1) & 0xff
            sums(2) += palette(rec * 3 + 2) & 0xff
          } else if (sampleBytes == 1) sums(i % bpx) += rec
          else if ((i & 1) == 1) // low byte completes a big-endian 16-bit sample
            sums((i / 2) % channels) += (((raw(base + i - 1) & 0xff) << 8) | rec).toLong
          i += 1
        }
        r += 1
      }
      passOff += h0 * (stride0 + 1)
    }
    val (outCh, sr, sg, sb, sa) =
      if (colorType == 3) (3, sums(0), sums(1), sums(2), 0L)
      else channels match {
        case 1 => (1, sums(0), 0L, 0L, 0L)
        case 3 => (3, sums(0), sums(1), sums(2), 0L)
        case _ => (4, sums(0), sums(1), sums(2), sums(3))
      }
    Some((width, height, outCh, width.toLong * height, sr, sg, sb, sa))
  }

  /** [[decodePngPixels]] at scale: payloads it refuses are dropped
    * (the stub seam keeps carrying those). */
  def decodePng(blobs: DataFrame): DataFrame =
    perBlob(blobs, rgbaSumFields)(decodePngPixels)

  /** REAL pixel decode for GIF87a/89a with a global color table: walks
    * the logical-screen descriptor + image descriptor, concatenates
    * the image sub-blocks, and runs a full GENERAL LZW decoder
    * (variable code width mcs+1..12, clear/end codes, dictionary
    * rebuild, the code==next "KwKwK" case) resolving indices through
    * the color table into per-channel sums. GIF's LZW is the
    * spec-mandated compression, so like PNG's inflate this is a real
    * compressed-codec path, hand-rolled because the JDK carries no
    * standalone LZW.
    *
    * Untrusted-byte hardening: descriptor/table lengths bounds-checked
    * before any read; dims capped (2^14 per axis, 2^26 pixels) before
    * the output accounting; codes outside the live dictionary, output
    * beyond width·height, a missing end-of-information, or a truncated
    * sub-block chain all yield `None`, never a throw or a spin.
    * Interlaced images, local color tables, and transparency
    * extensions stay on the stub seam. */
  private[graft] def decodeGifPixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long, Long)] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 14) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val gctFlag = (bytes(10) & 0x80) != 0
    val gctBits = (bytes(10) & 0x07) + 1
    if (!gctFlag) return None // color resolution needs a table
    val gctLen = 3 * (1 << gctBits)
    var p = 13
    if (p + gctLen > bytes.length) return None
    val palette = java.util.Arrays.copyOfRange(bytes, p, p + gctLen)
    p += gctLen
    // skip 0x21 extension blocks (each: introducer, label, sub-blocks)
    while (p < bytes.length && (bytes(p) & 0xff) == 0x21) {
      p += 2
      while (p < bytes.length && bytes(p) != 0) {
        p += 1 + (bytes(p) & 0xff)
        if (p > bytes.length) return None
      }
      p += 1
    }
    if (p + 10 > bytes.length || (bytes(p) & 0xff) != 0x2c) return None
    val width = u16le(bytes, p + 5)
    val height = u16le(bytes, p + 7)
    val imgPacked = bytes(p + 9) & 0xff
    if ((imgPacked & 0x80) != 0 || (imgPacked & 0x40) != 0) return None // local table / interlace
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14)) return None
    val nPixels = width.toLong * height
    if (nPixels > (1L << 26)) return None
    p += 10
    gifLzwImage(bytes, p, nPixels, palette).map { case (sr, sg, sb, _) =>
      (width, height, 3, nPixels, sr, sg, sb, 0L)
    }
  }

  /** Decode ONE GIF image's LZW payload (min-code-size byte +
    * sub-block chain) starting at `p0`, resolving indices through
    * `palette` into channel sums; returns (sumR, sumG, sumB,
    * offsetAfterTerminator) or None on any malformation — the shared
    * engine of [[decodeGifPixels]] and [[decodeGifFrames]]. General
    * variable-width LZW (clear/end, dictionary rebuild, KwKwK),
    * LSB-first bit order, exact pixel-count accounting. */
  private def gifLzwImage(bytes: Array[Byte], p0: Int, nPixels: Long,
                          palette: Array[Byte]): Option[(Long, Long, Long, Int)] = {
    var p = p0
    if (p >= bytes.length) return None
    val mcs = bytes(p) & 0xff
    if (mcs < 2 || mcs > 8) return None
    p += 1
    // concatenate the image sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (p >= bytes.length) return None
      val len = bytes(p) & 0xff
      if (len == 0) { done = true; p += 1 }
      else {
        if (p + 1 + len > bytes.length) return None
        data.write(bytes, p + 1, len)
        p += 1 + len
      }
    }
    val stream = data.toByteArray
    // general LZW decode, LSB-first bit order
    val clear = 1 << mcs
    val end = clear + 1
    val dict = new Array[Array[Byte]](4096)
    var next = end + 1
    var codeWidth = mcs + 1
    var i = 0
    while (i < clear) { dict(i) = Array(i.toByte); i += 1 }
    val sums = new Array[Long](3)
    var outCount = 0L
    var prev: Array[Byte] = null
    var bitPos = 0L
    val totalBits = stream.length.toLong * 8
    def readCode(w: Int): Int = {
      if (bitPos + w > totalBits) return -1
      var v = 0; var k = 0
      while (k < w) {
        val b = stream(((bitPos + k) >> 3).toInt) & 0xff
        if ((b & (1 << ((bitPos + k) & 7))) != 0) v |= 1 << k
        k += 1
      }
      bitPos += w
      v
    }
    def emit(entry: Array[Byte]): Boolean = {
      var j = 0
      while (j < entry.length) {
        val idx = entry(j) & 0xff
        if (idx * 3 + 2 >= palette.length) return false
        if (outCount >= nPixels) return false
        sums(0) += palette(idx * 3) & 0xff
        sums(1) += palette(idx * 3 + 1) & 0xff
        sums(2) += palette(idx * 3 + 2) & 0xff
        outCount += 1
        j += 1
      }
      true
    }
    var finished = false
    while (!finished) {
      val code = readCode(codeWidth)
      if (code < 0) return None // truncated stream
      if (code == clear) {
        var j = end + 1; while (j < next) { dict(j) = null; j += 1 }
        next = end + 1; codeWidth = mcs + 1; prev = null
      } else if (code == end) {
        finished = true
      } else {
        val entry: Array[Byte] =
          if (code < next && dict(code) != null) dict(code)
          else if (code == next && prev != null) prev :+ prev(0) // KwKwK
          else return None
        if (!emit(entry)) return None
        if (prev != null && next < 4096) {
          dict(next) = prev :+ entry(0)
          next += 1
          if (next < 4096 && next == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = entry
      }
    }
    if (outCount != nPixels) return None
    Some((sums(0), sums(1), sums(2), p))
  }

  /** ANIMATED GIF frame walk: canvas dims + one record per frame —
    * geometry (x, y, w, h against the logical screen), the preceding
    * Graphic Control Extension's delay in centiseconds (0 if none),
    * and the REAL decoded per-frame channel sums (each frame is its
    * own LZW stream). Extensions other than GCE (NETSCAPE loop,
    * comments, plain text) are length-walked and skipped — the block
    * grammar, not a fixed layout. Refusals: no global color table,
    * local tables/interlace (the [[decodeGifPixels]] seam), frame
    * rectangles escaping the canvas, malformed sub-block chains, a
    * missing trailer, zero frames — None, never a throw or spin.
    * Returns (canvasW, canvasH, frames = (idx, x, y, w, h, delayCs,
    * nPixels, sumR, sumG, sumB)). */
  private[graft] def decodeGifFrames(bytes0: Array[Byte])
      : Option[(Int, Int, Vector[(Int, Int, Int, Int, Int, Int, Long, Long, Long, Long)])] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 14) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val canvasW = u16le(bytes, 6)
    val canvasH = u16le(bytes, 8)
    if (canvasW <= 0 || canvasH <= 0 || canvasW > (1 << 14) || canvasH > (1 << 14))
      return None
    val gctFlag = (bytes(10) & 0x80) != 0
    val gctBits = (bytes(10) & 0x07) + 1
    if (!gctFlag) return None
    val gctLen = 3 * (1 << gctBits)
    var p = 13
    if (p + gctLen > bytes.length) return None
    val palette = java.util.Arrays.copyOfRange(bytes, p, p + gctLen)
    p += gctLen
    val frames = Vector.newBuilder[(Int, Int, Int, Int, Int, Int, Long, Long, Long, Long)]
    var nFrames = 0
    var pendingDelay = 0
    var sawTrailer = false
    while (!sawTrailer) {
      if (p >= bytes.length) return None
      (bytes(p) & 0xff) match {
        case 0x21 => // extension: introducer, label, length-walked sub-blocks
          if (p + 2 > bytes.length) return None
          val label = bytes(p + 1) & 0xff
          if (label == 0xf9 && p + 7 <= bytes.length && (bytes(p + 2) & 0xff) >= 4)
            pendingDelay = u16le(bytes, p + 4)
          p += 2
          var doneExt = false
          while (!doneExt) {
            if (p >= bytes.length) return None
            val len = bytes(p) & 0xff
            if (len == 0) { doneExt = true; p += 1 }
            else {
              if (p + 1 + len > bytes.length) return None
              p += 1 + len
            }
          }
        case 0x2c => // image descriptor
          if (p + 10 > bytes.length) return None
          val x0 = u16le(bytes, p + 1); val y0 = u16le(bytes, p + 3)
          val w = u16le(bytes, p + 5); val h = u16le(bytes, p + 7)
          val imgPacked = bytes(p + 9) & 0xff
          if ((imgPacked & 0x80) != 0 || (imgPacked & 0x40) != 0) return None
          if (w <= 0 || h <= 0 || x0 + w > canvasW || y0 + h > canvasH) return None
          val nPix = w.toLong * h
          if (nPix > (1L << 26)) return None
          gifLzwImage(bytes, p + 10, nPix, palette) match {
            case Some((sr, sg, sb, pNext)) =>
              frames += ((nFrames, x0, y0, w, h, pendingDelay, nPix, sr, sg, sb))
              nFrames += 1
              pendingDelay = 0
              p = pNext
            case None => return None
          }
        case 0x3b => sawTrailer = true
        case _ => return None
      }
    }
    if (nFrames == 0) None else Some((canvasW, canvasH, frames.result()))
  }

  /** [[decodeGifFrames]] at scale: one output row per frame,
    * non-animated-decodable payloads dropped. The video-adjacent
    * curation readout: frame count, per-frame geometry/delay (scene
    * pacing), real pixel sums per frame (content drift across the
    * animation). */
  def gifFrames(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("canvas_w", LongType, nullable = false),
      StructField("canvas_h", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false),
      StructField("w", LongType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("delay_cs", LongType, nullable = false),
      StructField("n_pixels", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false))) { bytes =>
      decodeGifFrames(bytes).toSeq.flatMap { case (cw, ch, frames) =>
        frames.map { case (fi, x0, y0, w, h, d, np, sr, sg, sb) =>
          (cw.toLong, ch.toLong, fi.toLong, x0.toLong, y0.toLong, w.toLong, h.toLong,
            d.toLong, np, sr, sg, sb)
        }
      }
    }

  /** A COMPLETE animated GIF89a: NETSCAPE loop extension, then per
    * frame a Graphic Control Extension (delay (3 + (id+7f) mod 50) cs)
    * + image descriptor + its own LZW stream. Frame 0 is full-canvas;
    * frames f ≥ 1 are SUB-RECTANGLES (w = 1+(id+f) mod W, h =
    * 1+(id+2f) mod H at x = (id+3f) mod (W−w+1), y = (id+5f) mod
    * (H−h+1)) — the partial-update shape real animations ship. Frame
    * pixels index (id + x + 3r + 5f) mod 16 in frame-LOCAL coords
    * through the standard 16-entry analytic palette. */
  private[graft] def animatedGifBytes(id: Long, canvasW: Int, canvasH: Int,
                                      nFrames: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    w16(canvasW); w16(canvasH)
    out.write(0x80 | 0x03); out.write(0); out.write(0)
    for (j <- 0 until 16) {
      out.write((((id + 3 * j) % 256) + 256).toInt % 256)
      out.write((((id + 5 * j) % 256) + 256).toInt % 256)
      out.write((((id + 7 * j) % 256) + 256).toInt % 256)
    }
    // NETSCAPE 2.0 looping application extension (walked, not parsed)
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); w16(0) // loop forever
    out.write(0)
    for (f <- 0 until nFrames) {
      val (w, h, x0, y0) =
        if (f == 0) (canvasW, canvasH, 0, 0)
        else {
          val w = (1 + (id + f) % canvasW).toInt
          val h = (1 + (id + 2L * f) % canvasH).toInt
          ((w, h, ((id + 3L * f) % (canvasW - w + 1)).toInt,
            ((id + 5L * f) % (canvasH - h + 1)).toInt))
        }
      // GCE: block size 4, packed 0, delay, no transparent index
      out.write(0x21); out.write(0xf9); out.write(4); out.write(0)
      w16((3 + (id + 7L * f) % 50).toInt); out.write(0); out.write(0)
      out.write(0x2c); w16(x0); w16(y0); w16(w); w16(h); out.write(0)
      out.write(4)
      val idx = Array.tabulate(w * h) { k =>
        val x = k % w; val r = k / w
        ((((id + x + 3L * r + 5L * f) % 16) + 16) % 16).toInt
      }
      val lzw = gifLzwEncode(idx, 4)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        out.write(n)
        out.write(lzw, off, n)
        off += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Deterministic animated GIFs keyed on doc_id: canvas (2+id%9) ×
    * (2+id%6), 1 + id%4 frames. */
  def syntheticAnimatedGifBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(animatedGifFixtureBytes)

  private def animatedGifFixtureBytes(id: Long): Array[Byte] =
    animatedGifBytes(id, (2 + id % 9).toInt, (2 + id % 6).toInt, (1 + id % 4).toInt)

  /** [[decodeGifPixels]] at scale, non-decodable payloads dropped
    * (stub seam). */
  def decodeGif(blobs: DataFrame): DataFrame =
    perBlob(blobs, rgbaSumFields)(decodeGifPixels)

  /** GIF LZW bitstream for an index sequence: a spec-valid ROOT-ONLY
    * parse (LZW encoders may choose any parse — greedy is customary,
    * not required) that mirrors the DECODER's dictionary/width
    * schedule exactly: every emitted literal after the first causes
    * one decoder dictionary add, and the code width bumps when the
    * add reaches 1<<width — so the fixture exercises the decoder's
    * full variable-width machinery while the encoder needs no
    * dictionary at all. Emits clear up front, resets at 4095 to stay
    * in range, end-of-information last; LSB-first packing. */
  private[graft] def gifLzwEncode(indices: Array[Int], mcs: Int): Array[Byte] = {
    val clear = 1 << mcs
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var curBits = 0
    var width = mcs + 1
    var next = end + 1
    def put(code: Int): Unit = {
      cur |= code.toLong << curBits
      curBits += width
      while (curBits >= 8) {
        out.write((cur & 0xff).toInt); cur >>= 8; curBits -= 8
      }
    }
    put(clear)
    var started = false
    for (k <- indices) {
      if (next == 4095) { // pre-emptive reset, mirrors decoder state
        put(clear); next = end + 1; width = mcs + 1; started = false
      }
      put(k)
      if (started) {
        next += 1
        if (next < 4096 && next == (1 << width) && width < 12) width += 1
      }
      started = true
    }
    put(end)
    if (curBits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }

  /** A COMPLETE GIF87a: 16-entry global color table with the analytic
    * RGB of the palette-PNG fixtures (entry j = ((id+3j)%256,
    * (id+5j)%256, (id+7j)%256)), pixel index (id + x + 3r) % 16, LZW
    * mcs=4 — the decode oracle substitutes the palette formula into
    * the index formula. */
  private[graft] def gifBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF87a".getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    w16(width); w16(height)
    out.write(0x80 | 0x03) // GCT present, 2^(3+1)=16 entries
    out.write(0); out.write(0)
    for (j <- 0 until 16) {
      out.write((((id + 3 * j) % 256) + 256).toInt % 256)
      out.write((((id + 5 * j) % 256) + 256).toInt % 256)
      out.write((((id + 7 * j) % 256) + 256).toInt % 256)
    }
    out.write(0x2c); w16(0); w16(0); w16(width); w16(height); out.write(0)
    out.write(4) // LZW minimum code size
    val idx = Array.tabulate(width * height) { k =>
      val x = k % width; val r = k / width
      ((((id + x + 3L * r) % 16) + 16) % 16).toInt
    }
    val lzw = gifLzwEncode(idx, 4)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0)    // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Deterministic complete GIFs keyed on doc_id — the fixture
    * generator for [[decodeGif]]. */
  def syntheticGifBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id => gifBytes(id, (1 + id % 12).toInt, (1 + id % 8).toInt))

  // ------------------------------------------------------------------
  // Baseline JPEG (ITU-T T.81 / JFIF): pure-JVM pixel decode — the
  // majority codec of any web image corpus, and the last one whose
  // pixels this engine could not read (SOF header only before round
  // 8). The decoder is GENERAL baseline sequential: arbitrary DQT/DHT
  // tables, interleaved MCUs with any sampling factors, DC prediction,
  // AC run-length + ZRL + EOB, 0xFF00 byte unstuffing, DRI/RSTn
  // restarts, chroma upsampling, edge-block crop, YCbCr→RGB. The
  // FIXTURES are constructed for exactness (JPEG is lossy, so the
  // oracle must know the decoded pixels in closed form): every block
  // is DC-only with quantizer 16, so the IDCT of block (bx,by) is the
  // exact flat value 2·dc+128 in ANY conformant decoder (no rounding:
  // dc·16/8 is an even integer), and color fixtures carry zero chroma
  // (Cb=Cr=128 ⇒ R=G=B=Y exactly — the 1.402/1.772 terms vanish). The
  // AC/huffman machinery the flat fixtures skip is exercised by the
  // javax.imageio differential on a dedicated AC fixture
  // (MultimodalHeaderSpec).
  // ------------------------------------------------------------------

  /** Natural position of zigzag index k (T.81 Figure A.6). */
  private[graft] val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical huffman codes from a DHT-style (BITS, HUFFVAL) pair:
    * symbol → (codeLength, code). Shared by the fixture encoder and
    * the decoder's table builder so both sides construct T.81 Annex C
    * canonical codes from the same declaration. */
  private[graft] def jpegCanonicalCodes(bits: Array[Int], vals: Array[Int])
      : Array[(Int, Int, Int)] = {
    val out = Array.newBuilder[(Int, Int, Int)] // (symbol, len, code)
    var code = 0
    var vi = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += ((vals(vi), len, code))
        code += 1; vi += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  /** Fixture huffman declarations — deliberately COMPACT custom tables
    * (DHT permits any canonical table; using non-Annex-K tables makes
    * the decoder's table builder do real work): DC covers categories
    * 0..11, AC covers EOB, (run 0/1, size 1/2), ZRL. No code is
    * all-ones. */
  private[graft] val JpegDcBits = Array(0, 2, 2, 2, 2, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val JpegDcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private[graft] val JpegAcBits = Array(1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val JpegAcVals = Array(0x00, 0x01, 0x11, 0xf0, 0x02, 0x12)

  /** MSB-first entropy bit writer with T.81 byte stuffing (a data
    * 0xFF is followed by 0x00) and 1-fill to the byte boundary. */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code.toLong & ((1L << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = ((acc >> (nbits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00)
        nbits -= 8
      }
    }
    def flush(): Unit = if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
  }

  /** A COMPLETE baseline JFIF file. `mode`: 0 = grayscale, 1 = YCbCr
    * 4:4:4, 2 = YCbCr 4:2:0. `coef(comp, bx, by)` yields a block's 64
    * QUANTIZED coefficients in natural order (comp 0 = Y/gray, 1 = Cb,
    * 2 = Cr; (bx,by) in the component's own padded block grid). All
    * quantizers are 16 (both tables), sample precision 8. */
  private[graft] def jpegAssemble(width: Int, height: Int, mode: Int,
      coef: (Int, Int, Int) => Array[Int],
      restartInterval: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def m(code: Int): Unit = { out.write(0xff); out.write(code) }
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8) // SOI
    m(0xe0); w16(16) // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0); w16(1); w16(1); out.write(0); out.write(0)
    val nComp = if (mode == 0) 1 else 3
    // DQT: table 0 (luma) and, for color, table 1 (chroma) — all 16s
    val nQt = if (mode == 0) 1 else 2
    m(0xdb); w16(2 + 65 * nQt)
    for (t <- 0 until nQt) { out.write(t); for (_ <- 0 until 64) out.write(16) }
    // SOF0
    m(0xc0); w16(8 + 3 * nComp)
    out.write(8); w16(height); w16(width); out.write(nComp)
    val samp: Array[(Int, Int)] = mode match {
      case 0 => Array((1, 1))
      case 1 => Array((1, 1), (1, 1), (1, 1))
      case _ => Array((2, 2), (1, 1), (1, 1))
    }
    for (c <- 0 until nComp) {
      out.write(c + 1)
      out.write((samp(c)._1 << 4) | samp(c)._2)
      out.write(if (c == 0) 0 else 1)
    }
    // DHT: DC and AC tables, ids 0 (luma) and 1 (chroma)
    val nHt = if (mode == 0) 1 else 2
    for (tid <- 0 until nHt; cls <- 0 to 1) {
      val (bits, vals) = if (cls == 0) (JpegDcBits, JpegDcVals) else (JpegAcBits, JpegAcVals)
      m(0xc4); w16(2 + 1 + 16 + vals.length)
      out.write((cls << 4) | tid)
      bits.foreach(out.write)
      vals.foreach(out.write)
    }
    // DRI (restart interval in MCUs), when asked
    if (restartInterval > 0) { m(0xdd); w16(4); w16(restartInterval) }
    // SOS
    m(0xda); w16(6 + 2 * nComp)
    out.write(nComp)
    for (c <- 0 until nComp) {
      out.write(c + 1)
      val t = if (c == 0) 0 else 1
      out.write((t << 4) | t)
    }
    out.write(0); out.write(63); out.write(0)
    // entropy-coded scan: interleaved MCUs, DC prediction per comp
    val dcCodes = jpegCanonicalCodes(JpegDcBits, JpegDcVals)
      .map { case (s, l, c) => s -> ((l, c)) }.toMap
    val acCodes = jpegCanonicalCodes(JpegAcBits, JpegAcVals)
      .map { case (s, l, c) => s -> ((l, c)) }.toMap
    val bw = new JpegBitWriter(out)
    val hmax = samp.map(_._1).max
    val vmax = samp.map(_._2).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    val pred = new Array[Int](nComp)
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def encodeBlock(c: Int, bx: Int, by: Int): Unit = {
      val blk = coef(c, bx, by)
      val diff = blk(0) - pred(c)
      pred(c) = blk(0)
      val s = category(diff)
      val (dl, dc) = dcCodes(s)
      bw.put(dc, dl)
      if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
      // AC run-length in zigzag order
      var k = 1
      var zeroRun = 0
      var emittedLast = false
      while (k < 64) {
        val v = blk(JpegZigzag(k))
        if (v == 0) zeroRun += 1
        else {
          while (zeroRun > 15) {
            val (zl, zc) = acCodes(0xf0); bw.put(zc, zl); zeroRun -= 16
          }
          val sz = category(v)
          val (al, ac) = acCodes((zeroRun << 4) | sz)
          bw.put(ac, al)
          bw.put(if (v >= 0) v else v + (1 << sz) - 1, sz)
          zeroRun = 0
          emittedLast = k == 63
        }
        k += 1
      }
      if (!emittedLast) { val (el, ec) = acCodes(0x00); bw.put(ec, el) }
    }
    var mcuCount = 0
    for (my <- 0 until mcusY; mx <- 0 until mcusX) {
      if (restartInterval > 0 && mcuCount > 0 && mcuCount % restartInterval == 0) {
        // RSTn: pad to the byte boundary, emit the cycling marker,
        // reset every DC predictor (T.81 restart semantics)
        bw.flush()
        m(0xd0 + ((mcuCount / restartInterval - 1) % 8))
        java.util.Arrays.fill(pred, 0)
      }
      for (c <- 0 until nComp; v <- 0 until samp(c)._2; h <- 0 until samp(c)._1)
        encodeBlock(c, mx * samp(c)._1 + h, my * samp(c)._2 + v)
      mcuCount += 1
    }
    bw.flush()
    m(0xd9) // EOI
    out.toByteArray
  }

  /** A COMPLETE progressive (SOF2) JFIF file carrying the SAME
    * quantized coefficients as [[jpegAssemble]] would — a conformant
    * decoder must produce identical pixels from either encoding.
    * Scan script: interleaved DC first (Al=1) → DC refinement →
    * per-component AC first (Ss=1..63 at `acAl`) → per-component AC
    * refinement when acAl = 1 (newly-significant insertion +
    * correction bits — the full T.81 G.1.2.3 surface). The fixture
    * AC table constrains coefficients: |v| >> acAl ∈ {0, 1} and zero
    * runs ≡ 0/1 (mod 16) — enforced with require, never silently
    * mis-encoded. */
  private[graft] def jpegAssembleProgressive(width: Int, height: Int, mode: Int,
      coef: (Int, Int, Int) => Array[Int], acAl: Int = 0): Array[Byte] = {
    require(acAl == 0 || acAl == 1, "one successive-approximation level supported")
    val out = new java.io.ByteArrayOutputStream()
    def m(code: Int): Unit = { out.write(0xff); out.write(code) }
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8)
    m(0xe0); w16(16)
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0); w16(1); w16(1); out.write(0); out.write(0)
    val nComp = if (mode == 0) 1 else 3
    val nQt = if (mode == 0) 1 else 2
    m(0xdb); w16(2 + 65 * nQt)
    for (t <- 0 until nQt) { out.write(t); for (_ <- 0 until 64) out.write(16) }
    m(0xc2); w16(8 + 3 * nComp) // SOF2: progressive
    out.write(8); w16(height); w16(width); out.write(nComp)
    val samp: Array[(Int, Int)] = mode match {
      case 0 => Array((1, 1))
      case 1 => Array((1, 1), (1, 1), (1, 1))
      case _ => Array((2, 2), (1, 1), (1, 1))
    }
    for (c <- 0 until nComp) {
      out.write(c + 1)
      out.write((samp(c)._1 << 4) | samp(c)._2)
      out.write(if (c == 0) 0 else 1)
    }
    val nHt = if (mode == 0) 1 else 2
    for (tid <- 0 until nHt; cls <- 0 to 1) {
      val (bits, vals) = if (cls == 0) (JpegDcBits, JpegDcVals) else (JpegAcBits, JpegAcVals)
      m(0xc4); w16(2 + 1 + 16 + vals.length)
      out.write((cls << 4) | tid)
      bits.foreach(out.write)
      vals.foreach(out.write)
    }
    val dcCodes = jpegCanonicalCodes(JpegDcBits, JpegDcVals)
      .map { case (sy, l, c) => sy -> ((l, c)) }.toMap
    val acCodes = jpegCanonicalCodes(JpegAcBits, JpegAcVals)
      .map { case (sy, l, c) => sy -> ((l, c)) }.toMap
    val hmax = samp.map(_._1).max
    val vmax = samp.map(_._2).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    def trueBW(c: Int) = ((width * samp(c)._1 + hmax - 1) / hmax + 7) / 8
    def trueBH(c: Int) = ((height * samp(c)._2 + vmax - 1) / vmax + 7) / 8
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      m(0xda); w16(6 + 2 * comps.length)
      out.write(comps.length)
      for (c <- comps) {
        out.write(c + 1)
        val t = if (c == 0) 0 else 1
        out.write((t << 4) | t)
      }
      out.write(ss); out.write(se); out.write((ah << 4) | al)
    }
    def interleavedBlocks(f: (Int, Int, Int) => Unit): Unit =
      for (my <- 0 until mcusY; mx <- 0 until mcusX; c <- 0 until nComp;
           v <- 0 until samp(c)._2; h <- 0 until samp(c)._1)
        f(c, mx * samp(c)._1 + h, my * samp(c)._2 + v)
    // scan 1: DC first, Al = 1 (diffs of the arithmetic-shifted DC)
    sos(0 until nComp, 0, 0, 0, 1)
    locally {
      val bw = new JpegBitWriter(out)
      val pred = new Array[Int](nComp)
      interleavedBlocks { (c, bx, by) =>
        val dc = coef(c, bx, by)(0) >> 1
        val diff = dc - pred(c)
        pred(c) = dc
        val s = category(diff)
        val (dl, dcd) = dcCodes(s)
        bw.put(dcd, dl)
        if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
      }
      bw.flush()
    }
    // scan 2: DC refinement, the low bit of each DC (two's complement)
    sos(0 until nComp, 0, 0, 1, 0)
    locally {
      val bw = new JpegBitWriter(out)
      interleavedBlocks { (c, bx, by) => bw.put(coef(c, bx, by)(0) & 1, 1) }
      bw.flush()
    }
    // per component: AC first at acAl, then AC refinement when acAl = 1
    for (c <- 0 until nComp) {
      sos(Seq(c), 1, 63, 0, acAl)
      val bw = new JpegBitWriter(out)
      for (by <- 0 until trueBH(c); bx <- 0 until trueBW(c)) {
        val blk = coef(c, bx, by)
        var zeroRun = 0
        var lastK = 0
        for (k <- 1 to 63) {
          val v = blk(JpegZigzag(k))
          val t = if (v >= 0) math.abs(v) >> acAl else -(math.abs(v) >> acAl)
          if (t == 0) zeroRun += 1
          else {
            while (zeroRun > 15) {
              val (zl, zc) = acCodes(0xf0); bw.put(zc, zl); zeroRun -= 16
            }
            require(zeroRun <= 1 && math.abs(t) == 1,
              s"fixture AC layout outside the 4-symbol table (run=$zeroRun t=$t)")
            val (al2, ac2) = acCodes((zeroRun << 4) | 1)
            bw.put(ac2, al2)
            bw.put(if (t > 0) 1 else 0, 1)
            zeroRun = 0; lastK = k
          }
        }
        if (lastK < 63) { val (el, ec) = acCodes(0x00); bw.put(ec, el) }
      }
      bw.flush()
    }
    if (acAl == 1) for (c <- 0 until nComp) {
      sos(Seq(c), 1, 63, 1, 0)
      val bw = new JpegBitWriter(out)
      for (by <- 0 until trueBH(c); bx <- 0 until trueBW(c)) {
        val blk = coef(c, bx, by)
        val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
        def flush(): Unit = { bits.foreach(b => bw.put(b, 1)); bits.clear() }
        var r = 0
        var lastPlaced = 0
        for (k <- 1 to 63) {
          val v = blk(JpegZigzag(k))
          if ((math.abs(v) >> 1) != 0) bits += (math.abs(v) & 1)
          else if (math.abs(v) == 1) {
            while (r > 15) {
              val (zl, zc) = acCodes(0xf0); bw.put(zc, zl); flush(); r -= 16
            }
            require(r <= 1, s"refine run $r outside the 4-symbol table")
            val (al2, ac2) = acCodes((r << 4) | 1)
            bw.put(ac2, al2)
            bw.put(if (v > 0) 1 else 0, 1)
            flush()
            r = 0; lastPlaced = k
          } else r += 1
        }
        if (lastPlaced < 63) {
          val (el, ec) = acCodes(0x00); bw.put(ec, el); flush()
        } else require(bits.isEmpty, "corrections after a band-final insertion")
      }
      bw.flush()
    }
    m(0xd9)
    out.toByteArray
  }

  /** The oracle-exact fixture (see the section comment): mode id%3,
    * dims per mode, luma DC(bx,by) = ((id + 3bx + 5by) % 121) − 60 ⇒
    * decoded pixel(x,y) = 2·DC(x div 8, y div 8) + 128 ∈ [8, 248]
    * (never clamped), chroma DC 0 ⇒ R=G=B=Y. */
  private[graft] def jpegBaselineBytes(id: Long): Array[Byte] = {
    val mode = (id % 3).toInt
    val (w, h) = mode match {
      case 0 => ((1 + id % 21).toInt, (1 + id % 13).toInt)
      case 1 => ((1 + id % 19).toInt, (1 + id % 11).toInt)
      case _ => ((1 + id % 23).toInt, (1 + id % 17).toInt)
    }
    def blk(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      if (c == 0) a(0) = (((id + 3L * bx + 5L * by) % 121) - 60).toInt
      a
    }
    jpegAssemble(w, h, mode, blk)
  }

  /** [[jpegBaselineBytes]]' coefficients in PROGRESSIVE encoding —
    * identical decoded pixels by construction, so the progressive
    * query shares the baseline oracle verbatim. */
  private[graft] def jpegProgressiveBytes(id: Long): Array[Byte] = {
    val mode = (id % 3).toInt
    val (w, h) = mode match {
      case 0 => ((1 + id % 21).toInt, (1 + id % 13).toInt)
      case 1 => ((1 + id % 19).toInt, (1 + id % 11).toInt)
      case _ => ((1 + id % 23).toInt, (1 + id % 17).toInt)
    }
    def blk(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      if (c == 0) a(0) = (((id + 3L * bx + 5L * by) % 121) - 60).toInt
      a
    }
    jpegAssembleProgressive(w, h, mode, blk)
  }

  /** Deterministic complete PROGRESSIVE JPEGs keyed on doc_id. */
  def syntheticJpegProgressiveBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(jpegProgressiveBytes)

  /** Deterministic complete baseline JPEGs keyed on doc_id — the
    * fixture generator for [[decodeJpeg]]. */
  def syntheticJpegBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(jpegBaselineBytes)

  /** Decoded component planes plus the geometry needed to sample
    * them: planes are MCU-padded; visible pixel (x,y) of component c
    * reads plane(c)((y·v_c/vmax)·planeW(c) + x·h_c/hmax). */
  private[graft] final case class JpegDecoded(
      width: Int, height: Int, planes: Array[Array[Byte]],
      planeW: Array[Int], compH: Array[Int], compV: Array[Int],
      hmax: Int, vmax: Int)

  /** 64×64 grayscale baseline JPEGs for the perceptual-hash path:
    * each aHash grid cell (grid=8 → 8×8 pixels) is EXACTLY one JPEG
    * block, flat at 2·dc+128 — so the block means, the threshold and
    * every hash bit replay in closed form in the oracle. */
  def syntheticJpegAHashBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      // NON-LINEAR dc field (a linear gradient thresholds the same
      // way for every id, collapsing the hash space); everything
      // depends on id only through id mod 121, so ids ≡ (mod 121)
      // stay EXACT duplicates — the curation signal
      jpegAssemble(64, 64, 0, (_, bx, by) => {
        val a = new Array[Int](64)
        a(0) = (((id * (1 + bx) + (id + 5) * by * by + 3L * bx * by) % 121) - 60).toInt
        a
      })
    }

  /** Full baseline-sequential JPEG decode to component planes
    * (untrusted bytes: every malformed shape refuses with None, same
    * discipline as the PNG/GIF/WAV walks). Progressive (SOF2),
    * arithmetic coding, 12-bit precision and hierarchical modes
    * refuse — baseline only. */
  private[graft] def decodeJpegCore(bytes0: Array[Byte]): Option[JpegDecoded] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    val quant = new Array[Array[Int]](4) // natural-order quantizers
    // huffman tables: (class, id) → decode arrays
    val huffMin = Array.ofDim[Array[Int]](2, 4)
    val huffMax = Array.ofDim[Array[Int]](2, 4)
    val huffValIdx = Array.ofDim[Array[Int]](2, 4)
    val huffVals = Array.ofDim[Array[Int]](2, 4)
    var width = 0; var height = 0
    var compId: Array[Int] = null; var compH: Array[Int] = null
    var compV: Array[Int] = null; var compTq: Array[Int] = null
    var restartInterval = 0
    var p = 2
    var sosAt = -1
    var scanComp: Array[Int] = null // frame-component index per scan slot
    var scanDc: Array[Int] = null; var scanAc: Array[Int] = null
    while (sosAt < 0) {
      // marker walk (fill 0xFF bytes are legal padding)
      while (p < bytes.length && (bytes(p) & 0xff) != 0xff) return None
      while (p < bytes.length && (bytes(p) & 0xff) == 0xff) p += 1
      if (p >= bytes.length) return None
      val code = bytes(p) & 0xff; p += 1
      if (code == 0xd9) return None // EOI before SOS
      if (p + 2 > bytes.length) return None
      val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
      if (len < 2 || p + len > bytes.length) return None
      val seg = p + 2
      val segEnd = p + len
      code match {
        case 0xdb => // DQT: multiple tables per marker
          var q = seg
          while (q < segEnd) {
            val pq = (bytes(q) & 0xff) >> 4
            val tq = bytes(q) & 0x0f
            if (tq > 3 || pq > 1) return None
            q += 1
            val tbl = new Array[Int](64)
            var k = 0
            while (k < 64) {
              if (pq == 1) {
                if (q + 1 >= segEnd) return None
                tbl(JpegZigzag(k)) = ((bytes(q) & 0xff) << 8) | (bytes(q + 1) & 0xff)
                q += 2
              } else {
                if (q >= segEnd) return None
                tbl(JpegZigzag(k)) = bytes(q) & 0xff
                q += 1
              }
              k += 1
            }
            quant(tq) = tbl
          }
        case 0xc4 => // DHT: multiple tables per marker
          var q = seg
          while (q < segEnd) {
            val cls = (bytes(q) & 0xff) >> 4
            val tid = bytes(q) & 0x0f
            if (cls > 1 || tid > 3) return None
            q += 1
            if (q + 16 > segEnd) return None
            val bits = Array.tabulate(16)(i => bytes(q + i) & 0xff)
            q += 16
            val total = bits.sum
            if (total > 256 || q + total > segEnd) return None
            val vals = Array.tabulate(total)(i => bytes(q + i) & 0xff)
            q += total
            // canonical decode arrays (T.81 F.2.2.3): per length, the
            // min/max code and the index of the first value
            val mn = new Array[Int](17); val mx = new Array[Int](17)
            val vi = new Array[Int](17)
            var codeAcc = 0; var vidx = 0
            var l = 1
            while (l <= 16) {
              if (bits(l - 1) > 0) {
                vi(l) = vidx; mn(l) = codeAcc
                codeAcc += bits(l - 1); vidx += bits(l - 1)
                mx(l) = codeAcc - 1
              } else { mn(l) = 1; mx(l) = 0 } // empty length
              codeAcc <<= 1
              l += 1
            }
            huffMin(cls)(tid) = mn; huffMax(cls)(tid) = mx
            huffValIdx(cls)(tid) = vi; huffVals(cls)(tid) = vals
          }
        case 0xc0 | 0xc1 => // baseline / extended sequential huffman
          if (segEnd - seg < 6) return None
          val precision = bytes(seg) & 0xff
          if (precision != 8) return None
          height = ((bytes(seg + 1) & 0xff) << 8) | (bytes(seg + 2) & 0xff)
          width = ((bytes(seg + 3) & 0xff) << 8) | (bytes(seg + 4) & 0xff)
          val nc = bytes(seg + 5) & 0xff
          if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14))
            return None
          if (nc < 1 || nc > 4 || segEnd - seg < 6 + 3 * nc) return None
          compId = new Array[Int](nc); compH = new Array[Int](nc)
          compV = new Array[Int](nc); compTq = new Array[Int](nc)
          for (c <- 0 until nc) {
            compId(c) = bytes(seg + 6 + 3 * c) & 0xff
            val hv = bytes(seg + 7 + 3 * c) & 0xff
            compH(c) = hv >> 4; compV(c) = hv & 0x0f
            if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 || compV(c) > 4)
              return None
            compTq(c) = bytes(seg + 8 + 3 * c) & 0xff
            if (compTq(c) > 3) return None
          }
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // progressive / lossless / arithmetic / hierarchical
        case 0xdd => // DRI
          if (segEnd - seg < 2) return None
          restartInterval = ((bytes(seg) & 0xff) << 8) | (bytes(seg + 1) & 0xff)
        case 0xda => // SOS
          if (compId == null) return None
          val ns = bytes(seg) & 0xff
          if (ns < 1 || ns > 4 || segEnd - seg < 1 + 2 * ns + 3) return None
          // only the one-scan shapes baseline files use: a fully
          // interleaved scan of every frame component, or a
          // single-component frame
          if (ns != compId.length) return None
          scanComp = new Array[Int](ns); scanDc = new Array[Int](ns)
          scanAc = new Array[Int](ns)
          for (s <- 0 until ns) {
            val cid = bytes(seg + 1 + 2 * s) & 0xff
            val ci = compId.indexOf(cid)
            if (ci < 0) return None
            scanComp(s) = ci
            val tt = bytes(seg + 2 + 2 * s) & 0xff
            scanDc(s) = tt >> 4; scanAc(s) = tt & 0x0f
            if (scanDc(s) > 3 || scanAc(s) > 3) return None
          }
          sosAt = segEnd
        case _ => () // APPn / COM / others: skip
      }
      p = segEnd
    }
    val nComp = compId.length
    val nPixels = width.toLong * height
    if (nPixels > (1L << 26)) return None
    for (c <- 0 until nComp)
      if (quant(compTq(c)) == null) return None
    val hmax = compH.max; val vmax = compV.max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    // per-component padded planes
    val planeW = Array.tabulate(nComp)(c => mcusX * compH(c) * 8)
    val planeH = Array.tabulate(nComp)(c => mcusY * compV(c) * 8)
    val planes = Array.tabulate(nComp)(c => new Array[Byte](planeW(c) * planeH(c)))
    // entropy reader: MSB-first, 0xFF00 unstuffed, stops at markers
    var bp = sosAt // byte position
    var bitBuf = 0; var bitCnt = 0
    var hitMarker = false
    def fill(): Boolean = {
      if (bp >= bytes.length) return false
      val b = bytes(bp) & 0xff
      if (b == 0xff) {
        if (bp + 1 >= bytes.length) return false
        val nxt = bytes(bp + 1) & 0xff
        if (nxt == 0x00) { bp += 2 }
        else { hitMarker = true; return false }
      } else bp += 1
      bitBuf = (bitBuf << 8) | b; bitCnt += 8
      true
    }
    def readBit(): Int = {
      if (bitCnt == 0 && !fill()) return -1
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val b = readBit(); if (b < 0) return Int.MinValue
        v = (v << 1) | b; i += 1
      }
      v
    }
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    def decodeHuff(cls: Int, tid: Int): Int = {
      val mn = huffMin(cls)(tid)
      if (mn == null) return -1
      val mx = huffMax(cls)(tid); val vi = huffValIdx(cls)(tid)
      val vals = huffVals(cls)(tid)
      var code = 0; var l = 1
      while (l <= 16) {
        val b = readBit(); if (b < 0) return -1
        code = (code << 1) | b
        if (mn(l) <= mx(l) && code >= mn(l) && code <= mx(l))
          return vals(vi(l) + code - mn(l))
        l += 1
      }
      -1
    }
    // IDCT basis: cos((2x+1)uπ/16) · C(u), doubles (a DC-only block is
    // exact; general blocks are reference-float IDCT)
    val cosT = Array.tabulate(8, 8) { (x, u) =>
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    val coefBuf = new Array[Int](64)
    val pred = new Array[Int](nComp)
    def decodeBlock(c: Int, dcT: Int, acT: Int, bx: Int, by: Int): Boolean = {
      java.util.Arrays.fill(coefBuf, 0)
      val q = quant(compTq(c))
      val s = decodeHuff(0, dcT)
      if (s < 0 || s > 11) return false
      val dv = receive(s); if (dv == Int.MinValue) return false
      pred(c) += extend(dv, s)
      coefBuf(0) = pred(c) * q(0)
      var anyAc = false
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = decodeHuff(1, acT)
        if (rs < 0) return false
        val r = rs >> 4; val sz = rs & 0x0f
        if (sz == 0) {
          if (r == 15) k += 16 else eob = true
        } else {
          k += r
          if (k > 63) return false
          val av = receive(sz); if (av == Int.MinValue) return false
          // quant is natural-order; k is the zigzag index
          coefBuf(JpegZigzag(k)) = extend(av, sz) * q(JpegZigzag(k))
          anyAc = true
          k += 1
        }
      }
      // IDCT + level shift into the component plane
      val pw = planeW(c)
      val plane = planes(c)
      if (!anyAc) {
        // DC-only fast path (the libjpeg special case): the IDCT of a
        // lone DC coefficient is the flat value F(0,0)/8 — fill the
        // block with one rounded byte instead of 4096 multiplies.
        // Photographic JPEGs hit this on smooth regions; the flat
        // oracle fixtures hit it on every block.
        val px = math.round(coefBuf(0) / 8.0 + 128.0)
        val b = (if (px < 0) 0 else if (px > 255) 255 else px.toInt).toByte
        var y = 0
        while (y < 8) {
          java.util.Arrays.fill(plane, (by * 8 + y) * pw + bx * 8,
            (by * 8 + y) * pw + bx * 8 + 8, b)
          y += 1
        }
        return true
      }
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0.0
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              val cv = coefBuf(v * 8 + u)
              if (cv != 0) acc += cv * cosT(x)(u) * cosT(y)(v)
              v += 1
            }
            u += 1
          }
          val px = math.round(acc / 4.0 + 128.0)
          val clamped = if (px < 0) 0 else if (px > 255) 255 else px.toInt
          plane((by * 8 + y) * pw + bx * 8 + x) = clamped.toByte
          x += 1
        }
        y += 1
      }
      true
    }
    var mcuCount = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcuCount > 0 && mcuCount % restartInterval == 0) {
          // byte-align, expect RSTn, reset predictors
          bitCnt = 0
          if (!hitMarker) {
            if (bp + 1 >= bytes.length || (bytes(bp) & 0xff) != 0xff) return None
          }
          val rc = bytes(bp + 1) & 0xff
          if (rc < 0xd0 || rc > 0xd7) return None
          bp += 2; hitMarker = false
          java.util.Arrays.fill(pred, 0)
        }
        var s = 0
        while (s < scanComp.length) {
          val c = scanComp(s)
          var v = 0
          while (v < compV(c)) {
            var h = 0
            while (h < compH(c)) {
              if (!decodeBlock(c, scanDc(s), scanAc(s),
                  mx * compH(c) + h, my * compV(c) + v)) return None
              h += 1
            }
            v += 1
          }
          s += 1
        }
        mcuCount += 1
        mx += 1
      }
      my += 1
    }
    if (nComp == 1 || nComp == 3)
      Some(JpegDecoded(width, height, planes, planeW, compH, compV, hmax, vmax))
    else None
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Entropy bit reader shared by the progressive scans: MSB-first,
    * 0xFF00 unstuffed, stops (without consuming) at any real marker.
    * `pos` tracks the byte position so the marker walk resumes after
    * the scan. */
  private final class JpegBitReader(bytes: Array[Byte], start: Int) {
    var pos: Int = start
    private var bitBuf = 0
    private var bitCnt = 0
    var hitMarker = false
    private def fill(): Boolean = {
      if (pos >= bytes.length) return false
      val b = bytes(pos) & 0xff
      if (b == 0xff) {
        if (pos + 1 >= bytes.length) return false
        if ((bytes(pos + 1) & 0xff) == 0x00) pos += 2
        else { hitMarker = true; return false }
      } else pos += 1
      bitBuf = (bitBuf << 8) | b; bitCnt += 8
      true
    }
    def readBit(): Int = {
      if (bitCnt == 0 && !fill()) return -1
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val b = readBit(); if (b < 0) return Int.MinValue
        v = (v << 1) | b; i += 1
      }
      v
    }
    def align(): Unit = bitCnt = 0
    def decodeHuff(mn: Array[Int], mx: Array[Int], vi: Array[Int],
                   vals: Array[Int]): Int = {
      if (mn == null) return -1
      var code = 0; var l = 1
      while (l <= 16) {
        val b = readBit(); if (b < 0) return -1
        code = (code << 1) | b
        if (mn(l) <= mx(l) && code >= mn(l) && code <= mx(l))
          return vals(vi(l) + code - mn(l))
        l += 1
      }
      -1
    }
  }

  /** PROGRESSIVE (SOF2) JPEG decode — the multi-scan mode ~10–20% of
    * real web JPEGs use: quantized coefficients accumulate across
    * scans (DC first + successive-approximation refinement; per-
    * component AC spectral-selection scans with EOB-run coding and
    * refinement correction bits — the T.81 G.1.2 algorithms, ported
    * with libjpeg's EOBRUN bookkeeping since that is what every other
    * decoder interoperates with), then one dequantize + IDCT pass
    * builds the planes. Arithmetic coding, hierarchical and 12-bit
    * refuse; same untrusted-byte discipline as the baseline walk. */
  private[graft] def decodeJpegProgressive(bytes0: Array[Byte]): Option[JpegDecoded] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return None
    val quant = new Array[Array[Int]](4)
    val huffMin = Array.ofDim[Array[Int]](2, 4)
    val huffMax = Array.ofDim[Array[Int]](2, 4)
    val huffValIdx = Array.ofDim[Array[Int]](2, 4)
    val huffVals = Array.ofDim[Array[Int]](2, 4)
    var width = 0; var height = 0
    var compId: Array[Int] = null; var compH: Array[Int] = null
    var compV: Array[Int] = null; var compTq: Array[Int] = null
    var restartInterval = 0
    var hmax = 0; var vmax = 0; var mcusX = 0; var mcusY = 0
    // MCU-padded coefficient grids (quantized, natural order per block)
    var coefs: Array[Array[Int]] = null
    var gridW: Array[Int] = null; var gridH: Array[Int] = null
    var trueBW: Array[Int] = null; var trueBH: Array[Int] = null
    var p = 2
    var sawEoi = false
    var sawScan = false
    while (!sawEoi) {
      if (p < bytes.length && (bytes(p) & 0xff) != 0xff) return None
      while (p < bytes.length && (bytes(p) & 0xff) == 0xff) p += 1
      if (p >= bytes.length) return None
      val code = bytes(p) & 0xff; p += 1
      if (code == 0xd9) { sawEoi = true }
      else {
        if (p + 2 > bytes.length) return None
        val len = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
        if (len < 2 || p + len > bytes.length) return None
        val seg = p + 2
        val segEnd = p + len
        var nextP = segEnd
        code match {
          case 0xdb =>
            var q = seg
            while (q < segEnd) {
              val pq = (bytes(q) & 0xff) >> 4
              val tq = bytes(q) & 0x0f
              if (tq > 3 || pq > 1) return None
              q += 1
              val tbl = new Array[Int](64)
              var k = 0
              while (k < 64) {
                if (pq == 1) {
                  if (q + 1 >= segEnd) return None
                  tbl(JpegZigzag(k)) = ((bytes(q) & 0xff) << 8) | (bytes(q + 1) & 0xff)
                  q += 2
                } else {
                  if (q >= segEnd) return None
                  tbl(JpegZigzag(k)) = bytes(q) & 0xff
                  q += 1
                }
                k += 1
              }
              quant(tq) = tbl
            }
          case 0xc4 =>
            var q = seg
            while (q < segEnd) {
              val cls = (bytes(q) & 0xff) >> 4
              val tid = bytes(q) & 0x0f
              if (cls > 1 || tid > 3) return None
              q += 1
              if (q + 16 > segEnd) return None
              val bits = Array.tabulate(16)(i => bytes(q + i) & 0xff)
              q += 16
              val total = bits.sum
              if (total > 256 || q + total > segEnd) return None
              val vals = Array.tabulate(total)(i => bytes(q + i) & 0xff)
              q += total
              val mn = new Array[Int](17); val mx = new Array[Int](17)
              val vi = new Array[Int](17)
              var codeAcc = 0; var vidx = 0
              var l = 1
              while (l <= 16) {
                if (bits(l - 1) > 0) {
                  vi(l) = vidx; mn(l) = codeAcc
                  codeAcc += bits(l - 1); vidx += bits(l - 1)
                  mx(l) = codeAcc - 1
                } else { mn(l) = 1; mx(l) = 0 }
                codeAcc <<= 1
                l += 1
              }
              huffMin(cls)(tid) = mn; huffMax(cls)(tid) = mx
              huffValIdx(cls)(tid) = vi; huffVals(cls)(tid) = vals
            }
          case 0xc2 =>
            if (segEnd - seg < 6) return None
            if ((bytes(seg) & 0xff) != 8) return None
            height = ((bytes(seg + 1) & 0xff) << 8) | (bytes(seg + 2) & 0xff)
            width = ((bytes(seg + 3) & 0xff) << 8) | (bytes(seg + 4) & 0xff)
            val nc = bytes(seg + 5) & 0xff
            if (width <= 0 || height <= 0 || width > (1 << 13) || height > (1 << 13))
              return None
            // tighter cap than baseline: progressive must HOLD every
            // coefficient until the last scan (4 B/sample/component)
            if (width.toLong * height > (1L << 24)) return None
            if (nc < 1 || nc > 4 || segEnd - seg < 6 + 3 * nc) return None
            compId = new Array[Int](nc); compH = new Array[Int](nc)
            compV = new Array[Int](nc); compTq = new Array[Int](nc)
            for (c <- 0 until nc) {
              compId(c) = bytes(seg + 6 + 3 * c) & 0xff
              val hv = bytes(seg + 7 + 3 * c) & 0xff
              compH(c) = hv >> 4; compV(c) = hv & 0x0f
              if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 || compV(c) > 4)
                return None
              compTq(c) = bytes(seg + 8 + 3 * c) & 0xff
              if (compTq(c) > 3) return None
            }
            hmax = compH.max; vmax = compV.max
            mcusX = (width + 8 * hmax - 1) / (8 * hmax)
            mcusY = (height + 8 * vmax - 1) / (8 * vmax)
            gridW = Array.tabulate(nc)(c => mcusX * compH(c))
            gridH = Array.tabulate(nc)(c => mcusY * compV(c))
            trueBW = Array.tabulate(nc)(c =>
              ((width * compH(c) + hmax - 1) / hmax + 7) / 8)
            trueBH = Array.tabulate(nc)(c =>
              ((height * compV(c) + vmax - 1) / vmax + 7) / 8)
            coefs = Array.tabulate(nc)(c => new Array[Int](gridW(c) * gridH(c) * 64))
          case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // this path is SOF2-only
          case 0xdd =>
            if (segEnd - seg < 2) return None
            restartInterval = ((bytes(seg) & 0xff) << 8) | (bytes(seg + 1) & 0xff)
          case 0xda =>
            if (coefs == null) return None
            val ns = bytes(seg) & 0xff
            if (ns < 1 || ns > 4 || segEnd - seg < 1 + 2 * ns + 3) return None
            val scanComp = new Array[Int](ns)
            val scanDc = new Array[Int](ns); val scanAc = new Array[Int](ns)
            for (s <- 0 until ns) {
              val cid = bytes(seg + 1 + 2 * s) & 0xff
              val ci = compId.indexOf(cid)
              if (ci < 0) return None
              scanComp(s) = ci
              val tt = bytes(seg + 2 + 2 * s) & 0xff
              scanDc(s) = tt >> 4; scanAc(s) = tt & 0x0f
              if (scanDc(s) > 3 || scanAc(s) > 3) return None
            }
            val ss = bytes(seg + 1 + 2 * ns) & 0xff
            val se = bytes(seg + 2 + 2 * ns) & 0xff
            val ahal = bytes(seg + 3 + 2 * ns) & 0xff
            val ah = ahal >> 4; val al = ahal & 0x0f
            if (ss > 63 || se > 63 || se < ss || al > 13) return None
            if (ss == 0 && se != 0) return None       // DC scan is band [0,0]
            if (ss > 0 && ns != 1) return None        // AC scans: one component
            if (ah != 0 && ah != al + 1) return None  // successive approx step
            val br = new JpegBitReader(bytes, segEnd)
            if (!progressiveScan(br, coefs, scanComp, scanDc, scanAc,
                ss, se, ah, al, compH, compV, gridW, trueBW, trueBH,
                huffMin, huffMax, huffValIdx, huffVals,
                mcusX, mcusY, restartInterval, bytes))
              return None
            sawScan = true
            nextP = br.pos
          case _ => ()
        }
        p = nextP
      }
    }
    if (coefs == null || !sawScan) return None
    for (c <- compId.indices)
      if (quant(compTq(c)) == null) return None
    // one dequantize + IDCT pass over the accumulated coefficients
    val nComp = compId.length
    val planeW = Array.tabulate(nComp)(c => gridW(c) * 8)
    val planes = Array.tabulate(nComp)(c => new Array[Byte](planeW(c) * gridH(c) * 8))
    val cosT = Array.tabulate(8, 8) { (x, u) =>
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    for (c <- 0 until nComp) {
      val q = quant(compTq(c))
      val arr = coefs(c)
      val pw = planeW(c)
      var by = 0
      while (by < gridH(c)) {
        var bx = 0
        while (bx < gridW(c)) {
          val off = (by * gridW(c) + bx) * 64
          var anyAc = false
          var i = 1
          while (i < 64 && !anyAc) { if (arr(off + i) != 0) anyAc = true; i += 1 }
          if (!anyAc) {
            val px = math.round(arr(off) * q(0) / 8.0 + 128.0)
            val b = (if (px < 0) 0 else if (px > 255) 255 else px.toInt).toByte
            var y = 0
            while (y < 8) {
              java.util.Arrays.fill(planes(c), (by * 8 + y) * pw + bx * 8,
                (by * 8 + y) * pw + bx * 8 + 8, b)
              y += 1
            }
          } else {
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                var acc = 0.0
                var u = 0
                while (u < 8) {
                  var v = 0
                  while (v < 8) {
                    val cv = arr(off + v * 8 + u)
                    if (cv != 0) acc += cv.toDouble * q(v * 8 + u) * cosT(x)(u) * cosT(y)(v)
                    v += 1
                  }
                  u += 1
                }
                val px = math.round(acc / 4.0 + 128.0)
                planes(c)((by * 8 + y) * pw + bx * 8 + x) =
                  (if (px < 0) 0 else if (px > 255) 255 else px.toInt).toByte
                x += 1
              }
              y += 1
            }
          }
          bx += 1
        }
        by += 1
      }
    }
    if (nComp == 1 || nComp == 3)
      Some(JpegDecoded(width, height, planes, planeW, compH, compV, hmax, vmax))
    else None
  } catch { case scala.util.control.NonFatal(_) => None }

  /** One progressive scan into the coefficient grids. Returns false on
    * any malformed shape. DC scans may be interleaved; AC scans are
    * single-component over the TRUE (unpadded) block grid. */
  private def progressiveScan(br: JpegBitReader, coefs: Array[Array[Int]],
      scanComp: Array[Int], scanDc: Array[Int], scanAc: Array[Int],
      ss: Int, se: Int, ah: Int, al: Int,
      compH: Array[Int], compV: Array[Int], gridW: Array[Int],
      trueBW: Array[Int], trueBH: Array[Int],
      huffMin: Array[Array[Array[Int]]], huffMax: Array[Array[Array[Int]]],
      huffValIdx: Array[Array[Array[Int]]], huffVals: Array[Array[Array[Int]]],
      mcusX: Int, mcusY: Int, restartInterval: Int,
      bytes: Array[Byte]): Boolean = {
    val pred = new Array[Int](coefs.length)
    var eobrun = 0
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    def huff(cls: Int, tid: Int): Int =
      br.decodeHuff(huffMin(cls)(tid), huffMax(cls)(tid),
        huffValIdx(cls)(tid), huffVals(cls)(tid))
    def restart(): Boolean = {
      br.align()
      if (!br.hitMarker) {
        if (br.pos + 1 >= bytes.length || (bytes(br.pos) & 0xff) != 0xff) return false
      }
      val rc = bytes(br.pos + 1) & 0xff
      if (rc < 0xd0 || rc > 0xd7) return false
      br.pos += 2; br.hitMarker = false
      java.util.Arrays.fill(pred, 0)
      eobrun = 0
      true
    }
    def dcBlock(c: Int, s: Int, off: Int): Boolean = {
      val arr = coefs(c)
      if (ah == 0) {
        val sz = huff(0, scanDc(s))
        if (sz < 0 || sz > 11) return false
        val dv = br.receive(sz); if (dv == Int.MinValue) return false
        pred(c) += extend(dv, sz)
        arr(off) = pred(c) << al
      } else {
        val b = br.readBit(); if (b < 0) return false
        if (b == 1) arr(off) |= 1 << al
      }
      true
    }
    // T.81 G.1.2.2 / libjpeg decode_mcu_AC_first
    def acFirstBlock(c: Int, s: Int, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val arr = coefs(c)
      var k = ss
      while (k <= se) {
        val rs = huff(1, scanAc(s)); if (rs < 0) return false
        val r = rs >> 4; val sz = rs & 15
        if (sz == 0) {
          if (r == 15) k += 16
          else {
            eobrun = 1 << r
            if (r > 0) {
              val b = br.receive(r); if (b == Int.MinValue) return false
              eobrun += b
            }
            eobrun -= 1 // this block is consumed
            return true
          }
        } else {
          k += r
          if (k > se) return false
          val v = br.receive(sz); if (v == Int.MinValue) return false
          arr(off + JpegZigzag(k)) = extend(v, sz) << al
          k += 1
        }
      }
      true
    }
    // T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine: corrections for
    // already-nonzero coefficients ride inline with the run coding
    def acRefineBlock(c: Int, s: Int, off: Int): Boolean = {
      val arr = coefs(c)
      val p1 = 1 << al; val m1 = -1 << al
      var k = ss
      def correct(z: Int): Boolean = {
        val b = br.readBit(); if (b < 0) return false
        if (b == 1 && (arr(off + z) & p1) == 0)
          arr(off + z) += (if (arr(off + z) >= 0) p1 else m1)
        true
      }
      if (eobrun == 0) {
        var broke = false
        while (k <= se && !broke) {
          val rs = huff(1, scanAc(s)); if (rs < 0) return false
          var r = rs >> 4; val sz = rs & 15
          var newval = 0
          if (sz == 0) {
            if (r != 15) {
              eobrun = 1 << r
              if (r > 0) {
                val b = br.receive(r); if (b == Int.MinValue) return false
                eobrun += b
              }
              broke = true
            }
            // r == 15 (ZRL): skip 16 zero-history slots below
          } else {
            if (sz != 1) return false
            val b = br.readBit(); if (b < 0) return false
            newval = if (b == 1) p1 else m1
          }
          if (!broke) {
            var placed = false
            while (k <= se && !placed) {
              val z = JpegZigzag(k)
              if (arr(off + z) != 0) {
                if (!correct(z)) return false
              } else {
                r -= 1
                if (r < 0) placed = true
              }
              if (!placed) k += 1
            }
            if (!placed) return false // run overran the band
            if (newval != 0) {
              if (k > se) return false
              arr(off + JpegZigzag(k)) = newval
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val z = JpegZigzag(k)
          if (arr(off + z) != 0 && !correct(z)) return false
          k += 1
        }
        eobrun -= 1
      }
      true
    }
    def block(c: Int, s: Int, bx: Int, by: Int): Boolean = {
      val off = (by * gridW(c) + bx) * 64
      if (ss == 0) dcBlock(c, s, off)
      else if (ah == 0) acFirstBlock(c, s, off)
      else acRefineBlock(c, s, off)
    }
    if (scanComp.length > 1 || (ss == 0 && scanComp.length == coefs.length)) {
      // interleaved MCU traversal (DC scans)
      var count = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && count > 0 && count % restartInterval == 0
              && !restart()) return false
          var s = 0
          while (s < scanComp.length) {
            val c = scanComp(s)
            var v = 0
            while (v < compV(c)) {
              var h = 0
              while (h < compH(c)) {
                if (!block(c, s, mx * compH(c) + h, my * compV(c) + v)) return false
                h += 1
              }
              v += 1
            }
            s += 1
          }
          count += 1
          mx += 1
        }
        my += 1
      }
    } else {
      // non-interleaved: the component's true block grid, raster order
      val c = scanComp(0)
      var count = 0
      var by = 0
      while (by < trueBH(c)) {
        var bx = 0
        while (bx < trueBW(c)) {
          if (restartInterval > 0 && count > 0 && count % restartInterval == 0
              && !restart()) return false
          if (!block(c, 0, bx, by)) return false
          count += 1
          bx += 1
        }
        by += 1
      }
    }
    true
  }

  /** Baseline OR progressive decode — the public seam every JPEG
    * consumer (pixels, gray mesh, resize) goes through. */
  private[graft] def decodeJpegAny(bytes: Array[Byte]): Option[JpegDecoded] =
    decodeJpegCore(bytes).orElse(decodeJpegProgressive(bytes))

  /** [[decodeJpegCore]] sampled to per-channel byte sums: (w, h,
    * channels, nPixels, sumR, sumG, sumB, 0); grayscale reports
    * channels=1 with the gray sum in sumR (the PNG grey convention).
    * Color converts YCbCr→RGB (ITU-R BT.601 constants) with chroma
    * planes index-scaled by the sampling ratio (box upsampling). */
  private[graft] def decodeJpegPixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long, Long)] =
    decodeJpegAny(bytes0).map { d =>
      import d._
      val nPixels = width.toLong * height
      var sumR = 0L; var sumG = 0L; var sumB = 0L
      def cl(v: Double): Int = {
        val r = math.round(v); if (r < 0) 0 else if (r > 255) 255 else r.toInt
      }
      if (planes.length == 1) {
        val pw = planeW(0); val plane = planes(0)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) { sumR += plane(y * pw + x) & 0xff; x += 1 }
          y += 1
        }
        (width, height, 1, nPixels, sumR, 0L, 0L, 0L)
      } else {
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val yy = planes(0)((y * compV(0) / vmax) * planeW(0) + x * compH(0) / hmax) & 0xff
            val cb = (planes(1)((y * compV(1) / vmax) * planeW(1) + x * compH(1) / hmax) & 0xff) - 128
            val cr = (planes(2)((y * compV(2) / vmax) * planeW(2) + x * compH(2) / hmax) & 0xff) - 128
            sumR += cl(yy + 1.402 * cr)
            sumG += cl(yy - 0.344136 * cb - 0.714136 * cr)
            sumB += cl(yy + 1.772 * cb)
            x += 1
          }
          y += 1
        }
        (width, height, 3, nPixels, sumR, sumG, sumB, 0L)
      }
    }

  /** [[decodeJpegPixels]] at scale, non-decodable payloads dropped
    * (stub seam). */
  def decodeJpeg(blobs: DataFrame): DataFrame =
    perBlob(blobs, rgbaSumFields)(decodeJpegPixels)

  /** One PNG chunk: [len BE][type][payload][CRC32(type||payload)] —
    * real CRCs, so fixtures are valid PNGs end to end. */
  private def pngChunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.putInt(payload.length)
    val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.put(tb).put(payload)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(payload)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** A COMPLETE valid PNG whose pixels are arithmetic in (id, x, row):
    * channel k of pixel (x, r) is `(id + mₖ·x + nₖ·r) % 256` with
    * (m,n) = (2,3), (5,1), (1,7), (1,1) — the same analytic-grid idea
    * as [[bmpPixelBytes]], so the decode oracle re-derives every
    * channel sum in SQL. Each row is forward-filtered with filter type
    * `(id + r) % 5`, exercising ALL five PNG filters; the zlib stream
    * is split across two IDAT chunks to exercise concatenation. */
  /** Forward-filter reconstructed rows (filter type per row from
    * `rowFilter`) into the filter-byte-prefixed raw scanline stream. */
  /** Adam7 pass grid (PNG spec §8.2): (xStart, yStart, xStep, yStep)
    * per pass; the seven passes partition every pixel exactly once. */
  private val Adam7Passes: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def pngFilterRows(recon: Array[Array[Int]], bpx: Int,
                            rowFilter: Int => Int): Array[Byte] = {
    val height = recon.length
    val stride = if (height == 0) 0 else recon(0).length
    val raw = new Array[Byte](height * (stride + 1))
    for (r <- 0 until height) {
      val base = r * (stride + 1)
      val f = rowFilter(r)
      raw(base) = f.toByte
      for (i <- 0 until stride) {
        val x = recon(r)(i)
        val a = if (i >= bpx) recon(r)(i - bpx) else 0
        val b = if (r > 0) recon(r - 1)(i) else 0
        val c = if (r > 0 && i >= bpx) recon(r - 1)(i - bpx) else 0
        val filt = f match {
          case 0 => x
          case 1 => (x - a) & 0xff
          case 2 => (x - b) & 0xff
          case 3 => (x - (a + b) / 2) & 0xff
          case _ =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (x - pred) & 0xff
        }
        raw(base + 1 + i) = filt.toByte
      }
    }
    raw
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zBuf = new Array[Byte](raw.length + 64)
    var zLen = 0
    while (!deflater.finished()) zLen += deflater.deflate(zBuf, zLen, zBuf.length - zLen)
    deflater.end()
    java.util.Arrays.copyOf(zBuf, zLen)
  }

  /** Assemble a complete PNG: IHDR, optional PLTE, the zlib stream
    * split across TWO IDATs (exercising concatenation), IEND. */
  private def pngAssemble(width: Int, height: Int, colorType: Int,
                          z: Array[Byte], plte: Option[Array[Byte]],
                          interlace: Int = 0, depth: Int = 8): Array[Byte] = {
    val ihdrPayload = {
      val b = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.BIG_ENDIAN)
      b.putInt(width).putInt(height)
      b.put(depth.toByte).put(colorType.toByte)
      b.put(0.toByte).put(0.toByte).put(interlace.toByte)
      b.array()
    }
    val cut = z.length / 2
    val out = new java.io.ByteArrayOutputStream()
    PngSignature.foreach(x => out.write(x))
    out.write(pngChunk("IHDR", ihdrPayload))
    plte.foreach(pal => out.write(pngChunk("PLTE", pal)))
    out.write(pngChunk("IDAT", java.util.Arrays.copyOfRange(z, 0, cut)))
    out.write(pngChunk("IDAT", java.util.Arrays.copyOfRange(z, cut, z.length)))
    out.write(pngChunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  private[graft] def pngPixelBytes(id: Long, width: Int, height: Int,
                                   colorType: Int): Array[Byte] = {
    val channels = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
    val stride = width * channels
    val mk = Array(2, 5, 1, 1); val nk = Array(3, 1, 7, 1)
    def px(x: Int, r: Int, k: Int): Int = (((id + mk(k) * x + nk(k) * r) % 256) + 256).toInt % 256
    val recon = Array.tabulate(height, stride) { (r, i) => px(i / channels, r, i % channels) }
    val raw = pngFilterRows(recon, channels, r => ((id + r) % 5).toInt)
    pngAssemble(width, height, colorType, deflateBytes(raw), None)
  }

  /** A COMPLETE 16-bit-depth PNG (the scientific/scanner-pipeline
    * depth): big-endian sample v(x,r,k) = (id·131 + 257x + 509r +
    * 769k) mod 65536, rows forward-filtered BYTEWISE at the 2-byte
    * sample stride with filter (id + r) % 5 — one encoding step past
    * the 8-bit twins; the oracle re-enumerates the 16-bit values. */
  private[graft] def pngPixel16Bytes(id: Long, width: Int, height: Int,
                                     colorType: Int): Array[Byte] = {
    val channels = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
    def v(x: Int, r: Int, k: Int): Int =
      ((id * 131 + 257L * x + 509L * r + 769L * k) % 65536).toInt
    val recon = Array.tabulate(height, width * channels * 2) { (r, i) =>
      val s = i / 2
      val value = v(s / channels, r, s % channels)
      if (i % 2 == 0) (value >> 8) & 0xff else value & 0xff
    }
    val raw = pngFilterRows(recon, channels * 2, r => ((id + r) % 5).toInt)
    pngAssemble(width, height, colorType, deflateBytes(raw), None, depth = 16)
  }

  /** Deterministic 16-bit PNGs keyed on doc_id (grey/RGB/RGBA by
    * id%3, dims arithmetic in doc_id). */
  def syntheticPng16Blobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(png16FixtureBytes)

  private def png16FixtureBytes(id: Long): Array[Byte] =
    pngPixel16Bytes(id, (1 + id % 10).toInt, (1 + id % 7).toInt, Array(0, 2, 6)((id % 3).toInt))

  /** [[pngPixelBytes]]' pixels in ADAM7 INTERLACED encoding: the same
    * analytic (x, row) grid extracted into the seven pass sub-images,
    * each forward-filtered independently (filter (id + pass + row) % 5
    * so every filter type appears INSIDE passes), one zlib stream.
    * Decoded sums must equal the sequential twin's — the progressive-
    * JPEG trick: the interlaced query shares the sequential oracle
    * verbatim, so a hash match proves the pass walk is transparent. */
  private[graft] def pngInterlacedPixelBytes(id: Long, width: Int, height: Int,
                                             colorType: Int): Array[Byte] = {
    val channels = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
    val mk = Array(2, 5, 1, 1); val nk = Array(3, 1, 7, 1)
    def px(x: Int, r: Int, k: Int): Int = (((id + mk(k) * x + nk(k) * r) % 256) + 256).toInt % 256
    val out = new java.io.ByteArrayOutputStream()
    Adam7Passes.zipWithIndex.foreach { case ((x0, y0, dx, dy), pi) =>
      val w0 = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val h0 = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (w0 > 0 && h0 > 0) {
        val recon = Array.tabulate(h0, w0 * channels) { (ry, i) =>
          px(x0 + (i / channels) * dx, y0 + ry * dy, i % channels)
        }
        out.write(pngFilterRows(recon, channels, r => ((id + pi + r) % 5).toInt))
      }
    }
    pngAssemble(width, height, colorType, deflateBytes(out.toByteArray),
      None, interlace = 1)
  }

  /** Deterministic ADAM7-interlaced PNGs — [[syntheticPngBlobs]]' dims,
    * color types and pixels exactly, in interlaced encoding. */
  def syntheticInterlacedPngBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id => pngInterlacedPixelBytes(id, (1 + id % 13).toInt, (1 + id % 9).toInt,
      Array(0, 2, 6)((id % 3).toInt)))

  /** A COMPLETE indexed (colorType 3) PNG: 16-entry palette with
    * analytic RGB — entry j = ((id+3j)%256, (id+5j)%256, (id+7j)%256)
    * — and pixel index (id + x + r) % 16, rows forward-filtered with
    * (id + r) % 5. The decode oracle re-derives every channel sum by
    * substituting the palette formula into the index formula. */
  private[graft] def pngPalettePixelBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val pal = new Array[Byte](16 * 3)
    for (j <- 0 until 16) {
      pal(3 * j) = (((id + 3 * j) % 256)).toByte
      pal(3 * j + 1) = (((id + 5 * j) % 256)).toByte
      pal(3 * j + 2) = (((id + 7 * j) % 256)).toByte
    }
    val recon = Array.tabulate(height, width)((r, x) => (((id + x + r) % 16) + 16).toInt % 16)
    val raw = pngFilterRows(recon, 1, r => ((id + r) % 5).toInt)
    pngAssemble(width, height, 3, deflateBytes(raw), Some(pal))
  }

  /** Deterministic complete indexed PNGs keyed on doc_id — the
    * fixture generator for the palette path of [[decodePng]]. */
  def syntheticPalettePngBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id => pngPalettePixelBytes(id, (1 + id % 11).toInt, (1 + id % 7).toInt))

  /** Deterministic complete PNGs keyed on doc_id (color type cycling
    * grey/RGB/RGBA by id%3; dims arithmetic in doc_id) — the fixture
    * generator for [[decodePng]]'s oracle: the oracle re-enumerates the
    * (x, row) grid in SQL, so a hash-match proves the inflate +
    * unfilter reconstruction read every byte back correctly. */
  def syntheticPngBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id =>
      pngPixelBytes(id, (1 + id % 13).toInt, (1 + id % 9).toInt, Array(0, 2, 6)((id % 3).toInt)))

  /** Minimal valid BMP bytes (BITMAPINFOHEADER, no pixel payload —
    * header-only, which is exactly what [[parseHeader]] reads). */
  private[graft] def bmpBytes(width: Int, height: Int, bpp: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(54)            // file size (header only)
    b.putInt(0)             // reserved
    b.putInt(54)            // pixel-data offset
    b.putInt(40)            // DIB header size
    b.putInt(width).putInt(height)
    b.putShort(1)           // planes
    b.putShort(bpp.toShort)
    b.array()
  }

  /** A COMPLETE uncompressed BMP (BITMAPINFOHEADER + BI_RGB pixel
    * array, rows 4-byte padded, bottom-up): pixel bytes are arithmetic
    * in (id, x, file-row r) — B=(id+2x+3r)%256, G=(id+5x+r)%256,
    * R=(id+x+7r)%256, A=(id+x+r)%256 for 32 bpp — so the decode
    * oracle re-derives every channel sum analytically. */
  private[graft] def bmpPixelBytes(id: Long, width: Int, height: Int,
                                   bpp: Int): Array[Byte] = {
    val bpx = bpp / 8
    val stride = ((width * bpx + 3) / 4) * 4
    val size = 54 + stride * height
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(size)
    b.putInt(0)             // reserved
    b.putInt(54)            // pixel-data offset
    b.putInt(40)            // DIB header size
    b.putInt(width).putInt(height)
    b.putShort(1)           // planes
    b.putShort(bpp.toShort)
    b.putInt(0)             // compression = BI_RGB
    b.putInt(stride * height)
    b.putInt(2835).putInt(2835) // 72 dpi
    b.putInt(0).putInt(0)   // palette
    var r = 0
    while (r < height) {
      var x = 0
      while (x < width) {
        b.put(((id + 2 * x + 3 * r) % 256).toByte)
        b.put(((id + 5 * x + r) % 256).toByte)
        b.put(((id + x + 7 * r) % 256).toByte)
        if (bpx == 4) b.put(((id + x + r) % 256).toByte)
        x += 1
      }
      var pad = width * bpx
      while (pad < stride) { b.put(0.toByte); pad += 1 }
      r += 1
    }
    b.array()
  }

  /** Perceptual average-hash (aHash) over DECODED pixels — image
    * near-dup detection on the real decode path: gray the pixels
    * ((B+G+R)/3 integer), partition into a `grid`×`grid` block mesh,
    * integer block means, threshold each block against the
    * floor-mean of the 64 means (shift-invariant: a globally
    * brightened copy hashes identically), pack into a 64-bit hash.
    * All integers, so the DuckDB oracle replays the analytic fixture
    * pixels through the identical arithmetic. Dims must divide the
    * grid (rescale belongs to the codec seam); non-conforming or
    * undecodable payloads are dropped. Zero shuffle. */
  def imageAHash(blobs: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64, s"grid² must fit 64 bits, got $grid")
    perBlob(blobs, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("ahash", LongType, nullable = false)))(bmpAHash(_, grid))
  }

  /** Codec-dispatching gray block means: BMP through the stride walk,
    * baseline JPEG through [[decodeJpegCore]] (luma plane for
    * grayscale; integer (R+G+B)/3 after BT.601 conversion for color —
    * the BMP gray rule, so hashes are comparable across codecs). Dims
    * must divide the grid (integer-exact means, the oracle contract).
    * The perceptual-hash family accepts every codec this returns
    * Some for — JPEG was the one real-corpus majority codec the
    * hashes silently excluded before round 8. */
  private[graft] def grayBlockMeans(bytes0: Array[Byte], grid: Int)
      : Option[(Int, Int, Array[Long])] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
      bmpBlockMeans(bytes, grid)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      decodeJpegAny(bytes).flatMap { d =>
        if (d.width % grid != 0 || d.height % grid != 0) None
        else {
          val bw = d.width / grid; val bh = d.height / grid
          val sums = new Array[Long](grid * grid)
          def cl(v: Double): Int = {
            val r = math.round(v); if (r < 0) 0 else if (r > 255) 255 else r.toInt
          }
          var y = 0
          while (y < d.height) {
            val bj = y / bh
            var x = 0
            while (x < d.width) {
              val gray =
                if (d.planes.length == 1) d.planes(0)(y * d.planeW(0) + x) & 0xff
                else {
                  val yy = d.planes(0)((y * d.compV(0) / d.vmax) * d.planeW(0)
                    + x * d.compH(0) / d.hmax) & 0xff
                  val cb = (d.planes(1)((y * d.compV(1) / d.vmax) * d.planeW(1)
                    + x * d.compH(1) / d.hmax) & 0xff) - 128
                  val cr = (d.planes(2)((y * d.compV(2) / d.vmax) * d.planeW(2)
                    + x * d.compH(2) / d.hmax) & 0xff) - 128
                  (cl(yy + 1.402 * cr) + cl(yy - 0.344136 * cb - 0.714136 * cr)
                    + cl(yy + 1.772 * cb)) / 3
                }
              sums(bj * grid + x / bw) += gray
              x += 1
            }
            y += 1
          }
          val block = bw.toLong * bh
          var i = 0
          while (i < grid * grid) { sums(i) /= block; i += 1 }
          Some((d.width, d.height, sums))
        }
      }
    else None
  }

  private[graft] def bmpAHash(bytes0: Array[Byte], grid: Int): Option[(Int, Int, Long)] =
    grayBlockMeans(bytes0, grid).map { case (w, h, sums) =>
      var total = 0L
      var i = 0
      while (i < grid * grid) { total += sums(i); i += 1 }
      val mean = total / (grid * grid)
      var hash = 0L
      i = 0
      while (i < grid * grid) { if (sums(i) > mean) hash |= 1L << i; i += 1 }
      (w, h, hash)
    }

  /** Perceptual difference-hash (dHash) over DECODED pixels: the
    * gradient-SIGN twin of [[imageAHash]] — same gray → grid×grid
    * integer block means, but each bit compares a block to its RIGHT
    * neighbor (wrapping at the row end to keep 64 bits on the square
    * mesh), `bit(r,c) = m[r][(c+1) mod g] > m[r][c]`. Invariant to ANY
    * monotone global brightness shift (aHash's threshold is only
    * mean-shift invariant), and sensitive to horizontal structure —
    * the standard second opinion a perceptual near-dup pipeline pairs
    * with aHash. Zero shuffle, all integers; hashes feed
    * [[aHashPairs]] unchanged (any 64-bit column). */
  def imageDHash(blobs: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64, s"grid² must fit 64 bits, got $grid")
    perBlob(blobs, Seq(
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = false)))(bmpDHash(_, grid))
  }

  private[graft] def bmpDHash(bytes: Array[Byte], grid: Int): Option[(Int, Int, Long)] =
    grayBlockMeans(bytes, grid).map { case (w, h, m) =>
      var hash = 0L
      var i = 0
      while (i < grid * grid) {
        val r = i / grid; val c = i % grid
        if (m(r * grid + (c + 1) % grid) > m(r * grid + c)) hash |= 1L << i
        i += 1
      }
      (w, h, hash)
    }

  /** Shared decode for the block-mean hash family: gray block means
    * over the grid mesh (the [[bmpAHash]] front half). */
  private[graft] def bmpBlockMeans(bytes0: Array[Byte], grid: Int): Option[(Int, Int, Array[Long])] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    if (i32le(bytes, 14) < 40) return None
    val off = i32le(bytes, 10)
    val width = i32le(bytes, 18)
    val height = math.abs(i32le(bytes, 22))
    val bpp = u16le(bytes, 28)
    if (i32le(bytes, 30) != 0 || (bpp != 24 && bpp != 32)) return None
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14)) return None
    if (width % grid != 0 || height % grid != 0) return None
    val bpx = bpp / 8
    val stride = ((width.toLong * bpx + 3) / 4) * 4
    if (off < 54 || off.toLong + stride * height > bytes.length) return None
    val bw = width / grid; val bh = height / grid
    val sums = new Array[Long](grid * grid)
    var row = 0
    while (row < height) {
      var p = off + (row * stride).toInt
      val bj = row / bh
      var x = 0
      while (x < width) {
        val gray = ((bytes(p) & 0xff) + (bytes(p + 1) & 0xff) + (bytes(p + 2) & 0xff)) / 3
        sums(bj * grid + x / bw) += gray
        p += bpx
        x += 1
      }
      row += 1
    }
    val block = bw.toLong * bh
    var i = 0
    while (i < grid * grid) { sums(i) /= block; i += 1 }
    Some((width, height, sums))
  }

  // ------------------------------------------------------------------
  // PERSISTENT image-hash index — the DedupIndex/AnnIndex lifecycle
  // discipline for perceptual near-dup: build once, append deltas with
  // the exactly-once segment overwrite, fold segments through the
  // shared compaction planner, probe read-only. State is 16 bytes/doc — a
  // 100 TB image corpus indexes into ~GB-scale parquet.
  // ------------------------------------------------------------------

  /** Create the index at `dir` from scratch: (doc_id, ahash) under
    * seg=base. Non-decodable blobs simply don't index (the stub seam). */
  def buildImageIndex(blobs: DataFrame, dir: String, grid: Int = 8): Unit =
    imageAHash(blobs, grid).select(col("doc_id"), col("ahash"))
      .withColumn("seg", lit("base"))
      .write.mode("overwrite").partitionBy("seg").parquet(dir)

  /** Append a delta as one segment — idempotent under at-least-once
    * replays (dynamic partition overwrite on `seg`, the
    * [[graft.sinks.Sinks.upsertPartitions]] idiom): re-appending a
    * segment id overwrites itself, never double-counts. */
  def appendImageIndex(blobs: DataFrame, dir: String, segment: String,
                       grid: Int = 8): Unit =
    graft.sinks.Sinks.upsertPartitions(
      imageAHash(blobs, grid).select(col("doc_id"), col("ahash"))
        .withColumn("seg", lit(segment)),
      dir, Seq("seg"))

  /** Fold every segment into one deduplicated seg=base generation,
    * sized through the shared compaction planner
    * ([[Partitioning.plannedFileCount]]) and swapped in by rename.
    * Replay barrier: folded segment ids are retired — re-appending one
    * after compaction would add its rows beside the folded copy. */
  def compactImageIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        targetBytes: Long = 128L << 20): Unit = {
    val nFiles = Partitioning.plannedFileCount(spark, dir, targetBytes)
    val folded = spark.read.parquet(dir).select(col("doc_id"), col("ahash"))
      .distinct().repartition(nFiles).localCheckpoint()
    Partitioning.swapInDir(spark, dir)(tmp =>
      folded.withColumn("seg", lit("base"))
        .write.mode("overwrite").partitionBy("seg").parquet(tmp))
  }

  /** The stored hash set (segments unioned, replayed appends folded
    * by distinct — ahash is a pure function of the blob, so replays
    * are exact duplicates). */
  def readImageIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame =
    spark.read.parquet(dir).select(col("doc_id"), col("ahash")).distinct()

  /** Cross-frame pigeonhole probe — [[aHashPairs]]' two-sided twin:
    * every (probe, indexed) pair within `maxDistance` Hamming bits,
    * COMPLETE for maxDistance < bands (the same pigeonhole proof).
    * Shuffle ∝ probe + collision candidates; the index side meets the
    * probe only on (band, slice) keys — the delta-vs-corpus contract. */
  def aHashProbe(probe: DataFrame, index: DataFrame, maxDistance: Int,
                 bands: Int = 4, idCol: String = "doc_id"): DataFrame = {
    require(bands >= 2 && 64 % bands == 0 && maxDistance < bands,
      s"pigeonhole needs maxDistance < bands and bands | 64, got d=$maxDistance b=$bands")
    import graft.functions.HammingDistance.hamming64
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    def banded(df: DataFrame, side: String) = df.select(
      col(idCol).as(s"${side}_id"), col("ahash").as(s"sig_$side"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * w).bitwiseAND(lit(mask)).as("bv"))): _*)).as("x"))
      .select(col(s"${side}_id"), col(s"sig_$side"),
        col("x.band").as(s"band_$side"), col("x.bv").as(s"bv_$side"))
    banded(probe, "probe").join(banded(index, "index"),
        col("band_probe") === col("band_index") && col("bv_probe") === col("bv_index"))
      .select(col("probe_id"), col("index_id"), col("sig_probe"), col("sig_index"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_probe"), col("sig_index")))
      .filter(col("hamming") <= maxDistance)
      .select(col("probe_id"), col("index_id"), col("hamming"))
  }

  /** Near-dup image pairs from [[imageAHash]] hashes by the Hamming
    * PIGEONHOLE blocking: the 64-bit hash splits into `bands` equal
    * slices and a candidate pair must agree on at least one slice —
    * COMPLETE (not probabilistic) for hamming < bands, since
    * `maxDistance` differing bits cannot touch every one of
    * `bands` > maxDistance slices. Candidates verify with the native
    * codegen'd `hamming64`. One equi-join on the (band, slice) key —
    * the same collision-bounded shape as the LSH families, with a
    * recall PROOF instead of an s-curve. */
  def aHashPairs(hashes: DataFrame, maxDistance: Int, bands: Int = 4,
                 idCol: String = "doc_id"): DataFrame = {
    require(bands >= 2 && 64 % bands == 0 && maxDistance < bands,
      s"pigeonhole needs maxDistance < bands and bands | 64, got d=$maxDistance b=$bands")
    import graft.functions.HammingDistance.hamming64
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    // fan the hash frame out BEFORE banding: `hashes` usually arrives
    // as a narrow single-partition decode chain (one input file), and
    // the planner broadcasts one banded side — so the join's pair
    // output AND the distinct's partial aggregate would otherwise run
    // inside that one map task (measured 5.8 s of the neardup query's
    // 6.7 s; the hash pass itself is 0.17 s). One round-robin exchange
    // of 16-byte hash rows buys session-wide parallelism for the pair
    // expansion; a no-op on real multi-partition inputs (guide §2.5).
    val fanned = Partitioning.fanOut(hashes)
    def banded(side: String) = fanned.select(
      col(idCol).as(s"doc_$side"), col("ahash").as(s"sig_$side"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * w).bitwiseAND(lit(mask)).as("bv"))): _*)).as("x"))
      .select(col(s"doc_$side"), col(s"sig_$side"),
        col("x.band").as(if (side == "a") "band" else "band_b"),
        col("x.bv").as(if (side == "a") "bv" else "bv_b"))
    val a = banded("a")
    val b = banded("b")
    a.join(b, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxDistance)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Fixture generator for [[imageAHash]]: grayscale 24-bit BMPs
    * (B=G=R) with analytic pixels
    * px = ((id%5)·40 + (7x+13r)%32 + (id%7)·((x+r)%2)·3) % 256 and
    * grid-divisible dims (16 or 24 square by id parity) — ids
    * congruent mod the class key render pixel-identical images
    * (hamming 0), same-(id%5) neighbors render near-dups, and the
    * (id%3-free) formula keeps the oracle replay small. */
  def syntheticAHashBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val dim = if (id % 2 == 0) 16 else 24
      grayBmpBytes(id, dim, dim)
    }

  /** Fixture generator for [[imageDHash]]: like
    * [[syntheticAHashBlobs]] but the gradient STRUCTURE is
    * id-dependent — px = (id%5)·40 + ((7 + id%4)·x + (13 + id%3)·r) % 32
    * — because a dHash compares NEIGHBOR means, and the aHash
    * fixture's structure term (7x+13r) is id-invariant (every image
    * shares one gradient-sign field; only the threshold-relative
    * aHash separates them). Here id%4 × id%3 give 12 distinct
    * structure classes while id%5 stays a pure brightness shift the
    * dhash must ignore. */
  def syntheticDHashBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val dim = if (id % 2 == 0) 16 else 24
      dhashGrayBmpBytes(id, dim, dim)
    }

  private[graft] def dhashGrayBmpBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val stride = ((width * 3 + 3) / 4) * 4
    val size = 54 + stride * height
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(size)
    b.putInt(0)
    b.putInt(54)
    b.putInt(40)
    b.putInt(width).putInt(height)
    b.putShort(1)
    b.putShort(24)
    b.putInt(0)
    b.putInt(stride * height)
    b.putInt(2835).putInt(2835)
    b.putInt(0).putInt(0)
    var r = 0
    while (r < height) {
      var x = 0
      while (x < width) {
        val px = ((id % 5) * 40 +
          ((7 + id % 4) * x + (13 + id % 3) * r) % 32).toInt
        b.put(px.toByte); b.put(px.toByte); b.put(px.toByte)
        x += 1
      }
      var pad = width * 3
      while (pad < stride) { b.put(0.toByte); pad += 1 }
      r += 1
    }
    b.array()
  }

  private[graft] def grayBmpBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val stride = ((width * 3 + 3) / 4) * 4
    val size = 54 + stride * height
    val b = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(size)
    b.putInt(0)
    b.putInt(54)
    b.putInt(40)
    b.putInt(width).putInt(height)
    b.putShort(1)
    b.putShort(24)
    b.putInt(0)
    b.putInt(stride * height)
    b.putInt(2835).putInt(2835)
    b.putInt(0).putInt(0)
    var r = 0
    while (r < height) {
      var x = 0
      while (x < width) {
        val px = (((id % 5) * 40 + (7 * x + 13 * r) % 32 +
          (id % 7) * ((x + r) % 2) * 3) % 256).toInt
        b.put(px.toByte); b.put(px.toByte); b.put(px.toByte)
        x += 1
      }
      var pad = width * 3
      while (pad < stride) { b.put(0.toByte); pad += 1 }
      r += 1
    }
    b.array()
  }

  /** Deterministic BMPs WITH pixel payloads keyed on doc_id (even →
    * 24 bpp, odd → 32 bpp; dims arithmetic in doc_id) — the fixture
    * generator for [[decodePixels]]' oracle: the oracle re-enumerates
    * the same (x, row) grid in SQL and recomputes each channel sum, so
    * a hash-match proves the decoder read the right strides, offsets
    * and channel order back. */
  def syntheticPixelBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id =>
      if (id % 2 == 0) bmpPixelBytes(id, (1 + id % 16).toInt, (1 + id % 8).toInt, 24)
      else bmpPixelBytes(id, (1 + id % 12).toInt, (1 + id % 6).toInt, 32))

  /** Minimal valid PNG bytes: the 8-byte signature + a complete IHDR
    * chunk (13-byte payload, zeroed CRC — [[parseHeader]] reads
    * fields, not checksums). `colorType` per the PNG spec: 0 grey,
    * 2 truecolor, 3 palette, 4 grey+alpha, 6 truecolor+alpha. */
  private[graft] def pngBytes(width: Int, height: Int, bitDepth: Int,
                              colorType: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.BIG_ENDIAN)
    PngSignature.foreach(x => b.put(x.toByte))
    b.putInt(13)                  // IHDR payload length
    b.put("IHDR".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(width).putInt(height)
    b.put(bitDepth.toByte).put(colorType.toByte)
    b.put(0.toByte)               // compression
    b.put(0.toByte)               // filter
    b.put(0.toByte)               // interlace
    // 4 CRC bytes left zeroed
    b.array()
  }

  /** Minimal valid JPEG bytes: SOI + APP0/JFIF + SOF0 frame header +
    * EOI (no entropy-coded data — header-only, which is exactly what
    * [[parseHeader]] walks). Total length 32 + 3·channels. */
  private[graft] def jpegBytes(width: Int, height: Int, channels: Int,
                               precision: Int = 8): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(32 + 3 * channels)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put(0xff.toByte).put(0xd8.toByte) // SOI
    b.put(0xff.toByte).put(0xe0.toByte) // APP0
    b.putShort(16)
    b.put("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.put(0.toByte)                     // terminator
    b.putShort(0x0101.toShort)          // version 1.1
    b.put(0.toByte)                     // density units
    b.putShort(1).putShort(1)           // x/y density
    b.put(0.toByte).put(0.toByte)       // thumbnail dims
    b.put(0xff.toByte).put(0xc0.toByte) // SOF0 (baseline)
    b.putShort((8 + 3 * channels).toShort)
    b.put(precision.toByte)
    b.putShort(height.toShort).putShort(width.toShort)
    b.put(channels.toByte)
    for (c <- 1 to channels) {
      b.put(c.toByte)                   // component id
      b.put(0x11.toByte)                // 1x1 sampling
      b.put(0.toByte)                   // quant table
    }
    b.put(0xff.toByte).put(0xd9.toByte) // EOI
    b.array()
  }

  /** Minimal valid WAV bytes (RIFF + canonical PCM fmt chunk + empty
    * data chunk). */
  private[graft] def wavBytes(channels: Int, sampleRate: Int, bits: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1)                         // PCM
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * bits / 8) // byte rate
    b.putShort((channels * bits / 8).toShort)  // block align
    b.putShort(bits.toShort)
    b.put("data".getBytes).putInt(0)
    b.array()
  }

  /** WAV bytes with a REAL PCM16 data chunk (RIFF + canonical fmt +
    * the interleaved samples) — [[wavBytes]]' header-only sibling, for
    * exercising sample-level decode. */
  private[graft] def wavPcm16Bytes(channels: Int, sampleRate: Int,
                                   samples: Array[Short]): Array[Byte] = {
    val dataBytes = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1)                         // PCM
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * 2)   // byte rate
    b.putShort((channels * 2).toShort)    // block align
    b.putShort(16)
    b.put("data".getBytes).putInt(dataBytes)
    samples.foreach(b.putShort)
    b.array()
  }

  // ------------------------------------------------------------------
  // G.711 (µ-law / A-law) — the 8-bit companded telephony codecs: a
  // voice corpus (call-center audio, VoIP captures) ships these, not
  // PCM16. Expansion is an EXACT integer rule (no float anywhere), so
  // the decode oracle replays byte for byte in SQL.
  // ------------------------------------------------------------------

  /** µ-law byte → linear 16-bit (G.711 / the classic ulaw2linear):
    * complement, then ((man·8 + 0x84) << exp) − 0x84, sign from the
    * complemented bit 7. Range ±32124. */
  private[graft] def mulawExpand(b: Int): Int = {
    val u = (~b) & 0xff
    val t = ((((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    if ((u & 0x80) != 0) -t else t
  }

  /** A-law byte → linear 16-bit (G.711 / alaw2linear): XOR 0x55, then
    * segment-scaled mantissa; bit 7 SET means positive. Range ±32256. */
  private[graft] def alawExpand(b: Int): Int = {
    val a = (b & 0xff) ^ 0x55
    val seg = (a >> 4) & 7
    val man = a & 0x0f
    val t =
      if (seg == 0) (man << 4) + 8
      else ((man << 4) + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** WAV container for 8-bit G.711 payloads: format code 7 = µ-law,
    * 6 = A-law (the WAVE_FORMAT_MULAW/ALAW registry values). */
  private[graft] def wavG711Bytes(formatCode: Int, sampleRate: Int,
                                  data: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(formatCode.toShort)
    b.putShort(1)
    b.putInt(sampleRate)
    b.putInt(sampleRate)                 // byte rate (1 ch × 1 B)
    b.putShort(1)                        // block align
    b.putShort(8)
    b.put("data".getBytes).putInt(data.length)
    b.put(data)
    b.array()
  }

  /** Locate an 8-bit G.711 data chunk: (dataOffset, nBytes, format)
    * where format is 6 (A-law) or 7 (µ-law); anything else refuses. */
  private def locateG711Data(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var p = 12L
    var fmtCode = 0
    while (p + 8 <= bytes.length) {
      val size = i32le(bytes, p.toInt + 4)
      if (size < 0) return None
      val t = tag(bytes, p.toInt)
      if (t == "fmt " && size >= 16 && p + 8 + 16 <= bytes.length) {
        val code = u16le(bytes, p.toInt + 8)
        if ((code == 6 || code == 7) && u16le(bytes, p.toInt + 22) == 8)
          fmtCode = code
      } else if (t == "data") {
        if (fmtCode == 0 || p + 8 + size > bytes.length) return None
        return Some(((p + 8).toInt, size, fmtCode))
      }
      p += 8L + size.toLong + (size & 1)
    }
    None
  }

  /** Per-doc stats over expanded G.711 samples: exact integer peak /
    * sample sum / energy (Σs² div n) on the decoded linear values —
    * the telephony twin of the PCM16 family. Non-G.711 payloads drop
    * (the codec seam). */
  def g711Stats(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("fmt", StringType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("sum_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false))) { bytes =>
      locateG711Data(bytes).map { case (off, n, code) =>
        var peak = 0L; var sum = 0L; var en = 0L
        var i = 0
        while (i < n) {
          val s = if (code == 7) mulawExpand(bytes(off + i) & 0xff)
                  else alawExpand(bytes(off + i) & 0xff)
          peak = math.max(peak, math.abs(s))
          sum += s
          en += s.toLong * s
          i += 1
        }
        (if (code == 7) "ulaw" else "alaw", n.toLong, peak, sum, if (n > 0) en / n else 0L)
      }
    }

  /** Deterministic G.711 WAVs keyed on doc_id: even ids µ-law, odd
    * A-law; byte j = (id·29 + j·23) % 256 — every segment/mantissa/
    * sign combination appears across the corpus. */
  def syntheticG711Audio(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val n = (48 + id % 48).toInt
      val data = Array.tabulate[Byte](n)(j => ((id * 29 + j * 23) % 256).toByte)
      wavG711Bytes(if (id % 2 == 0) 7 else 6, 8000, data)
    }

  // ------------------------------------------------------------------
  // FLAC STREAMINFO — lossless-audio corpus metadata: the fLaC
  // marker, then typed metadata blocks (1-byte header: last-flag +
  // type, 3-byte BE length); STREAMINFO packs rate/channels/bits/
  // total-samples into non-byte-aligned bit fields — a real bit
  // unpacker, not fixed offsets.
  // ------------------------------------------------------------------

  /** Walk a FLAC file's metadata blocks to STREAMINFO: (sampleRate,
    * channels, bitsPerSample, totalSamples). Non-STREAMINFO blocks
    * (padding, vorbis comments, …) are length-walked and skipped;
    * a missing STREAMINFO, a block overrunning the file, or an
    * out-of-domain field (rate 0) refuses. */
  private[graft] def flacStreamInfo(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 8 || tag(bytes, 0) != "fLaC") return None
    var p = 4
    var last = false
    while (!last) {
      if (p + 4 > bytes.length) return None
      val hdr = bytes(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      if (p + 4 + len > bytes.length) return None
      if (typ == 0) {
        if (len < 34) return None
        val o = p + 4
        // bit layout after the four 16/16/24/24 size fields (10 bytes):
        // 20 bits rate | 3 bits channels-1 | 5 bits bits-1 | 36 bits samples
        def u8(i: Int): Long = bytes(o + i) & 0xffL
        val rate = ((u8(10) << 12) | (u8(11) << 4) | (u8(12) >> 4)).toInt
        val channels = (((u8(12) >> 1) & 0x7) + 1).toInt
        val bits = ((((u8(12) & 0x1) << 4) | (u8(13) >> 4)) + 1).toInt
        val total = ((u8(13) & 0xf) << 32) | (u8(14) << 24) | (u8(15) << 16) |
          (u8(16) << 8) | u8(17)
        if (rate == 0) return None // 0 is invalid per spec
        return Some((rate, channels, bits, total))
      }
      p += 4 + len
    }
    None // no STREAMINFO before the last block
  } catch { case _: IndexOutOfBoundsException => None }

  /** [[flacStreamInfo]] at scale. */
  def flacMetadata(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("sample_rate", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("bits", LongType, nullable = false),
      StructField("total_samples", LongType, nullable = false))) { bytes =>
      flacStreamInfo(bytes).map { case (sr, ch, b, t) => (sr.toLong, ch.toLong, b.toLong, t) }
    }

  /** A COMPLETE minimal FLAC: STREAMINFO (rate 8000 + (id·37) mod
    * 90000, channels 1 + id%8, bits 16 + id%9, total samples
    * (id·1009) mod 2³⁰) followed by a small last-flagged PADDING
    * block — the walk must skip past types it does not parse. */
  private[graft] def flacBytes(id: Long): Array[Byte] = {
    val rate = (8000 + (id * 37) % 90000).toInt
    val channels = (1 + id % 8).toInt
    val bits = (16 + id % 9).toInt
    val total = (id * 1009) % (1L << 30)
    val si = new Array[Byte](34)
    // block sizes / frame sizes: legal constants (4096 blocks)
    si(0) = 0x10; si(1) = 0; si(2) = 0x10; si(3) = 0
    val packed = (rate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | total
    for (i <- 0 until 8) si(10 + i) = ((packed >> (8 * (7 - i))) & 0xff).toByte
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x00); out.write(0); out.write(0); out.write(34) // STREAMINFO
    out.write(si, 0, 34)
    out.write(0x81); out.write(0); out.write(0); out.write(4)  // last PADDING
    out.write(new Array[Byte](4), 0, 4)
    out.toByteArray
  }

  /** Deterministic minimal FLACs keyed on doc_id. */
  def syntheticFlacBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(flacBytes)

  // ------------------------------------------------------------------
  // BMP RLE8 (BI_RLE8, compression 1) — the run-length variant legacy
  // tooling still emits: 8-bit palette indices as (count, value)
  // pairs with escape codes (end-of-line, end-of-bitmap, delta skip,
  // absolute mode with word padding). A real cursor-driven decoder —
  // every escape moves a (x, y) position over the bottom-up grid.
  // ------------------------------------------------------------------

  /** Decode a BI_RLE8 BMP into channel sums: (width, height, 3,
    * nPixels, sumR, sumG, sumB, 0). Pixels never written by the
    * stream (delta skips, early end-of-bitmap) read as palette entry
    * 0, the de-facto convention. Cursor escapes are bounds-checked;
    * overruns past the row or the grid refuse. */
  private[graft] def decodeBmpRle8Pixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long, Long)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = i32le(bytes, 10)
    val width = i32le(bytes, 18)
    val height = i32le(bytes, 22) // RLE8 bitmaps are bottom-up only (h > 0)
    if (u16le(bytes, 28) != 8 || i32le(bytes, 30) != 1) return None // bpp 8, BI_RLE8
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14))
      return None
    if (width.toLong * height > (1L << 26)) return None
    val nColors = { val c = i32le(bytes, 46); if (c == 0) 256 else c }
    if (nColors < 1 || nColors > 256) return None
    val palOff = 54
    if (palOff + 4 * nColors > bytes.length || dataOff < palOff + 4 * nColors)
      return None
    // indices resolved at the end — fill the grid first (delta skips
    // may be back-filled only by nothing; unwritten stays 0)
    val grid = new Array[Byte](width * height)
    var p = dataOff
    var x = 0; var y = 0 // y counts FILE rows (bottom-up)
    var ended = false
    while (!ended) {
      if (p + 2 > bytes.length) return None
      val a = bytes(p) & 0xff; val b = bytes(p + 1) & 0xff
      p += 2
      if (a > 0) { // encoded run
        if (y >= height || x + a > width) return None
        var i = 0
        while (i < a) { grid(y * width + x + i) = b.toByte; i += 1 }
        x += a
      } else b match {
        case 0 => x = 0; y += 1 // end of line
        case 1 => ended = true  // end of bitmap
        case 2 => // delta: unsigned dx, dy skip
          if (p + 2 > bytes.length) return None
          x += bytes(p) & 0xff; y += bytes(p + 1) & 0xff
          p += 2
          if (x > width || y > height) return None
        case n => // absolute mode: n literal indices, word-aligned
          if (y >= height || x + n > width) return None
          if (p + n > bytes.length) return None
          var i = 0
          while (i < n) { grid(y * width + x + i) = bytes(p + i); i += 1 }
          x += n
          p += n + (n & 1) // pad to 2-byte boundary
      }
    }
    val sums = new Array[Long](3)
    var i = 0
    while (i < grid.length) {
      val idx = grid(i) & 0xff
      if (idx >= nColors) return None
      // palette entries are B, G, R, reserved
      sums(2) += bytes(palOff + 4 * idx) & 0xff
      sums(1) += bytes(palOff + 4 * idx + 1) & 0xff
      sums(0) += bytes(palOff + 4 * idx + 2) & 0xff
      i += 1
    }
    Some((width, height, 3, width.toLong * height, sums(0), sums(1), sums(2), 0L))
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[decodeBmpRle8Pixels]] at scale (stub seam for non-RLE8). */
  def decodeBmpRle(blobs: DataFrame): DataFrame =
    perBlob(blobs, rgbaSumFields)(decodeBmpRle8Pixels)

  /** A COMPLETE BI_RLE8 BMP: 16-entry analytic palette (B,G,R =
    * (id+7j, id+5j, id+3j) mod 256), index (id + x div 3 + 3·fr) mod
    * 16 over file rows fr (period-3 runs so ENCODED mode uses real
    * counts); even file rows use encoded runs, odd rows ABSOLUTE mode
    * (word-padded) — both decode paths exercised in every image. */
  private[graft] def bmpRle8Bytes(id: Long, width: Int, height: Int): Array[Byte] = {
    def idx(x: Int, fr: Int): Int = (((id + x / 3 + 3L * fr) % 16) + 16).toInt % 16
    val data = new java.io.ByteArrayOutputStream()
    for (fr <- 0 until height) {
      if (fr % 2 == 0 || width < 3) { // encoded runs (count <= 3 by grid period)
        var x = 0
        while (x < width) {
          val v = idx(x, fr)
          var n = 1
          while (x + n < width && n < 255 && idx(x + n, fr) == v) n += 1
          data.write(n); data.write(v)
          x += n
        }
      } else { // absolute mode
        data.write(0); data.write(width)
        for (x <- 0 until width) data.write(idx(x, fr))
        if ((width & 1) == 1) data.write(0) // word padding
      }
      if (fr < height - 1) { data.write(0); data.write(0) } // EOL
    }
    data.write(0); data.write(1) // EOB
    val rle = data.toByteArray
    val dataOff = 54 + 4 * 16
    val b = java.nio.ByteBuffer.allocate(dataOff + rle.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(dataOff + rle.length)
    b.putInt(0)
    b.putInt(dataOff)
    b.putInt(40)
    b.putInt(width).putInt(height)
    b.putShort(1)
    b.putShort(8)
    b.putInt(1)              // BI_RLE8
    b.putInt(rle.length)
    b.putInt(2835).putInt(2835)
    b.putInt(16).putInt(0)   // biClrUsed = 16
    for (j <- 0 until 16) {
      b.put((((id + 7 * j) % 256)).toByte) // B
      b.put((((id + 5 * j) % 256)).toByte) // G
      b.put((((id + 3 * j) % 256)).toByte) // R
      b.put(0.toByte)
    }
    b.put(rle)
    b.array()
  }

  /** Deterministic RLE8 BMPs keyed on doc_id. */
  def syntheticRleBmpBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(id => bmpRle8Bytes(id, (1 + id % 14).toInt, (1 + id % 9).toInt))

  // ------------------------------------------------------------------
  // PCM24 (WAVE format 1, 24-bit) — the studio/pro-audio depth: 3-byte
  // little-endian signed samples; one sign-extension or byte-order
  // slip shifts every value by 256×, so exact integer stats catch it.
  // ------------------------------------------------------------------

  /** WAV container with a REAL 24-bit PCM data chunk (mono). */
  private[graft] def wavPcm24Bytes(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataBytes = samples.length * 3
    val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1)                      // PCM
    b.putShort(1)                      // mono
    b.putInt(sampleRate)
    b.putInt(sampleRate * 3)
    b.putShort(3)                      // block align
    b.putShort(24)
    b.put("data".getBytes).putInt(dataBytes)
    samples.foreach { s =>
      b.put((s & 0xff).toByte).put(((s >> 8) & 0xff).toByte)
        .put(((s >> 16) & 0xff).toByte)
    }
    b.array()
  }

  /** Locate a mono 24-bit PCM data chunk: (dataOffset, nBytes). */
  private def locatePcm24Data(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var p = 12L
    var ok = false
    while (p + 8 <= bytes.length) {
      val size = i32le(bytes, p.toInt + 4)
      if (size < 0) return None
      val t = tag(bytes, p.toInt)
      if (t == "fmt " && size >= 16 && p + 8 + 16 <= bytes.length) {
        if (u16le(bytes, p.toInt + 8) == 1 && u16le(bytes, p.toInt + 10) == 1 &&
            u16le(bytes, p.toInt + 22) == 24) ok = true
      } else if (t == "data") {
        if (!ok || size % 3 != 0 || p + 8 + size > bytes.length) return None
        return Some(((p + 8).toInt, size))
      }
      p += 8L + size.toLong + (size & 1)
    }
    None
  }

  /** Per-doc stats over decoded 24-bit PCM: exact integer peak /
    * sample sum / mean square (Σs² div n — s² reaches 2⁴⁶, still
    * exact in Long). Non-PCM24 payloads drop (the codec seam). */
  def pcm24Stats(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("sum_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false))) { bytes =>
      locatePcm24Data(bytes).map { case (off, nb) =>
        val n = nb / 3
        var peak = 0L; var sum = 0L; var en = 0L
        var i = 0
        while (i < n) {
          val o = off + 3 * i
          // 3-byte LE, sign via the <<8 >>8 arithmetic-shift trick
          val s = (((bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
            ((bytes(o + 2) & 0xff) << 16)) << 8) >> 8
          peak = math.max(peak, math.abs(s.toLong))
          sum += s
          en += s.toLong * s
          i += 1
        }
        (n.toLong, peak, sum, if (n > 0) en / n else 0L)
      }
    }

  /** Deterministic 24-bit PCM WAVs keyed on doc_id: 40 + id%40 mono
    * samples of s_i = (id·9973 + i·5501) mod 2²⁴ − 2²³ — full-range
    * values, so a dropped sign extension is impossible to miss. */
  def syntheticPcm24Audio(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val n = (40 + id % 40).toInt
      val samples = Array.tabulate(n)(i =>
        (((id * 9973 + i.toLong * 5501) % (1 << 24)) - (1 << 23)).toInt)
      wavPcm24Bytes(48000, samples)
    }

  // ------------------------------------------------------------------
  // IMA ADPCM (WAVE format 0x11, "DVI/IMA") — the 4-bit differential
  // codec dictation/game/telephony corpora actually ship when they
  // aren't G.711: each block restarts from a 4-byte header (seed
  // predictor + step index), then every nibble steps an adaptive
  // predictor through the 89-entry step table. Pure integer
  // recurrence — the oracle replays it in SQL with a recursive CTE,
  // so a hash match proves the block walk, header seeds, nibble
  // order, clamps and table steps are all exact.
  // ------------------------------------------------------------------

  private val AdpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private val AdpcmIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM step: (nibble, predictor, stepIndex) → (predictor',
    * stepIndex'). The diff is the shift-composed form (step>>3 plus
    * step>>2/step>>1/step per mantissa bit); bit 3 is the sign. */
  private[graft] def adpcmStep(nib: Int, pred: Int, idx: Int): (Int, Int) = {
    val step = AdpcmStepTable(idx)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p = math.max(-32768, math.min(32767,
      if ((nib & 8) != 0) pred - diff else pred + diff))
    val i = math.max(0, math.min(88, idx + AdpcmIndexTable(nib & 7)))
    (p, i)
  }

  /** WAV container for mono IMA ADPCM: format code 0x11, 4-bit, the
    * registry-mandated cbSize=2 extension carrying wSamplesPerBlock;
    * `blocks` are (seedPredictor, seedIndex, nibbleBytes). */
  private[graft] def wavAdpcmBytes(sampleRate: Int, samplesPerBlock: Int,
      blocks: Seq[(Int, Int, Array[Byte])]): Array[Byte] = {
    val blockAlign = 4 + blocks.head._3.length
    val dataLen = blocks.length * blockAlign
    val b = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(4 + 8 + 20 + 8 + dataLen).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(20)
    b.putShort(0x11)                        // WAVE_FORMAT_IMA_ADPCM
    b.putShort(1)                           // mono
    b.putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / samplesPerBlock) // nominal byte rate
    b.putShort(blockAlign.toShort)
    b.putShort(4)                           // bits per (encoded) sample
    b.putShort(2)                           // cbSize
    b.putShort(samplesPerBlock.toShort)
    b.put("data".getBytes).putInt(dataLen)
    blocks.foreach { case (pred, idx, nibBytes) =>
      b.putShort(pred.toShort).put(idx.toByte).put(0.toByte).put(nibBytes)
    }
    b.array()
  }

  /** Locate a mono IMA ADPCM data chunk: (dataOffset, dataLen,
    * blockAlign, samplesPerBlock). Refuses non-0x11 format codes,
    * multi-channel streams and malformed chunk walks — the codec
    * seam, same discipline as [[locateG711Data]]. */
  private def locateAdpcmData(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 12 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var p = 12L
    var blockAlign = 0
    var samplesPerBlock = 0
    var ok = false
    while (p + 8 <= bytes.length) {
      val size = i32le(bytes, p.toInt + 4)
      if (size < 0) return None
      val t = tag(bytes, p.toInt)
      if (t == "fmt " && size >= 20 && p + 8 + 20 <= bytes.length) {
        val o = p.toInt + 8
        if (u16le(bytes, o) == 0x11 && u16le(bytes, o + 2) == 1 &&
            u16le(bytes, o + 14) == 4) {
          blockAlign = u16le(bytes, o + 12)
          samplesPerBlock = u16le(bytes, o + 18)
          ok = blockAlign > 4 && samplesPerBlock == 1 + 2 * (blockAlign - 4)
        }
      } else if (t == "data") {
        if (!ok || p + 8 + size > bytes.length) return None
        return Some(((p + 8).toInt, size, blockAlign, samplesPerBlock))
      }
      p += 8L + size.toLong + (size & 1)
    }
    None
  }

  /** Decode + per-doc stats over mono IMA ADPCM: every full block
    * restarts the predictor from its own header (the seed IS sample
    * one), then each nibble (low first, per spec) advances the
    * adaptive recurrence. Emits exact integer peak / sum / energy
    * over ALL decoded samples plus the LAST block's terminal
    * (predictor, step index) — the terminal state pins every
    * intermediate step, so one wrong clamp or table hop anywhere in
    * the stream flips the row. Non-ADPCM payloads drop. */
  def adpcmStats(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("n_blocks", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("sum_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("final_predictor", LongType, nullable = false),
      StructField("final_index", LongType, nullable = false))) { bytes =>
      locateAdpcmData(bytes).filter {
        // strict framing, matching the WARC/ZIP walks: a data chunk
        // that is not a whole number of blocks is truncation, and a
        // truncated payload refuses wholesale rather than decoding
        // the prefix that happens to parse
        case (_, len, blockAlign, _) => len % blockAlign == 0
      }.map { case (off, len, blockAlign, _) =>
        val nBlocks = len / blockAlign
        var peak = 0L; var sum = 0L; var en = 0L; var n = 0L
        var lastPred = 0; var lastIdx = 0
        var b = 0
        while (b < nBlocks) {
          val base = off + b * blockAlign
          var pred = ((bytes(base) & 0xff) | (bytes(base + 1) << 8)).toShort.toInt
          var idx = math.max(0, math.min(88, bytes(base + 2) & 0xff))
          def emit(s: Int): Unit = {
            peak = math.max(peak, math.abs(s.toLong)); sum += s
            en += s.toLong * s; n += 1
          }
          emit(pred)
          var j = 0
          val nNib = 2 * (blockAlign - 4)
          while (j < nNib) {
            val byte = bytes(base + 4 + (j >> 1)) & 0xff
            val nib = if ((j & 1) == 0) byte & 0x0f else byte >> 4
            val (p2, i2) = adpcmStep(nib, pred, idx)
            pred = p2; idx = i2
            emit(pred)
            j += 1
          }
          lastPred = pred; lastIdx = idx
          b += 1
        }
        (nBlocks.toLong, n, peak, sum, if (n > 0) en / n else 0L, lastPred.toLong, lastIdx.toLong)
      }
    }

  /** Deterministic IMA ADPCM WAVs keyed on doc_id: 1 + id%3 blocks of
    * 16 + id%24 nibble-bytes; block b seeds predictor
    * ((id·211 + b·97) mod 4096) − 2048 and index (id + 31·b) mod 89;
    * nibble j of block b is (id·7 + b·11 + j·5) mod 16 — every
    * mantissa/sign pattern and both index-clamp walls appear across
    * the corpus, and multi-block docs exercise the header restart. */
  def syntheticAdpcmAudio(docs: DataFrame): DataFrame =
    blobFrame(docs)(adpcmFixtureBytes)

  private def adpcmFixtureBytes(id: Long): Array[Byte] = {
    val nBytes = (16 + id % 24).toInt
    val blocks = (0 until (1 + id % 3).toInt).map { b =>
      val nib = Array.tabulate(2 * nBytes)(j => ((id * 7 + b * 11 + j * 5) % 16).toInt)
      val packed = Array.tabulate[Byte](nBytes)(k =>
        ((nib(2 * k) & 0x0f) | (nib(2 * k + 1) << 4)).toByte)
      (((id * 211 + b * 97) % 4096 - 2048).toInt, ((id + 31 * b) % 89).toInt, packed)
    }
    wavAdpcmBytes(8000, 1 + 2 * nBytes, blocks)
  }

  // ------------------------------------------------------------------
  // EXIF (JPEG APP1 → TIFF IFD walk) — camera metadata: Orientation
  // decides whether perceptual hashes need a rotate, PixelX/YDimension
  // and the maker string drive corpus slicing. TIFF is a typed offset
  // graph in EITHER byte order — a real IFD walk with bounds-checked
  // value indirection (ASCII values live behind offsets), not fixed
  // offsets. Untrusted-byte discipline as everywhere: refuse, never
  // throw.
  // ------------------------------------------------------------------

  /** Assemble an APP1 Exif payload: TIFF header + IFD0 (Make = ASCII
    * behind an offset, Orientation = inline SHORT, ExifIFD = LONG
    * pointer) + the Exif sub-IFD (PixelXDimension, PixelYDimension),
    * in the requested byte order. Layout: IFD0 @8, sub-IFD @50,
    * maker string @80. */
  private[graft] def exifApp1(bigEndian: Boolean, make: String,
      orientation: Int, pixelX: Int, pixelY: Int): Array[Byte] = {
    val mk = make.getBytes("US-ASCII") :+ 0.toByte
    val tiff = java.nio.ByteBuffer.allocate(80 + mk.length)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put((if (bigEndian) "MM" else "II").getBytes("US-ASCII"))
    tiff.putShort(42).putInt(8)
    def entry(tag: Int, typ: Int, count: Int)(value: java.nio.ByteBuffer => Unit): Unit = {
      tiff.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      val before = tiff.position()
      value(tiff)
      while (tiff.position() < before + 4) tiff.put(0.toByte) // left-justified pad
    }
    tiff.putShort(3)                                     // IFD0: 3 entries
    // TIFF rule: values that FIT the 4-byte field are inline; larger
    // ones live behind an offset (the reader honors both)
    if (mk.length > 4) entry(0x010f, 2, mk.length)(_.putInt(80))
    else entry(0x010f, 2, mk.length)(_.put(mk))
    entry(0x0112, 3, 1)(_.putShort(orientation.toShort)) // Orientation SHORT
    entry(0x8769, 4, 1)(_.putInt(50))                    // ExifIFD pointer
    tiff.putInt(0)                                       // next IFD: none
    tiff.putShort(2)                                     // sub-IFD: 2 entries
    entry(0xa002, 4, 1)(_.putInt(pixelX))
    entry(0xa003, 4, 1)(_.putInt(pixelY))
    tiff.putInt(0)
    tiff.put(mk)
    val t = tiff.array()
    val seg = java.nio.ByteBuffer.allocate(4 + 6 + t.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    seg.put(0xff.toByte).put(0xe1.toByte).putShort((2 + 6 + t.length).toShort)
    seg.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte).put(t)
    seg.array()
  }

  /** Splice an APP1 segment directly after SOI — the canonical EXIF
    * position; the pixel decoders skip APPn, so the blob stays fully
    * decodable. */
  private[graft] def withExif(jpeg: Array[Byte], app1: Array[Byte]): Array[Byte] =
    jpeg.take(2) ++ app1 ++ jpeg.drop(2)

  /** Walk a JPEG's APP1/TIFF metadata: (byteOrder "II"|"MM", make,
    * orientation, pixelX, pixelY). A general IFD walk — entries in any
    * order, SHORT-or-LONG dimension types, value-vs-offset decided by
    * the typed byte size, every indirection bounds-checked. Returns
    * None (never throws) on anything malformed or EXIF-less. */
  private[graft] def exifMeta(bytes: Array[Byte])
      : Option[(String, String, Long, Long, Long)] = try {
    if (bytes == null || bytes.length < 4 ||
        (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    // marker walk to the Exif APP1 (stop at SOS: metadata precedes scan)
    var p = 2
    var tiffOff = -1; var tiffLen = 0
    while (tiffOff < 0 && p + 4 <= bytes.length && (bytes(p) & 0xff) == 0xff) {
      val m = bytes(p + 1) & 0xff
      if (m == 0xda || m == 0xd9) return None
      val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (len < 2 || p + 2 + len > bytes.length) return None
      if (m == 0xe1 && len >= 2 + 6 + 8 &&
          tag(bytes, p + 4) == "Exif" && bytes(p + 8) == 0 && bytes(p + 9) == 0) {
        tiffOff = p + 10; tiffLen = len - 8
      }
      p += 2 + len
    }
    if (tiffOff < 0) return None
    val big = tag(bytes, tiffOff).take(2) match {
      case "MM" => true
      case "II" => false
      case _ => return None
    }
    def ru16(o: Int): Int = {
      if (o < 0 || o + 2 > tiffLen) throw new IndexOutOfBoundsException
      val a = bytes(tiffOff + o) & 0xff; val b = bytes(tiffOff + o + 1) & 0xff
      if (big) (a << 8) | b else (b << 8) | a
    }
    def ru32(o: Int): Long = {
      if (o < 0 || o + 4 > tiffLen) throw new IndexOutOfBoundsException
      if (big) (ru16(o).toLong << 16) | ru16(o + 2)
      else (ru16(o + 2).toLong << 16) | ru16(o)
    }
    if (ru16(2) != 42) return None
    var make: String = null
    var orientation = -1L; var px = -1L; var py = -1L
    def shortOrLong(typ: Int, valOff: Int): Long =
      if (typ == 3) ru16(valOff).toLong
      else if (typ == 4) ru32(valOff)
      else -1L
    def walkIfd(ifdOff: Int, sub: Boolean): Unit = {
      val n = ru16(ifdOff)
      var i = 0
      while (i < n) {
        val e = ifdOff + 2 + 12 * i
        val etag = ru16(e); val typ = ru16(e + 2); val cnt = ru32(e + 4)
        val valOff = e + 8
        (etag, sub) match {
          case (0x010f, false) if typ == 2 && cnt >= 1 && cnt <= 256 =>
            val off = if (cnt > 4) ru32(valOff).toInt else valOff
            if (off < 0 || off + cnt > tiffLen) throw new IndexOutOfBoundsException
            val raw = new String(bytes, tiffOff + off, cnt.toInt, "US-ASCII")
            make = raw.takeWhile(_ != 0.toChar)
          case (0x0112, false) if typ == 3 && cnt == 1 =>
            orientation = ru16(valOff).toLong
          case (0x8769, false) if typ == 4 && cnt == 1 =>
            walkIfd(ru32(valOff).toInt, sub = true)
          case (0xa002, true) if cnt == 1 => px = shortOrLong(typ, valOff)
          case (0xa003, true) if cnt == 1 => py = shortOrLong(typ, valOff)
          case _ => () // unknown tags: skip — a real walk tolerates them
        }
        i += 1
      }
    }
    walkIfd(ru32(4).toInt, sub = false)
    if (make == null || orientation < 0 || px < 0 || py < 0) None
    else Some((if (big) "MM" else "II", make, orientation, px, py))
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[exifMeta]] at scale, EXIF-less payloads dropped (the metadata
    * seam). */
  def exifMetadata(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("endian", StringType, nullable = false),
      StructField("make", StringType, nullable = false),
      StructField("orientation", LongType, nullable = false),
      StructField("pixel_x", LongType, nullable = false),
      StructField("pixel_y", LongType, nullable = false)))(exifMeta)

  /** Deterministic EXIF'd JPEGs keyed on doc_id: the [[jpegBaselineBytes]]
    * fixture with an APP1 spliced after SOI — byte order II/MM by
    * parity, Make "CAM-"+(id%10), Orientation 1+id%8, capture dims
    * 16·(1+id%80) × 16·(1+id%45). Still fully pixel-decodable. */
  def syntheticExifJpegBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(exifJpegFixtureBytes)

  private def exifJpegFixtureBytes(id: Long): Array[Byte] =
    withExif(jpegBaselineBytes(id), exifApp1(id % 2 == 1, "CAM-" + (id % 10),
      (1 + id % 8).toInt, (16 * (1 + id % 80)).toInt, (16 * (1 + id % 45)).toInt))

  /** Stored-grid cell feeding UPRIGHT cell (r, c) of a g×g mesh under
    * EXIF orientation `o` (1 = as stored, 2 mirror-H, 3 rot180,
    * 4 mirror-V, 5 transpose, 6 rot90CW, 7 transverse, 8 rot270CW —
    * the transform that DISPLAYS the stored image upright). */
  private[graft] def orientIndex(o: Int, g: Int, r: Int, c: Int): Int = {
    val g1 = g - 1
    val (sr, sc) = o match {
      case 2 => (r, g1 - c)
      case 3 => (g1 - r, g1 - c)
      case 4 => (g1 - r, c)
      case 5 => (c, r)
      case 6 => (g1 - c, r)
      case 7 => (g1 - c, g1 - r)
      case 8 => (c, g1 - r)
      case _ => (r, c)
    }
    sr * g + sc
  }

  /** Orientation-aware average-hash: [[imageAHash]] with the EXIF
    * Orientation tag honored — block means are read back through the
    * inverse display transform BEFORE thresholding, so a camera image
    * and its rotated/mirrored re-save hash IDENTICALLY (without this,
    * every orientation lands in a different near-dup bucket; the
    * mean threshold itself is permutation-invariant, so only the bit
    * ORDER needs the remap). No/invalid EXIF → orientation 1. Zero
    * shuffle. */
  def imageAHashOriented(blobs: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid * grid <= 64, s"grid² must fit 64 bits, got $grid")
    perBlob(blobs, Seq(
      StructField("orientation", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false))) { bytes =>
      val o = exifMeta(bytes).map(_._3.toInt).filter(v => v >= 1 && v <= 8).getOrElse(1)
      grayBlockMeans(bytes, grid).map { case (_, _, means) =>
        var total = 0L
        var i = 0
        while (i < grid * grid) { total += means(i); i += 1 }
        val gmean = total / (grid * grid)
        var hash = 0L
        i = 0
        while (i < grid * grid) {
          if (means(orientIndex(o, grid, i / grid, i % grid)) > gmean)
            hash |= 1L << i
          i += 1
        }
        (o.toLong, hash)
      }
    }
  }

  /** Deterministic oriented JPEGs: ONE upright 64×64 grayscale scene
    * per doc (flat 8×8 blocks, DC(bx,by) = ((id + 3bx + 5by) % 121) −
    * 60) STORED under orientation 1 + id%8 (the block grid is
    * physically permuted/rotated in the encoded scan) with the
    * matching EXIF tag — so [[imageAHashOriented]] must recover the
    * SAME upright hash for every orientation, which is exactly what
    * the (orientation-free) oracle asserts. */
  def syntheticOrientedJpegBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val o = (1 + id % 8).toInt
      // stored(orientIndex(o, r, c)) = upright(r, c) — decode inverts
      val stored = new Array[Int](64)
      for (row0 <- 0 until 8; c <- 0 until 8)
        stored(orientIndex(o, 8, row0, c)) =
          (((id + 3L * c + 5L * row0) % 121) - 60).toInt
      val jpeg = jpegAssemble(64, 64, 0, (_, bx, by) => {
        val a = new Array[Int](64)
        a(0) = stored(by * 8 + bx)
        a
      })
      withExif(jpeg, exifApp1(id % 2 == 1, "CAM-" + (id % 10), o, 64, 64))
    }

  // ------------------------------------------------------------------
  // ZIP (central directory walk + real entry decode) — the document
  // container: epub, docx/xlsx, jar and many web archives are zips;
  // a corpus ingest needs the entry inventory and verified payloads
  // WITHOUT trusting the archive. End-of-central-directory scan,
  // central-directory parse, per-entry decode through the local
  // header (stored or raw-deflate), CRC32 + size verified against
  // the directory's claims. Untrusted-byte discipline throughout.
  // ------------------------------------------------------------------

  /** Walk a ZIP's central directory and DECODE every entry:
    * (entryIdx, name, method, nBytes, sumBytes) per entry, in
    * directory order. Methods: 0 stored, 8 deflate (raw `Inflater`).
    * Every entry's decoded payload must match the directory's claimed
    * uncompressed size AND CRC32 — a mismatch anywhere refuses the
    * whole archive (a lying directory is corruption, not data). No
    * zip64, no encryption, no spanning — the baseline container. */
  private[graft] def zipEntries(bytes0: Array[Byte])
      : Option[Vector[(Int, String, Int, Long, Long)]] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 22) return None
    // EOCD scan from the end (the comment field makes the tail mobile)
    var eocd = -1
    var i = bytes.length - 22
    val stop = math.max(0, bytes.length - 22 - 65535)
    while (eocd < 0 && i >= stop) {
      if ((bytes(i) & 0xff) == 0x50 && (bytes(i + 1) & 0xff) == 0x4b &&
          (bytes(i + 2) & 0xff) == 0x05 && (bytes(i + 3) & 0xff) == 0x06)
        eocd = i
      i -= 1
    }
    if (eocd < 0) return None
    val nEntries = u16le(bytes, eocd + 10)
    val cdOff = i32le(bytes, eocd + 16)
    if (nEntries == 0 || nEntries > 65535 || cdOff < 0 || cdOff >= eocd) return None
    val out = Vector.newBuilder[(Int, String, Int, Long, Long)]
    // Anti-zip-bomb discipline: (a) the DECODED bytes across the whole
    // archive share one 2^26 budget (a 3 MB archive whose 65535
    // directory entries all point at one high-ratio deflate stream
    // would otherwise force ~4 TB of inflate work); (b) entries may
    // not share or overlap local records — each [local header, data
    // end) interval must be disjoint from every other.
    var decodedBudget = 1L << 26
    val spans = new java.util.TreeMap[Long, Long]() // local-record start -> end
    var p = cdOff
    var e = 0
    while (e < nEntries) {
      if (p + 46 > eocd || i32le(bytes, p) != 0x02014b50) return None
      val method = u16le(bytes, p + 10)
      val crc = i32le(bytes, p + 16) & 0xffffffffL
      val csize = i32le(bytes, p + 20) & 0xffffffffL
      val usize = i32le(bytes, p + 24) & 0xffffffffL
      val nameLen = u16le(bytes, p + 28)
      val extraLen = u16le(bytes, p + 30)
      val commentLen = u16le(bytes, p + 32)
      val lho = i32le(bytes, p + 42)
      if (p + 46 + nameLen > eocd) return None
      val name = new String(bytes, p + 46, nameLen, "UTF-8")
      if (usize > (1L << 26) || csize > (1L << 26)) return None
      // local header: signature, then ITS OWN name/extra lengths
      // (extra fields legally differ between the two records)
      if (lho < 0 || lho + 30 > bytes.length || i32le(bytes, lho) != 0x04034b50)
        return None
      val lNameLen = u16le(bytes, lho + 26)
      val lExtraLen = u16le(bytes, lho + 28)
      val dataOff = lho + 30 + lNameLen + lExtraLen
      if (dataOff + csize > bytes.length) return None
      if (usize > decodedBudget) return None
      decodedBudget -= usize
      // overlap probe: nearest span at-or-before lho must end by lho;
      // nearest span after lho must start at-or-after this data end
      val spanEnd = dataOff + csize
      val below = spans.floorEntry(lho.toLong)
      if (below != null && below.getValue > lho) return None
      val above = spans.ceilingEntry(lho.toLong)
      if (above != null && above.getKey < spanEnd) return None
      spans.put(lho.toLong, spanEnd)
      val payload: Array[Byte] = method match {
        case 0 =>
          if (csize != usize) return None
          java.util.Arrays.copyOfRange(bytes, dataOff, (dataOff + csize).toInt)
        case 8 =>
          val inf = new java.util.zip.Inflater(true) // raw deflate
          try {
            inf.setInput(bytes, dataOff, csize.toInt)
            val buf = new Array[Byte](usize.toInt)
            var got = 0
            var stalled = false
            while (got < buf.length && !inf.finished() && !stalled) {
              val n = inf.inflate(buf, got, buf.length - got)
              if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
              got += n
            }
            if (got != buf.length) return None
            // an overlong stream hiding data past the claimed size
            // refuses; so does a TRUNCATED stream that produced
            // exactly usize bytes without ever reaching the final-
            // block terminator — the directory's sizes must describe
            // a complete deflate stream, not a prefix of one
            if (!inf.finished()) {
              if (inf.inflate(new Array[Byte](1)) > 0) return None
              if (!inf.finished()) return None
            }
            buf
          } catch {
            case _: java.util.zip.DataFormatException => return None
          } finally inf.end()
        case _ => return None
      }
      val c = new java.util.zip.CRC32()
      c.update(payload)
      if (c.getValue != crc) return None
      var sum = 0L
      var j = 0
      while (j < payload.length) { sum += payload(j) & 0xff; j += 1 }
      out += ((e, name, method, usize, sum))
      p += 46 + nameLen + extraLen + commentLen
      e += 1
    }
    Some(out.result())
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[zipEntries]] at scale: one row per verified entry, non-zip
    * payloads dropped. */
  def zipInventory(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("entry_idx", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("method", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("sum_bytes", LongType, nullable = false))) { bytes =>
      zipEntries(bytes).toSeq.flatten.map { case (e, name, m, n, s) =>
        (e.toLong, name, m.toLong, n, s)
      }
    }

  /** A COMPLETE baseline ZIP keyed on doc_id: 1 + id%4 entries, entry
    * e named doc_<id>_<e>.(txt|json by parity), payload byte j =
    * (id + 7e + j) mod 256 of length 10 + (id + e) mod 40; even
    * entries STORED, odd entries raw-DEFLATED (JDK `Deflater`), real
    * CRC32s, local headers + central directory + EOCD. */
  private[graft] def zipBytes(id: Long): Array[Byte] = {
    val n = (1 + id % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    case class Meta(name: Array[Byte], method: Int, crc: Long,
                    csize: Int, usize: Int, offset: Int)
    val metas = (0 until n).map { e =>
      val name = (s"doc_${id}_$e." + (if (e % 2 == 0) "txt" else "json"))
        .getBytes("UTF-8")
      val usize = (10 + (id + e) % 40).toInt
      val payload = Array.tabulate[Byte](usize)(j => ((id + 7 * e + j) % 256).toByte)
      val c = new java.util.zip.CRC32(); c.update(payload)
      val (method, data) =
        if (e % 2 == 0) (0, payload)
        else {
          val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(payload); d.finish()
          val buf = new Array[Byte](usize * 2 + 64)
          val m = d.deflate(buf); d.end()
          (8, java.util.Arrays.copyOfRange(buf, 0, m))
        }
      val offset = out.size()
      w32(0x04034b50L); w16(20); w16(0); w16(method); w16(0); w16(0)
      w32(c.getValue); w32(data.length.toLong); w32(usize.toLong)
      w16(name.length); w16(0)
      out.write(name); out.write(data, 0, data.length)
      Meta(name, method, c.getValue, data.length, usize, offset)
    }
    val cdOff = out.size()
    metas.foreach { m =>
      w32(0x02014b50L); w16(20); w16(20); w16(0); w16(m.method); w16(0); w16(0)
      w32(m.crc); w32(m.csize.toLong); w32(m.usize.toLong)
      w16(m.name.length); w16(0); w16(0); w16(0); w16(0); w32(0L)
      w32(m.offset.toLong)
      out.write(m.name)
    }
    val cdLen = out.size() - cdOff
    w32(0x06054b50L); w16(0); w16(0); w16(n); w16(n)
    w32(cdLen.toLong); w32(cdOff.toLong); w16(0)
    out.toByteArray
  }

  /** Deterministic baseline ZIPs keyed on doc_id. */
  def syntheticZipBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(zipBytes)

  // ------------------------------------------------------------------
  // WARC (ISO 28500) — THE training-data container: Common Crawl and
  // every serious web corpus ship WARC files (version line, CRLF
  // header block, Content-Length-framed payload, CRLF CRLF record
  // separator; in the wild each record is its own gzip member,
  // concatenated). Record walk + verified payload framing, plain or
  // member-gzip transport. Untrusted-byte discipline as everywhere.
  // ------------------------------------------------------------------

  /** Walk a WARC file (plain or concatenated-gzip-members): one tuple
    * per record — (recIdx, warcType, targetUri ("" when absent),
    * nBytes, sumBytes). Framing is VERIFIED: every record must carry
    * Content-Length, the payload must be fully present, and the
    * CRLF CRLF record separator must follow it exactly; any slack,
    * truncation, or a malformed header block refuses the whole file
    * (mis-framed WARCs silently corrupt every downstream record). */
  private[graft] def warcRecords(bytes0: Array[Byte])
      : Option[Vector[(Int, String, String, Long, Long)]] =
    warcWalk(bytes0).map { case (bytes, slices) =>
      slices.map { case (idx, warcType, uri, off, len) =>
        var sum = 0L
        var j = 0
        while (j < len) { sum += bytes(off + j) & 0xff; j += 1 }
        (idx, warcType, uri, len.toLong, sum)
      }
    }

  /** The core framing walk behind [[warcRecords]]: returns the
    * transport-decoded buffer plus one (recIdx, warcType, targetUri,
    * payloadOffset, payloadLen) slice per record — callers that need
    * the payload BYTES (HTTP envelope decode) share the exact same
    * verified framing as the inventory. */
  private[graft] def warcWalk(bytes0: Array[Byte])
      : Option[(Array[Byte], Vector[(Int, String, String, Int, Int)])] = try {
    var bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 2) return None
    if ((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      // gzip transport: JDK GZIPInputStream reads concatenated members
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) {
        out.write(buf, 0, n)
        if (out.size() > (1 << 26)) return None // decompression bomb cap
        n = in.read(buf)
      }
      in.close()
      bytes = out.toByteArray
    }
    val out = Vector.newBuilder[(Int, String, String, Int, Int)]
    var p = 0
    var idx = 0
    def line(from: Int): Option[(String, Int)] = {
      var i = from
      while (i + 1 < bytes.length &&
             !((bytes(i) & 0xff) == 0x0d && (bytes(i + 1) & 0xff) == 0x0a)) i += 1
      if (i + 1 >= bytes.length) None
      else Some((new String(bytes, from, i - from, "UTF-8"), i + 2))
    }
    while (p < bytes.length) {
      val (ver, p1) = line(p).getOrElse(return None)
      if (ver != "WARC/1.0" && ver != "WARC/1.1") return None
      var q = p1
      var warcType = ""; var uri = ""; var clen = -1L
      var headersDone = false
      while (!headersDone) {
        val (h, qn) = line(q).getOrElse(return None)
        q = qn
        if (h.isEmpty) headersDone = true
        else {
          val colon = h.indexOf(':')
          if (colon <= 0) return None
          val key = h.substring(0, colon).trim.toLowerCase
          val value = h.substring(colon + 1).trim
          key match {
            case "warc-type" => warcType = value
            case "warc-target-uri" => uri = value
            case "content-length" =>
              clen = try value.toLong catch { case _: NumberFormatException => return None }
            case _ => () // other headers tolerated, per spec
          }
        }
      }
      if (warcType.isEmpty || clen < 0 || clen > (1L << 26)) return None
      if (q + clen + 4 > bytes.length) return None
      val sep = q + clen.toInt
      if ((bytes(sep) & 0xff) != 0x0d || (bytes(sep + 1) & 0xff) != 0x0a ||
          (bytes(sep + 2) & 0xff) != 0x0d || (bytes(sep + 3) & 0xff) != 0x0a)
        return None
      out += ((idx, warcType, uri, q, clen.toInt))
      idx += 1
      p = sep + 4
    }
    if (idx == 0) None else Some((bytes, out.result()))
  } catch {
    case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None
    case _: java.io.IOException => None // corrupt gzip transport
  }

  /** [[warcRecords]] at scale: one row per verified record, non-WARC
    * payloads dropped. */
  def warcInventory(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("rec_idx", LongType, nullable = false),
      StructField("rec_type", StringType, nullable = false),
      StructField("uri", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("sum_bytes", LongType, nullable = false))) { bytes =>
      warcRecords(bytes).toSeq.flatten.map { case (i, t, u, n, s) => (i.toLong, t, u, n, s) }
    }

  /** A COMPLETE WARC keyed on doc_id: one warcinfo record (payload
    * length 10 + id%5, byte j = (id + j) mod 256) followed by
    * 1 + id%3 response records (URI https://ex.com/<id>/<r>, payload
    * length 20 + (id + 3r) mod 30, byte j = (id + 11(r+1) + j) mod
    * 256). Odd ids ship the REAL wild transport: each record its own
    * gzip member, members concatenated. */
  private[graft] def warcBytes(id: Long): Array[Byte] = {
    def record(warcType: String, uri: Option[String], payload: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder()
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $warcType\r\n")
      sb.append(s"WARC-Record-ID: <urn:graft:$id:$warcType>\r\n")
      uri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
      sb.append(s"Content-Length: ${payload.length}\r\n")
      sb.append("\r\n")
      sb.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val info = record("warcinfo", None,
      Array.tabulate[Byte]((10 + id % 5).toInt)(j => ((id + j) % 256).toByte))
    val responses = (0 until (1 + id % 3).toInt).map { r =>
      record("response", Some(s"https://ex.com/$id/$r"),
        Array.tabulate[Byte]((20 + (id + 3 * r) % 30).toInt)(j =>
          ((id + 11 * (r + 1) + j) % 256).toByte))
    }
    val recs = info +: responses
    if (id % 2 == 0) recs.reduce(_ ++ _)
    else recs.map { rec => // one gzip member per record, concatenated
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(rec); gz.close()
      bos.toByteArray
    }.reduce(_ ++ _)
  }

  /** Deterministic WARCs keyed on doc_id (odd ids member-gzipped). */
  def syntheticWarcBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(warcBytes)

  /** Parse an HTTP/1.x response envelope out of a WARC response
    * payload and decode the body through its Content-Encoding:
    * (status, contentType, contentEncoding, rawBodyLen, decodedBody).
    * Strict on everything the bytes can prove:
    *  - status line must be `HTTP/1.0|1.1 NNN ...`;
    *  - an HTTP Content-Length that disagrees with the actual body
    *    length refuses (the WARC record length already frames the
    *    body — a lying inner length is corruption);
    *  - `gzip` bodies must be one complete member with no trailing
    *    slack; `deflate` accepts zlib-wrapped or raw (both exist in
    *    the wild) but must reach the final-block terminator;
    *  - decoded output shares the 2^26 budget discipline.
    * Content-Type is lowercased and cut at ';' (charset parameters
    * are presentation, not identity). */
  private[graft] def httpResponse(bytes: Array[Byte], off: Int, len: Int)
      : Option[(Int, String, String, Int, Array[Byte])] = try {
    val end = off + len
    def line(from: Int): Option[(String, Int)] = {
      var i = from
      while (i + 1 < end &&
             !((bytes(i) & 0xff) == 0x0d && (bytes(i + 1) & 0xff) == 0x0a)) i += 1
      if (i + 1 >= end) None
      else Some((new String(bytes, from, i - from, "ISO-8859-1"), i + 2))
    }
    val (status0, p1) = line(off).getOrElse(return None)
    if (!(status0.startsWith("HTTP/1.0 ") || status0.startsWith("HTTP/1.1 ")))
      return None
    val codeStr = status0.substring(9).takeWhile(_.isDigit)
    if (codeStr.length != 3) return None
    val status = codeStr.toInt
    var q = p1
    var ctype = ""
    var cenc = "identity"
    var hlen = -1L
    var headersDone = false
    while (!headersDone) {
      val (h, qn) = line(q).getOrElse(return None)
      q = qn
      if (h.isEmpty) headersDone = true
      else {
        val colon = h.indexOf(':')
        if (colon <= 0) return None
        val key = h.substring(0, colon).trim.toLowerCase
        val value = h.substring(colon + 1).trim
        key match {
          case "content-type" =>
            val semi = value.indexOf(';')
            ctype = (if (semi >= 0) value.substring(0, semi) else value)
              .trim.toLowerCase
          case "content-encoding" => cenc = value.toLowerCase
          case "content-length" =>
            hlen = try value.toLong catch { case _: NumberFormatException => return None }
          case _ => ()
        }
      }
    }
    val rawLen = end - q
    if (hlen >= 0 && hlen != rawLen) return None
    val body: Array[Byte] = cenc match {
      case "identity" =>
        java.util.Arrays.copyOfRange(bytes, q, end)
      case "gzip" =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes, q, rawLen))
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) {
          out.write(buf, 0, n)
          if (out.size() > (1 << 26)) return None
          n = in.read(buf)
        }
        in.close()
        out.toByteArray
      case "deflate" =>
        // zlib-wrapped per RFC; raw-deflate servers exist — try both
        def inflateWith(raw: Boolean): Option[Array[Byte]] = {
          val inf = new java.util.zip.Inflater(raw)
          try {
            inf.setInput(bytes, q, rawLen)
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var stalled = false
            while (!inf.finished() && !stalled) {
              val n = inf.inflate(buf)
              if (n > 0) {
                out.write(buf, 0, n)
                if (out.size() > (1 << 26)) return None
              } else if (inf.needsInput() || inf.needsDictionary()) stalled = true
            }
            if (!inf.finished()) None else Some(out.toByteArray)
          } catch {
            case _: java.util.zip.DataFormatException => None
          } finally inf.end()
        }
        inflateWith(raw = false).orElse(inflateWith(raw = true))
          .getOrElse(return None)
      case _ => return None // unknown codings refuse, not pass-through
    }
    Some((status, ctype, cenc, rawLen, body))
  } catch {
    case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None
    case _: java.io.IOException => None
  }

  /** WARC → HTTP → decoded-body inventory: one row per `response`
    * record whose payload is a well-formed HTTP response — doc_id,
    * rec_idx, uri, status, content_type, content_encoding, n_raw
    * (body bytes on the wire), n_body (after Content-Encoding
    * decode), body_text (decoded bytes as UTF-8). This is the seam
    * that lets the HTML extractor see text inside crawl archives
    * whose bodies are gzip/deflate-compressed (most of Common Crawl).
    * Non-response records and malformed/lying envelopes drop. Zero
    * shuffle. */
  def warcHttpBodies(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("rec_idx", LongType, nullable = false),
      StructField("uri", StringType, nullable = false),
      StructField("status", LongType, nullable = false),
      StructField("content_type", StringType, nullable = false),
      StructField("content_encoding", StringType, nullable = false),
      StructField("n_raw", LongType, nullable = false),
      StructField("n_body", LongType, nullable = false),
      StructField("body_text", StringType, nullable = false))) { bytes =>
      warcWalk(bytes).toSeq.flatMap { case (buf, slices) =>
        slices.collect { case (i, "response", uri, off, len) => (i, uri, off, len) }
          .flatMap { case (i, uri, off, len) =>
            httpResponse(buf, off, len).map { case (st, ct, ce, nRaw, body) =>
              (i.toLong, uri, st.toLong, ct, ce, nRaw.toLong, body.length.toLong,
                new String(body, java.nio.charset.StandardCharsets.UTF_8))
            }
          }
      }
    }

  /** A web-crawl WARC keyed on doc_id: warcinfo + ONE response record
    * whose payload is a full HTTP/1.1 response carrying the
    * [[WebExtract.htmlFor]] page, body Content-Encoding by id%3
    * (identity / gzip / zlib-deflate); odd ids additionally ship the
    * member-gzip TRANSPORT — the content-coding × transport-coding
    * matrix in one fixture family. */
  private[graft] def webWarcBytes(id: Long): Array[Byte] = {
    def record(warcType: String, uri: Option[String], payload: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder()
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $warcType\r\n")
      sb.append(s"WARC-Record-ID: <urn:graft:web:$id:$warcType>\r\n")
      uri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
      sb.append(s"Content-Length: ${payload.length}\r\n")
      sb.append("\r\n")
      sb.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val html = WebExtract.htmlFor(id).getBytes("UTF-8")
    val (cenc, body) = (id % 3) match {
      case 0 => ("identity", html)
      case 1 =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(html); gz.close()
        ("gzip", bos.toByteArray)
      case _ =>
        val d = new java.util.zip.Deflater()
        d.setInput(html); d.finish()
        val buf = new Array[Byte](html.length + 64)
        val m = d.deflate(buf)
        d.end()
        ("deflate", java.util.Arrays.copyOf(buf, m))
    }
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      (if (cenc == "identity") "" else s"Content-Encoding: $cenc\r\n") +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
    val info = record("warcinfo", None,
      Array.tabulate[Byte]((10 + id % 5).toInt)(j => ((id + j) % 256).toByte))
    val resp = record("response", Some(s"https://ex.com/web/$id"), http)
    val recs = Vector(info, resp)
    if (id % 2 == 0) recs.reduce(_ ++ _)
    else recs.map { rec =>
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(rec); gz.close()
      bos.toByteArray
    }.reduce(_ ++ _)
  }

  /** Deterministic web-crawl WARCs (HTTP + content-coding matrix). */
  def syntheticWebWarcBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(webWarcBytes)

  // ------------------------------------------------------------------
  // MP3 (ID3v2 tag walk + MPEG frame header) — the music/podcast
  // corpus metadata: title/artist from the ID3v2.3 text frames
  // (syncsafe container size, per-frame walk), then the FIRST MPEG
  // audio frame header decoded through the real version/layer/
  // bitrate/samplerate tables — stream facts without decoding audio.
  // The MP4 box walk's audio sibling; same untrusted-byte rules.
  // ------------------------------------------------------------------

  private val Mp3BitrateKbps: Array[Int] = Array(
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3SampleRates: Array[Int] = Array(44100, 48000, 32000)

  /** Walk an MP3's leading ID3v2.3 tag and first MPEG1 Layer III
    * frame header: (title, artist, bitrateKbps, sampleRate,
    * frameBytes). Missing TIT2/TPE1 read as "" (tags are optional in
    * the wild); anything structurally malformed — a non-syncsafe
    * size, a frame overrunning the tag, a bad sync word, a reserved
    * bitrate/samplerate index — refuses. */
  private[graft] def mp3Meta(bytes0: Array[Byte])
      : Option[(String, String, Int, Int, Int)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 10 || tag(bytes, 0).take(3) != "ID3") return None
    if ((bytes(3) & 0xff) != 3 || (bytes(4) & 0xff) != 0) return None // v2.3 only
    if ((bytes(5) & 0xff) != 0) return None // no unsync/extended/experimental
    // syncsafe 28-bit size: 4 × 7-bit groups, high bit of each must be 0
    if ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) < 0 ||
        ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) != 0) return None
    val tagSize = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val tagEnd = 10 + tagSize
    if (tagEnd > bytes.length) return None
    var title = ""; var artist = ""
    var p = 10
    var done = false
    while (!done && p + 10 <= tagEnd) {
      if (bytes(p) == 0) done = true // zero byte: tag padding begins
      else {
        val fid = new String(bytes, p, 4, "US-ASCII")
        val fsize = i32be(bytes, p + 4) // v2.3 frame sizes are PLAIN ints
        if (fsize < 0 || p + 10 + fsize > tagEnd) return None
        if ((fid == "TIT2" || fid == "TPE1") && fsize >= 1) {
          val enc = bytes(p + 10) & 0xff
          if (enc != 0 && enc != 3) return None // latin1 / utf8 only
          val cs = if (enc == 0) "ISO-8859-1" else "UTF-8"
          val raw = new String(bytes, p + 11, fsize - 1, cs)
          val text = raw.takeWhile(_ != 0.toChar)
          if (fid == "TIT2") title = text else artist = text
        }
        p += 10 + fsize
      }
    }
    // first MPEG frame header at the tag boundary
    if (tagEnd + 4 > bytes.length) return None
    val h0 = bytes(tagEnd) & 0xff; val h1 = bytes(tagEnd + 1) & 0xff
    val h2 = bytes(tagEnd + 2) & 0xff
    if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return None // sync
    if (((h1 >> 3) & 3) != 3) return None // MPEG1 only
    if (((h1 >> 1) & 3) != 1) return None // Layer III only
    val bIdx = (h2 >> 4) & 0xf
    val sIdx = (h2 >> 2) & 3
    if (bIdx == 0 || bIdx == 15 || sIdx == 3) return None // reserved
    val padding = (h2 >> 1) & 1
    val kbps = Mp3BitrateKbps(bIdx)
    val hz = Mp3SampleRates(sIdx)
    val frameBytes = 144000 * kbps / hz + padding
    if (tagEnd + frameBytes > bytes.length) return None // truncated frame
    Some((title, artist, kbps, hz, frameBytes))
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[mp3Meta]] at scale, non-MP3 payloads dropped. */
  def mp3Metadata(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("title", StringType, nullable = false),
      StructField("artist", StringType, nullable = false),
      StructField("bitrate_kbps", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("frame_bytes", LongType, nullable = false))) { bytes =>
      mp3Meta(bytes).map { case (t, a, k, hz, fb) => (t, a, k.toLong, hz.toLong, fb.toLong) }
    }

  /** A COMPLETE minimal MP3 keyed on doc_id: ID3v2.3 tag carrying
    * TIT2 = "Track <id mod 100>" and TPE1 = "Artist <id mod 10>"
    * (latin1), then one full MPEG1 Layer III frame — bitrate index
    * 1 + id%14 (the whole table appears across the corpus),
    * samplerate index id%3, no padding, zeroed audio payload. */
  private[graft] def mp3Bytes(id: Long): Array[Byte] = {
    def textFrame(fid: String, text: String): Array[Byte] = {
      val t = text.getBytes("ISO-8859-1")
      val b = java.nio.ByteBuffer.allocate(10 + 1 + t.length)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      b.put(fid.getBytes("US-ASCII")).putInt(1 + t.length)
      b.putShort(0).put(0.toByte).put(t)
      b.array()
    }
    val frames = textFrame("TIT2", s"Track ${id % 100}") ++
      textFrame("TPE1", s"Artist ${id % 10}")
    val tagSize = frames.length
    val header = Array[Byte]('I', 'D', '3', 3, 0, 0,
      ((tagSize >> 21) & 0x7f).toByte, ((tagSize >> 14) & 0x7f).toByte,
      ((tagSize >> 7) & 0x7f).toByte, (tagSize & 0x7f).toByte)
    val bIdx = (1 + id % 14).toInt
    val sIdx = (id % 3).toInt
    val frameBytes = 144000 * Mp3BitrateKbps(bIdx) / Mp3SampleRates(sIdx)
    val audio = new Array[Byte](frameBytes)
    audio(0) = 0xff.toByte
    audio(1) = 0xfb.toByte // MPEG1, Layer III, no CRC
    audio(2) = ((bIdx << 4) | (sIdx << 2)).toByte // no padding, not private
    audio(3) = 0
    header ++ frames ++ audio
  }

  /** ALL-frames MP3 census — [[mp3Meta]] reads only the first header,
    * which reports the WRONG duration for VBR files (most podcast/
    * rip encoders): walk every MPEG1 Layer III frame by header-stride
    * hops and return (nFrames, sampleRate, kbpsMin, kbpsMax, kbpsMode,
    * nPadded, audioBytes). Strict framing: an optional leading ID3v2.3
    * tag and an optional trailing 128-byte ID3v1 block are the only
    * non-frame bytes allowed; every hop must land on a valid sync; a
    * sample-rate change mid-stream or any slack refuses (that is a
    * broken file, not a VBR one). Mode ties break toward the LOWER
    * bitrate. */
  private[graft] def mp3FrameCensus(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int, Long)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    var p = 0
    if (bytes.length >= 10 && tag(bytes, 0).take(3) == "ID3") {
      if ((bytes(3) & 0xff) != 3 || (bytes(4) & 0xff) != 0) return None
      if ((bytes(5) & 0xff) != 0) return None
      if (((bytes(6) | bytes(7) | bytes(8) | bytes(9)) & 0x80) != 0) return None
      p = 10 + (((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f))
      if (p > bytes.length) return None
    }
    val counts = new Array[Int](15)
    var hz = -1
    var nPadded = 0
    var audioBytes = 0L
    var nFrames = 0
    var done = false
    while (!done && p < bytes.length) {
      if (bytes.length - p == 128 && tag(bytes, p).take(3) == "TAG") {
        p = bytes.length // trailing ID3v1 block
        done = true
      } else {
        if (p + 4 > bytes.length) return None
        val h0 = bytes(p) & 0xff; val h1 = bytes(p + 1) & 0xff
        val h2 = bytes(p + 2) & 0xff
        if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return None
        if (((h1 >> 3) & 3) != 3 || ((h1 >> 1) & 3) != 1) return None
        val bIdx = (h2 >> 4) & 0xf
        val sIdx = (h2 >> 2) & 3
        if (bIdx == 0 || bIdx == 15 || sIdx == 3) return None
        val fhz = Mp3SampleRates(sIdx)
        if (hz < 0) hz = fhz
        else if (hz != fhz) return None // sample-rate change = corruption
        val padding = (h2 >> 1) & 1
        val fb = 144000 * Mp3BitrateKbps(bIdx) / fhz + padding
        if (p + fb > bytes.length) return None
        counts(bIdx) += 1
        nPadded += padding
        audioBytes += fb
        nFrames += 1
        p += fb
      }
    }
    if (nFrames == 0 || p != bytes.length) return None
    var kMin = 0; var kMax = 0; var kMode = 0; var best = 0
    var i = 1
    while (i < 15) {
      if (counts(i) > 0) {
        val k = Mp3BitrateKbps(i)
        if (kMin == 0) kMin = k
        kMax = k
        if (counts(i) > best) { best = counts(i); kMode = k }
      }
      i += 1
    }
    Some((nFrames, hz, kMin, kMax, kMode, nPadded, audioBytes))
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[mp3FrameCensus]] at scale: one row per parseable MP3 —
    * doc_id, n_frames, sample_rate, duration_ms (exact: MPEG1 Layer
    * III is 1152 samples/frame), kbps min/max/mode, is_vbr, n_padded,
    * n_audio_bytes. Narrow, zero shuffle. */
  def mp3FrameInventory(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("n_frames", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("kbps_min", LongType, nullable = false),
      StructField("kbps_max", LongType, nullable = false),
      StructField("kbps_mode", LongType, nullable = false),
      StructField("is_vbr", LongType, nullable = false),
      StructField("n_padded", LongType, nullable = false),
      StructField("n_audio_bytes", LongType, nullable = false))) { bytes =>
      mp3FrameCensus(bytes).map { case (n, hz, kMin, kMax, kMode, nPad, aBytes) =>
        (n.toLong, hz.toLong, 1152000L * n / hz, kMin.toLong, kMax.toLong, kMode.toLong,
          if (kMin != kMax) 1L else 0L, nPad.toLong, aBytes)
      }
    }

  /** Multi-frame MP3s keyed on doc_id: 3 + id%6 frames; even ids CBR
    * (bitrate index 1 + id%14), odd ids VBR (frame f uses index
    * 1 + (id + 3f)%14); samplerate index id%3; padding bit (id+f)%2;
    * leading ID3v2.3 tag except when id%4 = 0; trailing ID3v1 block
    * when id%5 = 0 — the tag × VBR × padding matrix. */
  private[graft] def mp3VbrBytes(id: Long): Array[Byte] = {
    val nFrames = (3 + id % 6).toInt
    val sIdx = (id % 3).toInt
    val hz = Mp3SampleRates(sIdx)
    val frames = (0 until nFrames).map { f =>
      val bIdx = if (id % 2 == 0) (1 + id % 14).toInt
                 else (1 + (id + 3 * f) % 14).toInt
      val padding = ((id + f) % 2).toInt
      val fb = 144000 * Mp3BitrateKbps(bIdx) / hz + padding
      val a = new Array[Byte](fb)
      a(0) = 0xff.toByte
      a(1) = 0xfb.toByte
      a(2) = ((bIdx << 4) | (sIdx << 2) | (padding << 1)).toByte
      a(3) = 0
      a
    }.reduce(_ ++ _)
    val lead: Array[Byte] =
      if (id % 4 == 0) Array.emptyByteArray
      else {
        val t = s"VBR ${id % 50}".getBytes("ISO-8859-1")
        val fr = java.nio.ByteBuffer.allocate(11 + t.length)
          .order(java.nio.ByteOrder.BIG_ENDIAN)
        fr.put("TIT2".getBytes("US-ASCII")).putInt(1 + t.length)
        fr.putShort(0).put(0.toByte).put(t)
        val body = fr.array()
        val sz = body.length
        Array[Byte]('I', 'D', '3', 3, 0, 0,
          ((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
          ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ body
      }
    val trail: Array[Byte] =
      if (id % 5 == 0) {
        val v1 = new Array[Byte](128)
        v1(0) = 'T'; v1(1) = 'A'; v1(2) = 'G'
        v1
      } else Array.emptyByteArray
    lead ++ frames ++ trail
  }

  /** Deterministic multi-frame (CBR + VBR) MP3s keyed on doc_id. */
  def syntheticMp3VbrBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(mp3VbrBytes)

  /** Deterministic minimal MP3s keyed on doc_id. */
  def syntheticMp3Blobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(mp3Bytes)

  // ------------------------------------------------------------------
  // TIFF (baseline, uncompressed strips) — the scan/document-corpus
  // container: a standalone-file TIFF IFD walk (either byte order)
  // reading the baseline tag set (dims, BitsPerSample, Compression,
  // Photometric, strip offsets/counts, SamplesPerPixel, RowsPerStrip),
  // strips concatenated row-major into channel sums. Distinct from
  // [[exifMeta]] (an APP1-EMBEDDED TIFF carrying camera tags): this
  // reads the IMAGE. Same untrusted-byte discipline.
  // ------------------------------------------------------------------

  /** PackBits (TIFF compression 32773, the Macintosh RLE): n ≥ 0 →
    * copy n+1 literal bytes; −127 ≤ n ≤ −1 → repeat next byte 1−n
    * times; −128 is a no-op. Strict: the strip must decode to EXACTLY
    * `expected` bytes and consume every input byte (trailing no-ops
    * tolerated — Photoshop emits them) — slack either way refuses. */
  private[graft] def packbitsDecode(bytes: Array[Byte], off: Int, len: Int,
      expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var i = off
    var o = 0
    val end = off + len
    while (i < end && o < expected) {
      val n = bytes(i)
      i += 1
      if (n >= 0) {
        val c = n + 1
        if (i + c > end || o + c > expected) return None
        System.arraycopy(bytes, i, out, o, c)
        i += c; o += c
      } else if (n != -128) {
        val c = 1 - n
        if (i >= end || o + c > expected) return None
        java.util.Arrays.fill(out, o, o + c, bytes(i))
        i += 1; o += c
      }
    }
    while (i < end && bytes(i) == -128) i += 1
    if (o == expected && i == end) Some(out) else None
  }

  /** TIFF LZW (compression 5): MSB-first variable-width codes 9→12
    * bits with the spec's EARLY CHANGE (both sides widen one code
    * sooner than strictly necessary — the defining difference from
    * GIF's LSB-first late-change LZW), Clear 256 / EOI 257, table
    * from 258. Strict: must reach EOI, decode to exactly `expected`
    * bytes, and leave under one byte of padding — anything else
    * refuses. Flat-array string table (prefix/suffix/length), O(out)
    * total. */
  private[graft] def tiffLzwDecode(bytes: Array[Byte], off: Int, len: Int,
      expected: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expected)
    var o = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val strLen = new Array[Int](4096)
    var c0 = 0
    while (c0 < 256) { prefix(c0) = -1; suffix(c0) = c0.toByte; strLen(c0) = 1; c0 += 1 }
    var nextFree = 258
    var width = 9
    var bitPos = 0L
    val totalBits = len.toLong * 8
    def read(): Int = {
      if (bitPos + width > totalBits) -1
      else {
        var v = 0
        var k = 0
        while (k < width) {
          val p = bitPos + k
          v = (v << 1) | ((bytes(off + (p >> 3).toInt) >> (7 - (p & 7).toInt)) & 1)
          k += 1
        }
        bitPos += width
        v
      }
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (prefix(c) >= 0) c = prefix(c)
      suffix(c)
    }
    def emit(code: Int): Boolean = {
      val l = strLen(code)
      if (o + l > expected) false
      else {
        var c = code
        var j = o + l - 1
        while (c >= 0) { out(j) = suffix(c); c = prefix(c); j -= 1 }
        o += l
        true
      }
    }
    var prev = -1
    var sawEoi = false
    while (!sawEoi) {
      val code = read()
      if (code < 0) return None
      if (code == 257) sawEoi = true
      else if (code == 256) { nextFree = 258; width = 9; prev = -1 }
      else if (prev == -1) {
        if (code > 255) return None
        if (!emit(code)) return None
        prev = code
      } else {
        if (nextFree >= 4096) return None
        if (code < nextFree) {
          prefix(nextFree) = prev
          suffix(nextFree) = firstByte(code)
          strLen(nextFree) = strLen(prev) + 1
          if (!emit(code)) return None
        } else if (code == nextFree) { // KwKwK
          prefix(nextFree) = prev
          suffix(nextFree) = firstByte(prev)
          strLen(nextFree) = strLen(prev) + 1
          if (!emit(code)) return None
        } else return None
        nextFree += 1
        prev = code
        // early-change boundary, decoder side (libtiff/JDK convention,
        // verified against the JDK writer): widen when the table
        // reaches 511/1023/2047 — one code before the width is full
        if (nextFree == 511 || nextFree == 1023 || nextFree == 2047) width += 1
      }
    }
    if (o != expected || totalBits - bitPos >= 8) None else Some(out)
  }

  /** TIFF LZW encoder (the [[tiffLzwDecode]] twin, used by the fixture
    * builder): emits Clear, hash-chained string matches, early-change
    * width growth at table sizes 511/1023/2047, a fresh Clear at 4094
    * (the libtiff boundary), final code + EOI, MSB-first packing. */
  private[graft] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var accBits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code
      accBits += width
      while (accBits >= 8) {
        out.write(((acc >> (accBits - 8)) & 0xff).toInt)
        accBits -= 8
      }
    }
    val table = new java.util.HashMap[Integer, Integer]()
    var nextFree = 258
    put(256)
    var omega = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = Integer.valueOf((omega << 8) | k)
        val e = table.get(key)
        if (e != null) omega = e.intValue()
        else {
          put(omega)
          table.put(key, Integer.valueOf(nextFree))
          nextFree += 1
          // encoder side sits one entry ahead of the decoder at each
          // read, so it widens at 512/1024/2048 and clears at 4094
          // (the libtiff boundary) — the decoder's 511-family rule
          // then reads every code at the width it was written
          if (nextFree == 512 || nextFree == 1024 || nextFree == 2048) width += 1
          else if (nextFree == 4094) {
            put(256)
            table.clear()
            nextFree = 258
            width = 9
          }
          omega = k
        }
      }
      i += 1
    }
    if (omega >= 0) put(omega)
    put(257)
    if (accBits > 0)
      out.write((((acc & ((1L << accBits) - 1)) << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** Undo TIFF Predictor 2 (horizontal differencing) in place: each
    * sample adds its left neighbour in the same channel, per row. */
  private def undoHorizontalPredictor(strip: Array[Byte], rows: Int,
      rowBytes: Int, channels: Int): Unit = {
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var j = channels
      while (j < rowBytes) {
        strip(base + j) = ((strip(base + j) + strip(base + j - channels)) & 0xff).toByte
        j += 1
      }
      r += 1
    }
  }

  /** Decode a baseline striped TIFF: (width, height, channels,
    * nPixels, sumR, sumG, sumB). Accepts 8-bit gray (photometric 1,
    * spp 1) and RGB (photometric 2, spp 3), any RowsPerStrip,
    * compression 1 (none), 5 (LZW — what scanned-document corpora
    * actually carry) or 32773 (PackBits), Predictor 1 or 2
    * (horizontal differencing, the usual LZW companion); refuses
    * other photometrics, depths, short/overlong/unterminated strips,
    * or any out-of-bounds indirection — None, never a throw. */
  private[graft] def decodeTiffPixels(bytes0: Array[Byte])
      : Option[(Int, Int, Int, Long, Long, Long, Long)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 8) return None
    val big = tag(bytes, 0).take(2) match {
      case "MM" => true
      case "II" => false
      case _ => return None
    }
    def ru16(o: Int): Int = {
      if (o < 0 || o + 2 > bytes.length) throw new IndexOutOfBoundsException
      val a = bytes(o) & 0xff; val b = bytes(o + 1) & 0xff
      if (big) (a << 8) | b else (b << 8) | a
    }
    def ru32(o: Int): Long = {
      if (o < 0 || o + 4 > bytes.length) throw new IndexOutOfBoundsException
      if (big) (ru16(o).toLong << 16) | ru16(o + 2)
      else (ru16(o + 2).toLong << 16) | ru16(o)
    }
    if (ru16(2) != 42) return None
    val ifd = ru32(4).toInt
    val n = ru16(ifd)
    if (n <= 0 || n > 256) return None
    // typed value reader: SHORT (3) / LONG (4) arrays, inline if they
    // fit the 4-byte field, behind an offset otherwise
    def values(typ: Int, cnt: Long, valOff: Int): Array[Long] = {
      val size = typ match { case 3 => 2; case 4 => 4; case _ => return Array.emptyLongArray }
      if (cnt <= 0 || cnt > (1 << 20)) throw new IndexOutOfBoundsException
      val base = if (cnt * size <= 4) valOff else ru32(valOff).toInt
      Array.tabulate(cnt.toInt)(i =>
        if (typ == 3) ru16(base + 2 * i).toLong else ru32(base + 4 * i))
    }
    var width = -1L; var height = -1L; var spp = 1L
    var rps = -1L; var compression = 1L; var photometric = -1L
    var predictor = 1L
    var bps: Array[Long] = Array(8L)
    var stripOffs: Array[Long] = null
    var stripCounts: Array[Long] = null
    var i = 0
    while (i < n) {
      val e = ifd + 2 + 12 * i
      val etag = ru16(e); val typ = ru16(e + 2); val cnt = ru32(e + 4)
      val valOff = e + 8
      def one: Long = values(typ, 1, valOff)(0)
      etag match {
        case 256 => width = one
        case 257 => height = one
        case 258 => bps = values(typ, cnt, valOff)
        case 259 => compression = one
        case 262 => photometric = one
        case 273 => stripOffs = values(typ, cnt, valOff)
        case 277 => spp = one
        case 278 => rps = one
        case 279 => stripCounts = values(typ, cnt, valOff)
        case 317 => predictor = one
        case _ => () // baseline readers tolerate unknown tags
      }
      i += 1
    }
    if (width <= 0 || height <= 0 || width > (1 << 14) || height > (1 << 14)) return None
    if (compression != 1 && compression != 5 && compression != 32773) return None
    if (predictor != 1 && predictor != 2) return None
    val channels = photometric match {
      case 1 => 1
      case 2 => 3
      case _ => return None
    }
    if (spp != channels) return None
    if (bps.length != channels || bps.exists(_ != 8L)) return None
    if (stripOffs == null || stripCounts == null ||
        stripOffs.length != stripCounts.length) return None
    val rowsPer = if (rps <= 0) height else rps
    val nStrips = ((height + rowsPer - 1) / rowsPer).toInt
    if (stripOffs.length != nStrips) return None
    if (width * height * channels > (1L << 26)) return None
    val rowBytes = width * channels
    val sums = new Array[Long](3)
    var s = 0
    var rowsLeft = height
    while (s < nStrips) {
      val rows = math.min(rowsPer, rowsLeft)
      val expected = (rows * rowBytes).toInt
      val off = stripOffs(s)
      val cnt = stripCounts(s)
      if (off < 0 || cnt < 0 || cnt > (1L << 26) ||
          off + cnt > bytes.length) return None
      val strip: Array[Byte] = compression match {
        case 1 =>
          if (cnt != expected) return None
          java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
        case 5 =>
          tiffLzwDecode(bytes, off.toInt, cnt.toInt, expected)
            .getOrElse(return None)
        case _ => // 32773
          packbitsDecode(bytes, off.toInt, cnt.toInt, expected)
            .getOrElse(return None)
      }
      if (predictor == 2)
        undoHorizontalPredictor(strip, rows.toInt, rowBytes.toInt, channels)
      var j = 0
      while (j < expected) {
        sums(j % channels) += strip(j) & 0xff
        j += 1
      }
      rowsLeft -= rows
      s += 1
    }
    Some((width.toInt, height.toInt, channels, width * height,
      sums(0), if (channels == 3) sums(1) else 0L,
      if (channels == 3) sums(2) else 0L))
  } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }

  /** [[decodeTiffPixels]] at scale, non-TIFF payloads dropped. */
  def decodeTiff(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("channels", LongType, nullable = false),
      StructField("n_pixels", LongType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false))) { bytes =>
      decodeTiffPixels(bytes).map { case (w, h, ch, np, sr, sg, sb) =>
        (w.toLong, h.toLong, ch.toLong, np, sr, sg, sb)
      }
    }

  /** A COMPLETE baseline striped TIFF in either byte order: 9-entry
    * IFD (dims, per-channel BitsPerSample, Compression 1, Photometric,
    * StripOffsets/ByteCounts as LONG arrays — inline when one strip,
    * behind offsets otherwise — SamplesPerPixel, RowsPerStrip),
    * pixel sample v(x,r,k) = (id + 2x + 3r + 5k) mod 256. */
  private[graft] def tiffBytes(id: Long, width: Int, height: Int,
      channels: Int, bigEndian: Boolean, rowsPerStrip: Int): Array[Byte] = {
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val rowBytes = width * channels
    // layout: header 8 | IFD 2+9·12+4 | values area | strips
    val ifdLen = 2 + 9 * 12 + 4
    var extra = 0
    val bpsOff = 8 + ifdLen + extra
    if (channels == 3) extra += 6
    val soOff = 8 + ifdLen + extra
    if (nStrips > 1) extra += 4 * nStrips
    val scOff = 8 + ifdLen + extra
    if (nStrips > 1) extra += 4 * nStrips
    val dataOff = 8 + ifdLen + extra
    val total = dataOff + height * rowBytes
    val b = java.nio.ByteBuffer.allocate(total)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put((if (bigEndian) "MM" else "II").getBytes("US-ASCII"))
    b.putShort(42).putInt(8)
    b.putShort(9)
    def entry(tag: Int, typ: Int, cnt: Int)(value: java.nio.ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    def stripOff(s: Int): Int = dataOff + s * rowsPerStrip * rowBytes
    def stripCount(s: Int): Int =
      math.min(rowsPerStrip, height - s * rowsPerStrip) * rowBytes
    entry(256, 4, 1)(_.putInt(width))
    entry(257, 4, 1)(_.putInt(height))
    if (channels == 3) entry(258, 3, 3)(_.putInt(bpsOff))
    else entry(258, 3, 1)(_.putShort(8))
    entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(if (channels == 3) 2 else 1))
    if (nStrips > 1) entry(273, 4, nStrips)(_.putInt(soOff))
    else entry(273, 4, 1)(_.putInt(stripOff(0)))
    entry(277, 3, 1)(_.putShort(channels.toShort))
    entry(278, 4, 1)(_.putInt(rowsPerStrip))
    if (nStrips > 1) entry(279, 4, nStrips)(_.putInt(scOff))
    else entry(279, 4, 1)(_.putInt(stripCount(0)))
    b.putInt(0) // next IFD: none
    if (channels == 3) { b.putShort(8); b.putShort(8); b.putShort(8) }
    if (nStrips > 1) {
      for (s <- 0 until nStrips) b.putInt(stripOff(s))
      for (s <- 0 until nStrips) b.putInt(stripCount(s))
    }
    for (r <- 0 until height; x <- 0 until width; k <- 0 until channels)
      b.put((((id + 2L * x + 3L * r + 5L * k) % 256)).toByte)
    b.array()
  }

  /** Deterministic baseline TIFFs keyed on doc_id: gray (id%3 = 0) or
    * RGB, byte order by id parity, RowsPerStrip 1 + id%3 (so most
    * docs are MULTI-strip with offset-indirected arrays). */
  def syntheticTiffBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(tiffFixtureBytes)

  private def tiffFixtureBytes(id: Long): Array[Byte] =
    tiffBytes(id, (1 + id % 12).toInt, (1 + id % 8).toInt,
      if (id % 3 == 0) 1 else 3, id % 2 == 1, (1 + id % 3).toInt)

  /** PackBits encoder (fixture twin of [[packbitsDecode]]): replicate
    * packets for runs ≥ 2, literal packets otherwise, 128-byte packet
    * cap — each ROW packed separately per the TIFF spec. */
  private[graft] def packbitsEncode(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    val n = row.length
    while (i < n) {
      var j = i + 1
      while (j < n && row(j) == row(i) && j - i < 128) j += 1
      val run = j - i
      if (run >= 2) {
        out.write(1 - run)
        out.write(row(i))
        i = j
      } else {
        var k = i + 1
        while (k < n && k - i < 128 &&
               !(k + 1 < n && row(k) == row(k + 1))) k += 1
        out.write(k - i - 1)
        out.write(row, i, k - i)
        i = k
      }
    }
    out.toByteArray
  }

  /** A COMPLETE COMPRESSED striped TIFF in either byte order —
    * Compression 5 (LZW, per-strip state) or 32773 (PackBits, per-row
    * packets), optional Predictor 2 (horizontal differencing applied
    * before compression), same analytic pixel rule as [[tiffBytes]]:
    * v(x,r,k) = (id + 2x + 3r + 5k) mod 256. Strip offset/count
    * arrays are genuinely variable (compressed sizes), so the reader
    * must trust NOTHING about layout. */
  private[graft] def tiffCompressedBytes(id: Long, width: Int, height: Int,
      channels: Int, bigEndian: Boolean, rowsPerStrip: Int,
      compression: Int, predictor: Int): Array[Byte] = {
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val rowBytes = width * channels
    val strips: Array[Array[Byte]] = Array.tabulate(nStrips) { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = new Array[Byte](rows * rowBytes)
      for (r <- 0 until rows; x <- 0 until width; k <- 0 until channels)
        raw(r * rowBytes + x * channels + k) =
          ((id + 2L * x + 3L * (s * rowsPerStrip + r) + 5L * k) % 256).toByte
      if (predictor == 2)
        for (r <- 0 until rows; j <- (rowBytes - 1) to channels by -1)
          raw(r * rowBytes + j) =
            ((raw(r * rowBytes + j) - raw(r * rowBytes + j - channels)) & 0xff).toByte
      if (compression == 5) tiffLzwEncode(raw)
      else (0 until rows).map(r => packbitsEncode(
        java.util.Arrays.copyOfRange(raw, r * rowBytes, (r + 1) * rowBytes)))
        .reduce(_ ++ _)
    }
    val nEntries = if (predictor == 2) 10 else 9
    val ifdLen = 2 + nEntries * 12 + 4
    var extra = 0
    val bpsOff = 8 + ifdLen + extra
    if (channels == 3) extra += 6
    val soOff = 8 + ifdLen + extra
    if (nStrips > 1) extra += 4 * nStrips
    val scOff = 8 + ifdLen + extra
    if (nStrips > 1) extra += 4 * nStrips
    val dataOff = 8 + ifdLen + extra
    val total = dataOff + strips.map(_.length).sum
    val b = java.nio.ByteBuffer.allocate(total)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put((if (bigEndian) "MM" else "II").getBytes("US-ASCII"))
    b.putShort(42).putInt(8)
    b.putShort(nEntries.toShort)
    def entry(tag: Int, typ: Int, cnt: Int)(value: java.nio.ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      val before = b.position()
      value(b)
      while (b.position() < before + 4) b.put(0.toByte)
    }
    def stripOff(s: Int): Int = dataOff + strips.take(s).map(_.length).sum
    entry(256, 4, 1)(_.putInt(width))
    entry(257, 4, 1)(_.putInt(height))
    if (channels == 3) entry(258, 3, 3)(_.putInt(bpsOff))
    else entry(258, 3, 1)(_.putShort(8))
    entry(259, 3, 1)(_.putShort(compression.toShort))
    entry(262, 3, 1)(_.putShort(if (channels == 3) 2 else 1))
    if (nStrips > 1) entry(273, 4, nStrips)(_.putInt(soOff))
    else entry(273, 4, 1)(_.putInt(stripOff(0)))
    entry(277, 3, 1)(_.putShort(channels.toShort))
    entry(278, 4, 1)(_.putInt(rowsPerStrip))
    if (nStrips > 1) entry(279, 4, nStrips)(_.putInt(scOff))
    else entry(279, 4, 1)(_.putInt(strips(0).length))
    if (predictor == 2) entry(317, 3, 1)(_.putShort(2))
    b.putInt(0) // next IFD: none
    if (channels == 3) { b.putShort(8); b.putShort(8); b.putShort(8) }
    if (nStrips > 1) {
      for (s <- 0 until nStrips) b.putInt(stripOff(s))
      for (s <- 0 until nStrips) b.putInt(strips(s).length)
    }
    strips.foreach(b.put)
    b.array()
  }

  /** Deterministic COMPRESSED TIFFs keyed on doc_id: PackBits (id%3=0)
    * or LZW (id%3=1) or LZW+Predictor2 (id%3=2); gray when id%5=0;
    * byte order by parity; RowsPerStrip 1 + id%4. */
  def syntheticTiffCompressedBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val comp = if (id % 3 == 0) 32773 else 5
      val pred = if (id % 3 == 2) 2 else 1
      tiffCompressedBytes(id, (1 + id % 12).toInt, (1 + id % 8).toInt,
        if (id % 5 == 0) 1 else 3, id % 2 == 1, (1 + id % 4).toInt, comp, pred)
    }

  // ------------------------------------------------------------------
  // MP4 / ISO-BMFF box walk — video-container metadata: a video corpus
  // is opaque mdat payloads under a typed box tree; curation needs the
  // tree (duration, track inventory, codec fourcc, display dims)
  // WITHOUT decoding a single frame. Pure byte walk, bounds-checked,
  // depth-capped — the JPEG/WAV untrusted-byte discipline.
  // ------------------------------------------------------------------

  private def writeBox(typ: String, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b.putInt(8 + payload.length)
    b.put(typ.getBytes("US-ASCII"))
    b.put(payload)
    b.array()
  }

  /** A COMPLETE minimal MP4: ftyp + moov(mvhd, one video trak with
    * tkhd dims + mdhd + hdlr('vide') + stbl/stsd(codec entry), and an
    * audio trak when `audio`) + an empty mdat. Every field analytic. */
  private[graft] def mp4Bytes(brand: String, timescale: Int, duration: Long,
      videoCodec: String, width: Int, height: Int, audio: Boolean): Array[Byte] = {
    def u32(vs: Long*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(v => b.putInt(v.toInt))
      b.array()
    }
    val ftyp = writeBox("ftyp",
      brand.getBytes("US-ASCII") ++ u32(0) ++ "isom".getBytes("US-ASCII"))
    val mvhd = writeBox("mvhd",
      u32(0, 0, 0, timescale, duration) ++ u32(0x00010000L, 0) ++
        new Array[Byte](4 * 12) ++ u32(3)) // rate/volume pad, matrix pad, next id
    def hdlr(kind: String) = writeBox("hdlr",
      u32(0, 0) ++ kind.getBytes("US-ASCII") ++ new Array[Byte](12) ++ Array[Byte](0))
    def mdhd(ts: Int, du: Long) = writeBox("mdhd", u32(0, 0, 0, ts, du) ++ u32(0))
    def stsd(fourcc: String) = writeBox("stsd",
      u32(0, 1) ++ writeBox(fourcc, new Array[Byte](8)))
    def tkhd(id: Int, w: Int, h: Int) = writeBox("tkhd",
      u32(0, 0, 0, id, 0, duration) ++ new Array[Byte](4 * 13) ++
        u32(w.toLong << 16, h.toLong << 16))
    def trak(id: Int, kind: String, fourcc: String, w: Int, h: Int) =
      writeBox("trak", tkhd(id, w, h) ++ writeBox("mdia",
        mdhd(timescale, duration) ++ hdlr(kind) ++
          writeBox("minf", writeBox("stbl", stsd(fourcc)))))
    val traks = trak(1, "vide", videoCodec, width, height) ++
      (if (audio) trak(2, "soun", "mp4a", 0, 0) else Array.emptyByteArray)
    ftyp ++ writeBox("moov", mvhd ++ traks) ++ writeBox("mdat", Array.emptyByteArray)
  }

  /** Deterministic MP4s keyed on doc_id: brand isom/mp42, timescale
    * 600·(1+id%5), duration 600+(id·7)%100000, video avc1/hvc1 at
    * 16·(1+id%80) × 16·(1+id%45), an audio track unless id%3 = 0. */
  def syntheticMp4Blobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      mp4Bytes(
        if (id % 2 == 0) "isom" else "mp42",
        (600 * (1 + id % 5)).toInt,
        600 + (id * 7) % 100000,
        if (id % 2 == 0) "avc1" else "hvc1",
        (16 * (1 + id % 80)).toInt,
        (16 * (1 + id % 45)).toInt,
        id % 3 != 0)
    }

  /** The walked metadata: (brand, timescale, durationMs, nTracks,
    * nVideo, nAudio, videoCodec, width, height). durationMs is
    * truncating integer division (oracle-replayable). */
  private[graft] def mp4Meta(bytes0: Array[Byte])
      : Option[(String, Long, Long, Long, Long, Long, String, Long, Long)] = try {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 16) return None
    var brand: String = null
    var timescale = 0L; var duration = -1L
    var nTracks = 0L; var nVideo = 0L; var nAudio = 0L
    var videoCodec: String = null
    var vw = 0L; var vh = 0L
    // per-trak scratch, committed at trak end via the hdlr kind
    var trakKind: String = null
    var trakCodec: String = null
    var trakW = 0L; var trakH = 0L
    def walk(from: Int, to: Int, depth: Int): Boolean = {
      if (depth > 8) return false
      var p = from
      while (p + 8 <= to) {
        val size = i32be(bytes, p)
        if (size < 8 || p.toLong + size > to) return false
        val typ = tag(bytes, p + 4)
        val body = p + 8
        typ match {
          case "ftyp" =>
            if (size < 12) return false
            brand = tag(bytes, body)
          case "moov" | "mdia" | "minf" | "stbl" =>
            if (!walk(body, p + size, depth + 1)) return false
          case "trak" =>
            trakKind = null; trakCodec = null; trakW = 0; trakH = 0
            if (!walk(body, p + size, depth + 1)) return false
            nTracks += 1
            if (trakKind == "vide") {
              nVideo += 1
              if (videoCodec == null) { videoCodec = trakCodec; vw = trakW; vh = trakH }
            } else if (trakKind == "soun") nAudio += 1
          case "mvhd" =>
            if (size < 8 + 20) return false
            if ((bytes(body) & 0xff) != 0) return false // v1 (64-bit) unsupported
            timescale = i32be(bytes, body + 12) & 0xffffffffL
            duration = i32be(bytes, body + 16) & 0xffffffffL
          case "tkhd" =>
            if (size < 8 + 84) return false
            trakW = (i32be(bytes, body + 76) & 0xffffffffL) >> 16
            trakH = (i32be(bytes, body + 80) & 0xffffffffL) >> 16
          case "hdlr" =>
            if (size < 8 + 12) return false
            trakKind = tag(bytes, body + 8)
          case "stsd" =>
            if (size < 8 + 16) return false
            trakCodec = tag(bytes, body + 12)
          case _ => () // mdat, free, unknown leaves: skip
        }
        p += size
      }
      p == to
    }
    if (!walk(0, bytes.length, 0)) return None
    if (brand == null || timescale <= 0 || duration < 0) return None
    Some((brand, timescale, duration * 1000 / timescale, nTracks, nVideo,
      nAudio, if (videoCodec == null) "" else videoCodec, vw, vh))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** [[mp4Meta]] at scale, non-MP4 payloads dropped. */
  def mp4Metadata(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("brand", StringType, nullable = false),
      StructField("timescale", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("n_tracks", LongType, nullable = false),
      StructField("n_video", LongType, nullable = false),
      StructField("n_audio", LongType, nullable = false),
      StructField("video_codec", StringType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false)))(mp4Meta)

  /** REAL sample-level PCM16 decode → per-frame audio features
    * (mean-square energy, peak amplitude, zero crossings) — the
    * silence-detection / segmentation primitive of an audio training
    * pipeline, with zero codec dependencies: PCM is raw int16, so the
    * "decode" is the RIFF chunk walk plus little-endian reads. All
    * features are exact integers (energy = Σs² DIV n).
    *
    * One blob in → ⌈samples/frame⌉ feature rows out, the last frame
    * partial. Blobs that are not canonical PCM16 WAV emit nothing (the
    * codec seam — compressed formats need a real decoder). Chunk sizes
    * are untrusted bytes: malformed sizes break to skip, never spin or
    * index out of bounds. */
  def pcm16Frames(blobs: DataFrame, frameSamples: Int = 25): DataFrame = {
    require(frameSamples > 0, s"frameSamples must be positive, got $frameSamples")
    perBlob(blobs, Seq(
      StructField("frame_idx", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("zero_crossings", LongType, nullable = false))) { bytes =>
      locatePcm16Data(bytes) match {
        case None => Iterator.empty
        case Some((off, nSamples, _)) =>
          (0 until (nSamples + frameSamples - 1) / frameSamples).iterator.map { f =>
            val s = f * frameSamples
            val e = math.min(s + frameSamples, nSamples)
            var i = s; var sumSq = 0L; var peak = 0L; var zc = 0L; var prev = 0
            while (i < e) {
              val v = (u16le(bytes, off + 2 * i) << 16) >> 16 // sign-extend
              sumSq += v.toLong * v
              if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
              if (i > s && prev * v < 0) zc += 1
              prev = v; i += 1
            }
            val n = (e - s).toLong
            (f.toLong, n, sumSq / n, peak, zc)
          }
      }
    }
  }

  /** Silence segmentation over [[pcm16Frames]] output: maximal runs of
    * consecutive frames at-or-below `maxEnergy` (mean-square), per
    * blob — the cut-point generator for trimming silence / splitting
    * audio at pauses. Gaps-and-islands on the frame index; the window
    * partition is one blob's frames (bounded by blob length), the rest
    * is one groupBy. */
  def silenceSegments(frames: DataFrame, maxEnergy: Long,
                      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("frame_idx"))
    frames.where(col("energy") <= maxEnergy)
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("frame_idx")).as("seg_start"),
        max(col("frame_idx")).as("seg_end"),
        count(lit(1)).as("n_frames"))
      .select(col(idCol), col("seg_start"), col("seg_end"), col("n_frames"))
  }

  /** Autocorrelation pitch/periodicity probe over DECODED PCM16: for
    * each lag in [minLag, maxLag], the exact integer autocorrelation
    * `ac(L) = Σ sᵢ·sᵢ₊L` over the overlapping span; the winning lag
    * (argmax, smallest on ties) estimates the fundamental period and
    * `ac_best·1000 DIV Σ sᵢ²` is an integer periodicity score —
    * near-1000 marks tonal/looped audio, near-0 noise: the audio-side
    * "is this signal or junk" curation axis, on the real byte-decode
    * path. Multi-channel payloads are de-interleaved first: lags are
    * in per-channel FRAME units and `ac`/`energy` sum the per-channel
    * products, so stereo never mixes L/R samples into one product
    * (mono output is bit-identical to the single-array formulation).
    * Malformed payloads emit nothing, zero shuffle, all integers (the
    * oracle recomputes every product from the analytic fixture
    * samples). */
  def pcm16Autocorr(blobs: DataFrame, minLag: Int = 2, maxLag: Int = 16): DataFrame = {
    require(minLag >= 1 && maxLag >= minLag, s"need 1 <= minLag <= maxLag")
    perBlob(blobs, Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("best_lag", LongType, nullable = false),
      StructField("ac_best", LongType, nullable = false),
      StructField("periodicity_permille", LongType, nullable = false))) { bytes =>
      locatePcm16Data(bytes) match {
        case None => Iterator.empty
        // block-misaligned payloads (sample count not a multiple of
        // the channel count) are malformed — emit nothing rather
        // than silently truncating a partial frame
        case Some((_, nTotal, nCh)) if nCh < 1 || nTotal % nCh != 0 ||
          nTotal / nCh <= minLag => Iterator.empty
        case Some((off, nTotal, nCh)) =>
          val nFrames = nTotal / nCh
          val s = Array.ofDim[Int](nCh, nFrames)
          var f = 0
          while (f < nFrames) {
            var c = 0
            while (c < nCh) {
              s(c)(f) = (u16le(bytes, off + 2 * (f * nCh + c)) << 16) >> 16 // sign-extend
              c += 1
            }
            f += 1
          }
          var energy = 0L
          var c = 0
          while (c < nCh) {
            val ch = s(c)
            var i = 0
            while (i < nFrames) { energy += ch(i).toLong * ch(i); i += 1 }
            c += 1
          }
          var bestLag = 0L
          var bestAc = Long.MinValue
          var lag = minLag
          while (lag <= math.min(maxLag, nFrames - 1)) {
            var ac = 0L
            c = 0
            while (c < nCh) {
              val ch = s(c)
              var i = 0
              while (i + lag < nFrames) { ac += ch(i).toLong * ch(i + lag); i += 1 }
              c += 1
            }
            if (ac > bestAc) { bestAc = ac; bestLag = lag.toLong }
            lag += 1
          }
          if (energy == 0) Iterator.empty
          else Iterator.single((nFrames.toLong * nCh, energy, bestLag, bestAc,
            permille(bestAc, energy)))
      }
    }
  }

  /** `floorDiv(a*1000, b)` without the Long overflow `a*1000L` hits
    * past ~9.2e15 (ac can reach nSamples·2³⁰): widens through BigInt
    * only when the multiply would overflow, preserving exact floor
    * semantics (b > 0 by construction here). */
  private[graft] def permille(a: Long, b: Long): Long = {
    require(b > 0, "permille denominator must be positive")
    if (a <= Long.MaxValue / 1000L && a >= Long.MinValue / 1000L)
      Math.floorDiv(a * 1000L, b)
    else {
      val (q, r) = (BigInt(a) * 1000) /% BigInt(b)
      (if (r.signum < 0) q - 1 else q).toLong
    }
  }

  /** Find the PCM16 data payload: (byte offset of first sample, total
    * interleaved sample count, channel count). None unless the file is
    * a RIFF/WAVE with a canonical PCM (format 1), 16-bit fmt chunk and
    * an intact data chunk. */
  private def locatePcm16Data(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var p = 12L
    var pcm16 = false
    var channels = 0
    while (p + 8 <= bytes.length) {
      val size = i32le(bytes, p.toInt + 4)
      if (size < 0) return None
      val t = tag(bytes, p.toInt)
      if (t == "fmt " && size >= 16 && p + 8 + 16 <= bytes.length) {
        pcm16 = u16le(bytes, p.toInt + 8) == 1 && u16le(bytes, p.toInt + 22) == 16
        channels = u16le(bytes, p.toInt + 10)
      } else if (t == "data") {
        if (!pcm16 || channels < 1 || p + 8 + size > bytes.length) return None
        return Some(((p + 8).toInt, size / 2, channels))
      }
      p += 8L + size.toLong + (size & 1)
    }
    None
  }

  /** Per-CHANNEL PCM16 statistics — the stereo-aware decode
    * [[pcm16Frames]] doesn't attempt (its frames run over the
    * interleaved stream): samples are deinterleaved by the fmt chunk's
    * channel count (sample j of channel c sits at offset
    * `off + 2·(j·ch + c)`), and each channel gets exact integer
    * energy (Σs² DIV n), peak amplitude and zero crossings over ITS
    * OWN sequence — channel-imbalance / dead-channel detection for
    * audio curation. Malformed payloads emit nothing. */
  def pcm16ChannelStats(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("channel", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("zero_crossings", LongType, nullable = false))) { bytes =>
      locatePcm16Data(bytes) match {
        case None => Iterator.empty
        case Some((off, nSamples, ch)) =>
          (0 until ch).iterator.flatMap { c =>
            var j = c
            var prev = 0; var first = true
            var sumSq = 0L; var peak = 0L; var zc = 0L; var n = 0L
            while (j < nSamples) {
              val v = (u16le(bytes, off + 2 * j) << 16) >> 16 // sign-extend
              sumSq += v.toLong * v
              if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
              if (!first && prev * v < 0) zc += 1
              prev = v; first = false; n += 1; j += ch
            }
            if (n == 0) Iterator.empty
            else Iterator.single((c.toLong, n, sumSq / n, peak, zc))
          }
      }
    }

  /** Deterministic synthetic STEREO PCM16 blobs keyed on doc_id:
    * 2 interleaved channels, 32 + id%32 samples each, sample i of the
    * interleaved stream = `(id·37 + i·13) mod 2048 − 1024` — so each
    * channel's sequence is analytic in (id, j, channel) and the
    * per-channel oracle recomputes energy/peak/crossings exactly. */
  def syntheticStereoAudio(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val n = (32 + id % 32).toInt
      val samples = Array.tabulate(2 * n)(i => ((id * 37 + i * 13) % 2048 - 1024).toShort)
      wavPcm16Bytes(2, (8000 + (id % 8) * 1000).toInt, samples)
    }

  /** Deterministic synthetic PCM16 audio blobs keyed on doc_id:
    * 64 + id%64 mono samples of the sawtooth
    * `s_i = (id·31 + i·17) mod 2048 − 1024` — arithmetic in doc_id, so
    * the frame-feature oracle recomputes the samples analytically and
    * a hash-match proves [[pcm16Frames]] read the REAL data-chunk
    * bytes back (same fixture idea as [[syntheticBlobs]]). */
  def syntheticAudio(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      val n = (64 + id % 64).toInt
      val samples = Array.tabulate(n)(i => ((id * 31 + i * 17) % 2048 - 1024).toShort)
      wavPcm16Bytes(1, (8000 + (id % 8) * 1000).toInt, samples)
    }

  /** Deterministic synthetic media blobs keyed on doc_id (even → BMP;
    * id%4==1 → WAV; id%8==3 → PNG; id%8==7 → JPEG; dims/rates are
    * arithmetic in doc_id) — the fixture generator that makes the
    * header decode oracle-expressible: the oracle recomputes the
    * encoded values analytically, so a hash-match proves
    * [[parseHeader]] read the right offsets back. */
  def syntheticBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      if (id % 2 == 0)
        bmpBytes((1 + id % 64).toInt, (1 + id % 32).toInt, 24)
      else if (id % 4 == 1)
        wavBytes((1 + (id / 2) % 2).toInt, (8000 + (id % 8) * 1000).toInt, 16)
      else if (id % 8 == 3) // PNG, color type cycling grey/RGB/RGBA
        pngBytes((1 + id % 128).toInt, (1 + id % 64).toInt, 8,
          Array(0, 2, 6)(((id / 4) % 3).toInt))
      else // id % 8 == 7: JPEG, components cycling grey/YCbCr
        jpegBytes((1 + id % 96).toInt, (1 + id % 48).toInt,
          if ((id / 8) % 2 == 0) 1 else 3)
    }

  /** Route ONE blob by magic bytes to its verified parser: (format,
    * verified, units) — units is the format's natural payload grain
    * (pixels / records / entries / frames / samples / 1 for pure
    * metadata). Detection is format-first (magic), verification is
    * the REAL parse; a recognized magic whose parse refuses reports
    * verified = false — exactly the triage an ingest wants. Unknown
    * magics → None. */
  private[graft] def routeBlob(bytes0: Array[Byte]): Option[(String, Boolean, Long)] = {
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (bytes.length < 4) return None
    def b(i: Int): Int = bytes(i) & 0xff
    val t4 = if (bytes.length >= 4) tag(bytes, 0) else ""
    if (t4.startsWith("II") || t4.startsWith("MM")) {
      val p = decodeTiffPixels(bytes)
      Some(("tiff", p.isDefined, p.map(_._4).getOrElse(0L)))
    } else if (b(0) == 0x50 && b(1) == 0x4b) {
      val p = zipEntries(bytes)
      Some(("zip", p.isDefined, p.map(_.length.toLong).getOrElse(0L)))
    } else if (t4 == "GIF8") {
      val p = decodeGifFrames(bytes)
      Some(("gif", p.isDefined, p.map(_._3.length.toLong).getOrElse(0L)))
    } else if (b(0) == 0xff && b(1) == 0xd8) {
      val p = decodeJpegPixels(bytes)
      Some(("jpeg", p.isDefined, p.map(_._4).getOrElse(0L)))
    } else if (b(0) == 0x89 && t4.drop(1) == "PNG") {
      val p = decodePngPixels(bytes)
      Some(("png", p.isDefined, p.map(_._4).getOrElse(0L)))
    } else if (t4.take(3) == "ID3") {
      val p = mp3Meta(bytes)
      Some(("mp3", p.isDefined, if (p.isDefined) 1L else 0L))
    } else if (bytes.length >= 5 &&
        new String(bytes, 0, 5, "US-ASCII") == "%PDF-") {
      val p = pdfWalk(bytes).flatMap { case (_, tr, objs) => pdfPages(objs, tr) }
      Some(("pdf", p.isDefined, p.map(_.length.toLong).getOrElse(0L)))
    } else if (t4 == "fLaC") {
      val p = flacStreamInfo(bytes)
      Some(("flac", p.isDefined, if (p.isDefined) 1L else 0L))
    } else if (t4 == "WARC" || (b(0) == 0x1f && b(1) == 0x8b)) {
      val p = warcRecords(bytes)
      Some(("warc", p.isDefined, p.map(_.length.toLong).getOrElse(0L)))
    } else if (t4 == "RIFF") {
      // WAV family: the fmt code decides which decoder owns it
      val p = locateAdpcmData(bytes)
        .map { case (_, len, blockAlign, spb) =>
          ("adpcm", (len / blockAlign).toLong * spb) }
        .orElse(locateG711Data(bytes).map { case (_, n, _) => ("g711", n.toLong) })
        .orElse(locatePcm24Data(bytes).map { case (_, nb) => ("pcm24", nb / 3L) })
      Some((p.map(_._1).getOrElse("wav"), p.isDefined, p.map(_._2).getOrElse(0L)))
    } else None
  }

  /** [[routeBlob]] at scale: the modality-router inventory over a
    * mixed corpus — one row per recognized blob with its verified
    * payload grain. */
  def routeInventory(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("format", StringType, nullable = false),
      StructField("verified", LongType, nullable = false),
      StructField("units", LongType, nullable = false))) { bytes =>
      routeBlob(bytes).map { case (f, v, u) => (f, if (v) 1L else 0L, u) }
    }

  /** A mixed corpus exercising EVERY router branch: id%8 picks the
    * container (0 TIFF, 1 WARC, 2 ZIP, 3 MP3, 4 ADPCM WAV, 5 animated
    * GIF, 6 EXIF'd JPEG, 7 16-bit PNG), each built by its own fixture
    * rule — the one-corpus ingest shape [[routeInventory]] triages. */
  def syntheticMixedBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs) { id =>
      (id % 8).toInt match {
        case 0 => tiffFixtureBytes(id)
        case 1 => warcBytes(id)
        case 2 => zipBytes(id)
        case 3 => mp3Bytes(id)
        case 4 => adpcmFixtureBytes(id)
        case 5 => animatedGifFixtureBytes(id)
        case 6 => exifJpegFixtureBytes(id)
        case _ => png16FixtureBytes(id)
      }
    }

  /** Byte-histogram featurization: a fixed-length numeric feature
    * vector (16 buckets over byte values) per blob — the stand-in for
    * an embedding/feature-extraction stage (CLIP features, mel
    * spectrogram stats, …), with the real contract: binary in,
    * `array<double>` out (an empty or null blob gives all zeros).
    * Deterministic, so downstream similarity search over the features
    * is testable; plugs straight into [[Similarity]] (vec_dot works on
    * any array<double>). */
  def featurize(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("features", ArrayType(DoubleType, containsNull = false),
        nullable = false))) { bytes =>
      val hist = new Array[Double](16)
      bytes.foreach(b => hist((b & 0xff) >> 4) += 1.0)
      val n = math.max(bytes.length, 1).toDouble
      Some(Tuple1(hist.map(_ / n).toSeq))
    }

  /** Scene-change detection over sampled frames: a frame is a "cut"
    * when its content hash differs from the previous frame's (or it is
    * the first frame). The video-segmentation shape — one window
    * shuffle keyed on the doc, cuts numbered per doc so downstream can
    * group frames into scenes. */
  def sceneChanges(frames: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    frames
      .withColumn("__prev", lag(col("frame_md5"), 1).over(w))
      .withColumn("is_cut",
        (col("__prev").isNull || col("__prev") =!= col("frame_md5")).cast("int").cast("long"))
      .withColumn("scene_id", sum(col("is_cut")).over(wRun) - 1)
      .drop("__prev")
  }

  /** Frame sampling: cut the payload into fixed-size frames, keep the
    * first `maxFrames`, hash each — the shape of video frame-sample /
    * audio-chunk features. Narrow (sequence + substring per row). */
  def frames(docs: DataFrame, frameSize: Int = 32, maxFrames: Int = 4,
             payloadCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), col(payloadCol).as("p"),
        explode(sequence(lit(0L), lit(maxFrames - 1L))).as("frame_idx"))
      .filter(col("frame_idx") * frameSize < length(col("p")))
      .select(col("doc_id"), col("frame_idx"),
        md5(expr(s"substring(p, frame_idx * $frameSize + 1, $frameSize)").cast("binary")).as("frame_md5"))

  // ------------------------------------------------------------------
  // PDF — THE document-corpus container (papers, books, scans): a
  // classic-xref walk (header, startxref, 20-byte xref entries,
  // trailer), a minimal COS object parser (dicts/arrays/names/strings/
  // numbers/refs, depth-capped), the Catalog → Pages → Kids page-tree
  // recursion, per-page content streams (plain or FlateDecode), and
  // text extraction from the Tj / TJ / ' show operators inside BT..ET.
  // Untrusted-byte discipline throughout: a lying /Length, a
  // mis-pointed xref offset, an unterminated deflate stream or any
  // malformed token refuses the whole file. Cross-reference STREAMS
  // (PDF 1.5+ compressed xref) and encryption refuse loudly — the
  // classic-xref subset is what analytic fixtures and most generated
  // corpora carry; the seam is the same documented one as every codec.
  // ------------------------------------------------------------------

  private[graft] sealed trait PVal
  private[graft] case class PNum(v: Double) extends PVal
  private[graft] case class PName(v: String) extends PVal
  private[graft] case class PStr(v: String) extends PVal
  private[graft] case class PRef(num: Int) extends PVal
  private[graft] case class PArr(vs: Vector[PVal]) extends PVal
  private[graft] case class PDict(m: Map[String, PVal]) extends PVal
  private[graft] case object PMisc extends PVal // true/false/null

  private def isPdfWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0
  private def isPdfDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Parse one COS value at `pos`; returns (value, posAfter). Throws
    * IndexOutOfBoundsException on malformation (the walk's catch-all
    * turns it into a refusal). Depth-capped. */
  private def pdfValue(b: Array[Byte], pos0: Int, depth: Int): (PVal, Int) = {
    if (depth > 16) throw new IndexOutOfBoundsException("depth")
    var p = pos0
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (p < b.length && isPdfWs(b(p) & 0xff)) p += 1
        if (p < b.length && b(p) == '%') { // comment to EOL
          while (p < b.length && b(p) != '\n' && b(p) != '\r') p += 1
        } else go = false
      }
    }
    skipWs()
    if (p >= b.length) throw new IndexOutOfBoundsException("eof")
    val c = b(p) & 0xff
    if (c == '<' && p + 1 < b.length && b(p + 1) == '<') {
      // dictionary
      p += 2
      val m = Map.newBuilder[String, PVal]
      var done = false
      while (!done) {
        skipWs()
        if (p + 1 < b.length && b(p) == '>' && b(p + 1) == '>') {
          p += 2; done = true
        } else {
          if (b(p) != '/') throw new IndexOutOfBoundsException("key")
          val (k, p2) = pdfValue(b, p, depth + 1)
          p = p2
          val (v, p3) = pdfValue(b, p, depth + 1)
          p = p3
          m += (k.asInstanceOf[PName].v -> v)
        }
      }
      (PDict(m.result()), p)
    } else if (c == '[') {
      p += 1
      val vs = Vector.newBuilder[PVal]
      var done = false
      while (!done) {
        skipWs()
        if (p < b.length && b(p) == ']') { p += 1; done = true }
        else {
          val (v, p2) = pdfValue(b, p, depth + 1)
          vs += v; p = p2
        }
      }
      (PArr(vs.result()), p)
    } else if (c == '/') {
      p += 1
      val sb = new java.lang.StringBuilder
      while (p < b.length && !isPdfWs(b(p) & 0xff) && !isPdfDelim(b(p) & 0xff)) {
        sb.append((b(p) & 0xff).toChar); p += 1
      }
      (PName(sb.toString), p)
    } else if (c == '(') {
      // literal string with escapes and balanced parens
      p += 1
      val sb = new java.lang.StringBuilder
      var nest = 1
      while (nest > 0) {
        if (p >= b.length) throw new IndexOutOfBoundsException("str")
        val ch = b(p) & 0xff
        if (ch == '\\') {
          if (p + 1 >= b.length) throw new IndexOutOfBoundsException("esc")
          val e = b(p + 1) & 0xff
          e match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 't' => sb.append('\t'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case '(' => sb.append('('); case ')' => sb.append(')')
            case '\\' => sb.append('\\')
            case _ => sb.append(e.toChar) // unknown escape: literal char
          }
          p += 2
        } else if (ch == '(') { nest += 1; sb.append('('); p += 1 }
        else if (ch == ')') {
          nest -= 1
          if (nest > 0) sb.append(')')
          p += 1
        } else { sb.append(ch.toChar); p += 1 }
      }
      (PStr(sb.toString), p)
    } else if (c == '<') {
      // hex string
      p += 1
      val sb = new java.lang.StringBuilder
      while (p < b.length && b(p) != '>') {
        val ch = (b(p) & 0xff).toChar
        if (!isPdfWs(ch)) sb.append(ch)
        p += 1
      }
      if (p >= b.length) throw new IndexOutOfBoundsException("hex")
      p += 1
      val h = if (sb.length % 2 == 1) sb.toString + "0" else sb.toString
      val out = new java.lang.StringBuilder
      var i = 0
      while (i < h.length) {
        out.append(Integer.parseInt(h.substring(i, i + 2), 16).toChar)
        i += 2
      }
      (PStr(out.toString), p)
    } else if (c == 't' && b.length >= p + 4 &&
        new String(b, p, 4, "US-ASCII") == "true") (PMisc, p + 4)
    else if (c == 'f' && b.length >= p + 5 &&
        new String(b, p, 5, "US-ASCII") == "false") (PMisc, p + 5)
    else if (c == 'n' && b.length >= p + 4 &&
        new String(b, p, 4, "US-ASCII") == "null") (PMisc, p + 4)
    else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
      val start = p
      p += 1
      while (p < b.length && ((b(p) >= '0' && b(p) <= '9') || b(p) == '.')) p += 1
      val numEnd = p
      // indirect reference lookahead: "<int> <gen> R"
      var q = p
      while (q < b.length && isPdfWs(b(q) & 0xff)) q += 1
      val genStart = q
      while (q < b.length && b(q) >= '0' && b(q) <= '9') q += 1
      if (q > genStart) {
        var r = q
        while (r < b.length && isPdfWs(b(r) & 0xff)) r += 1
        if (r < b.length && b(r) == 'R' &&
            (r + 1 >= b.length || isPdfWs(b(r + 1) & 0xff) ||
              isPdfDelim(b(r + 1) & 0xff))) {
          val num = new String(b, start, numEnd - start, "US-ASCII")
          return (PRef(num.toDouble.toInt), r + 1)
        }
      }
      val s = new String(b, start, numEnd - start, "US-ASCII")
      (PNum(s.toDouble), p)
    } else throw new IndexOutOfBoundsException("token " + c)
  }

  /** Walk a classic-xref PDF: (version, trailer dict, objects) where
    * each object is (dict-or-value, decoded stream bytes or null).
    * Strict: the xref entry count must match, every in-use offset must
    * land on its own "num gen obj", /Length must frame the stream
    * exactly ("endstream" follows), FlateDecode must reach the
    * final-block terminator under the 2^26 budget, /Encrypt and
    * cross-reference streams refuse. */
  private[graft] def pdfWalk(bytes0: Array[Byte])
      : Option[(String, Map[String, PVal], Map[Int, (PVal, Array[Byte])])] = try {
    val b = if (bytes0 == null) Array.emptyByteArray else bytes0
    if (b.length < 20 || new String(b, 0, 5, "US-ASCII") != "%PDF-") return None
    val version = new String(b, 5, 3, "US-ASCII")
    // the %%EOF sentinel is part of the framing: a truncated tail
    // refuses wholesale, same discipline as the WARC/ZIP walks
    var eofAt = b.length - 1
    while (eofAt >= 0 && isPdfWs(b(eofAt) & 0xff)) eofAt -= 1
    if (eofAt < 4 || new String(b, eofAt - 4, 5, "US-ASCII") != "%%EOF")
      return None
    // startxref: scan the tail
    val tail = new String(b, math.max(0, b.length - 128),
      math.min(128, b.length), "ISO-8859-1")
    val sxAt = tail.lastIndexOf("startxref")
    if (sxAt < 0) return None
    val after = tail.substring(sxAt + 9).trim
    val xrefOff = after.takeWhile(_.isDigit) match {
      case "" => return None
      case s => s.toLong.toInt
    }
    // xref-section chain: the startxref section is the NEWEST; its
    // trailer's /Prev points at the previous save's section, and so
    // on — incremental updates override older entries, so a newer
    // section's offset wins for a shared object number. Capped chain.
    val offsets = scala.collection.mutable.Map[Int, Int]()
    // a number FREED by a newer section must not resurrect from an
    // older one — track every number the newer sections have spoken for
    val seen = scala.collection.mutable.Set[Int]()
    var trailer: Map[String, PVal] = null
    var xOff = xrefOff
    var sections = 0
    while (xOff >= 0) {
      sections += 1
      if (sections > 16) return None
      if (xOff + 4 > b.length ||
          new String(b, xOff, 4, "US-ASCII") != "xref") return None
      var p = xOff + 4
      def skipWs(): Unit = { while (p < b.length && isPdfWs(b(p) & 0xff)) p += 1 }
      def readInt(): Int = {
        skipWs()
        val s = p
        while (p < b.length && b(p) >= '0' && b(p) <= '9') p += 1
        if (p == s) throw new IndexOutOfBoundsException("int")
        new String(b, s, p - s, "US-ASCII").toInt
      }
      // subsection(s) until "trailer"
      var atTrailer = false
      while (!atTrailer) {
        skipWs()
        if (p + 7 <= b.length && new String(b, p, 7, "US-ASCII") == "trailer") {
          p += 7; atTrailer = true
        } else {
          val first = readInt()
          val count = readInt()
          if (count < 0 || count > 65536) return None
          skipWs()
          var i = 0
          while (i < count) {
            // 20-byte entries: 10-digit offset, 5-digit gen, f/n
            if (p + 18 > b.length) return None
            val off = new String(b, p, 10, "US-ASCII").toInt
            val kind = (b(p + 17) & 0xff).toChar
            // newest-first walk: only fill numbers not spoken for yet
            if (kind == 'n') {
              if (seen.add(first + i)) offsets(first + i) = off
            } else if (kind == 'f') seen.add(first + i)
            else return None
            p += 18
            while (p < b.length && isPdfWs(b(p) & 0xff) &&
              (b(p) == '\r' || b(p) == '\n' || b(p) == ' ')) p += 1
            i += 1
          }
        }
      }
      val (trailerV, _) = pdfValue(b, p, 0)
      val t = trailerV match {
        case PDict(m) => m
        case _ => return None
      }
      if (trailer == null) trailer = t
      xOff = t.get("Prev") match {
        case Some(PNum(v)) => v.toInt
        case None => -1
        case _ => return None
      }
    }
    if (trailer.contains("Encrypt")) return None
    // parse every in-use object at its claimed offset
    val objs = Map.newBuilder[Int, (PVal, Array[Byte])]
    offsets.foreach { case (num, off) =>
      if (off < 0 || off + 4 > b.length) return None
      var q = off
      def qInt(): Int = {
        while (q < b.length && isPdfWs(b(q) & 0xff)) q += 1
        val s = q
        while (q < b.length && b(q) >= '0' && b(q) <= '9') q += 1
        if (q == s) throw new IndexOutOfBoundsException("objint")
        new String(b, s, q - s, "US-ASCII").toInt
      }
      val claimed = qInt()
      if (claimed != num) return None // a mis-pointed xref is a lie
      qInt() // generation
      while (q < b.length && isPdfWs(b(q) & 0xff)) q += 1
      if (q + 3 > b.length || new String(b, q, 3, "US-ASCII") != "obj") return None
      q += 3
      val (v, q2) = pdfValue(b, q, 0)
      q = q2
      while (q < b.length && isPdfWs(b(q) & 0xff)) q += 1
      var stream: Array[Byte] = null
      if (q + 6 <= b.length && new String(b, q, 6, "US-ASCII") == "stream") {
        q += 6
        if (q < b.length && b(q) == '\r') q += 1
        if (q < b.length && b(q) == '\n') q += 1
        val dict = v match {
          case PDict(m) => m
          case _ => return None
        }
        val len = dict.get("Length") match {
          case Some(PNum(l)) => l.toInt
          case _ => return None // indirect /Length out of fixture scope
        }
        if (len < 0 || len > (1 << 26) || q + len > b.length) return None
        val raw = java.util.Arrays.copyOfRange(b, q, q + len)
        q += len
        while (q < b.length && isPdfWs(b(q) & 0xff)) q += 1
        if (q + 9 > b.length ||
            new String(b, q, 9, "US-ASCII") != "endstream") return None
        stream = dict.get("Filter") match {
          case None => raw
          case Some(PName("FlateDecode")) =>
            val inf = new java.util.zip.Inflater()
            try {
              inf.setInput(raw)
              val out = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](8192)
              var stalled = false
              while (!inf.finished() && !stalled) {
                val n = inf.inflate(buf)
                if (n > 0) {
                  out.write(buf, 0, n)
                  if (out.size() > (1 << 26)) return None
                } else if (inf.needsInput() || inf.needsDictionary()) stalled = true
              }
              if (!inf.finished()) return None
              out.toByteArray
            } catch {
              case _: java.util.zip.DataFormatException => return None
            } finally inf.end()
          case _ => return None // other filters refuse loudly
        }
      }
      objs += (num -> ((v, stream)))
    }
    Some((version, trailer, objs.result()))
  } catch {
    case _: IndexOutOfBoundsException | _: NegativeArraySizeException |
         _: NumberFormatException => None
  }

  /** Resolve the page list (document order) from the Catalog's page
    * tree; nested /Pages nodes recurse, depth-capped. Returns page
    * dicts. */
  private def pdfPages(objs: Map[Int, (PVal, Array[Byte])],
      trailer: Map[String, PVal]): Option[Vector[Map[String, PVal]]] = {
    def dictOf(r: PVal): Option[Map[String, PVal]] = r match {
      case PRef(n) => objs.get(n).map(_._1).flatMap {
        case PDict(m) => Some(m); case _ => None
      }
      case PDict(m) => Some(m)
      case _ => None
    }
    def walk(node: Map[String, PVal], depth: Int): Option[Vector[Map[String, PVal]]] = {
      if (depth > 8) return None
      node.get("Type") match {
        case Some(PName("Page")) => Some(Vector(node))
        case Some(PName("Pages")) =>
          node.get("Kids") match {
            case Some(PArr(kids)) =>
              kids.foldLeft(Option(Vector.empty[Map[String, PVal]])) {
                (acc, kid) => for {
                  a <- acc
                  kd <- dictOf(kid)
                  sub <- walk(kd, depth + 1)
                } yield a ++ sub
              }
            case _ => None
          }
        case _ => None
      }
    }
    for {
      root <- trailer.get("Root").flatMap(dictOf)
      pages <- root.get("Pages").flatMap(dictOf)
      list <- walk(pages, 0)
      // the tree's /Count must agree with the leaves found
      ok = pages.get("Count") match {
        case Some(PNum(c)) => c.toInt == list.length
        case _ => false
      }
      if ok
    } yield list
  }

  /** Extract shown text from one content stream: string operands of
    * Tj / ' and the string elements of TJ arrays, inside BT..ET, in
    * stream order, concatenated verbatim (no spacing synthesis). */
  private[graft] def pdfContentText(stream: Array[Byte]): Option[String] = try {
    val out = new java.lang.StringBuilder
    var p = 0
    var btDepth = 0
    var lastStr: String = null
    var lastArr: Vector[PVal] = null
    while (p < stream.length) {
      val c = stream(p) & 0xff
      if (isPdfWs(c)) p += 1
      else if (c == '(' || c == '[' || c == '/' || c == '<' ||
               c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        val (v, p2) = pdfValue(stream, p, 0)
        v match {
          case PStr(s) => lastStr = s; lastArr = null
          case PArr(vs) => lastArr = vs; lastStr = null
          case _ => ()
        }
        p = p2
      } else {
        // operator token
        val s = p
        while (p < stream.length && !isPdfWs(stream(p) & 0xff) &&
               !isPdfDelim(stream(p) & 0xff)) p += 1
        if (p == s) p += 1 // lone delimiter (e.g. stray ')'): skip
        else {
          val op = new String(stream, s, p - s, "US-ASCII")
          op match {
            case "BT" => btDepth += 1
            case "ET" => btDepth = math.max(0, btDepth - 1)
            case "Tj" | "'" if btDepth > 0 && lastStr != null =>
              out.append(lastStr)
            case "TJ" if btDepth > 0 && lastArr != null =>
              lastArr.foreach {
                case PStr(x) => out.append(x)
                case _ => () // kerning numbers interleave: ignored
              }
            case _ => ()
          }
        }
      }
    }
    Some(out.toString)
  } catch {
    case _: IndexOutOfBoundsException | _: NumberFormatException => None
  }

  /** PDF document facts: doc_id, version, n_pages, n_objects,
    * producer (from /Info, "" when absent). Non-PDF and malformed
    * payloads drop. Narrow, zero shuffle. */
  def pdfMetadata(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("version", StringType, nullable = false),
      StructField("n_pages", LongType, nullable = false),
      StructField("n_objects", LongType, nullable = false),
      StructField("producer", StringType, nullable = false))) { bytes =>
      pdfWalk(bytes).flatMap { case (ver, trailer, objs) =>
        pdfPages(objs, trailer).map { pages =>
          val producer = trailer.get("Info") match {
            case Some(PRef(n)) => objs.get(n).map(_._1) match {
              case Some(PDict(m)) => m.get("Producer") match {
                case Some(PStr(s)) => s
                case _ => ""
              }
              case _ => ""
            }
            case _ => ""
          }
          (ver, pages.length.toLong, objs.size.toLong, producer)
        }
      }
    }

  /** Per-page extracted text: doc_id, page (0-based), text, n_chars.
    * A page whose /Contents is missing, mis-typed, or whose stream
    * refuses drops the WHOLE document (a partially-readable PDF is
    * corruption, not data). Narrow, zero shuffle. */
  def pdfTextPages(blobs: DataFrame): DataFrame =
    perBlob(blobs, Seq(
      StructField("page", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false))) { bytes =>
      val rows = for {
        (_, trailer, objs) <- pdfWalk(bytes)
        pages <- pdfPages(objs, trailer)
        texts <- pages.foldLeft(Option(Vector.empty[String])) { (acc, pg) =>
          for {
            a <- acc
            ref <- pg.get("Contents")
            n <- ref match { case PRef(x) => Some(x); case _ => None }
            (_, stream) <- objs.get(n)
            if stream != null
            t <- pdfContentText(stream)
          } yield a :+ t
        }
      } yield texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, t.codePointCount(0, t.length).toLong)
      }
      rows.getOrElse(Vector.empty)
    }

  /** A COMPLETE classic-xref PDF keyed on doc_id: catalog, page tree
    * (1 + id%4 pages), Helvetica font, /Info with an analytic
    * /Producer, one content stream per page — FlateDecode on odd ids,
    * plain on even (the filter must be invisible to extracted text) —
    * each showing three chunks via Tf/Td positioning: a Tj string, a
    * TJ array with an interleaved kerning number, and (on id%3 = 0) a
    * Tj string exercising the \( \) \\ escapes. Real xref offsets,
    * correct /Count, correct /Length per stream. */
  private[graft] def pdfBytes(id: Long): Array[Byte] = {
    val np = (1 + id % 4).toInt
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    def pageText(p: Int): (String, String, String) = {
      val c1 = s"Doc $id page $p "
      val c2 = s"body ${(id * 3 + p) % 50} and "
      val c3 = if (id % 3 == 0) s"tail (${(id + p) % 7}) \\ done."
               else s"tail ${(id + p) % 7} done."
      (c1, c2, c3)
    }
    val contents: Vector[Array[Byte]] = (0 until np).map { p =>
      val (c1, c2, c3) = pageText(p)
      val body = (s"BT /F1 12 Tf 72 720 Td (${esc(c1)}) Tj " +
        s"0 -14 Td [(${esc(c2)}) -250 (${esc(c3)})] TJ ET").getBytes("ISO-8859-1")
      if (id % 2 == 1) {
        val d = new java.util.zip.Deflater()
        d.setInput(body); d.finish()
        val buf = new Array[Byte](body.length + 64)
        val m = d.deflate(buf)
        d.end()
        java.util.Arrays.copyOf(buf, m)
      } else body
    }.toVector
    // object numbering: 1 Catalog, 2 Pages, 3 Font, 4 Info,
    // 5..4+np Page dicts, 5+np..4+2np content streams
    val objBodies = scala.collection.mutable.ArrayBuffer[String]()
    objBodies += "<< /Type /Catalog /Pages 2 0 R >>"
    objBodies += ("<< /Type /Pages /Kids [" +
      (0 until np).map(p => s"${5 + p} 0 R").mkString(" ") +
      s"] /Count $np >>")
    objBodies += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    objBodies += s"<< /Producer (graft ${id % 10}) /Title (Doc $id) >>"
    for (p <- 0 until np)
      objBodies += (s"<< /Type /Page /Parent 2 0 R /Contents ${5 + np + p} 0 R " +
        "/MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R >> >> >>")
    val header = s"%PDF-1.4\n%âãÏÓ\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(header.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def writeObj(num: Int, body: String, stream: Array[Byte]): Unit = {
      offsets += out.size()
      out.write(s"$num 0 obj\n$body\n".getBytes("ISO-8859-1"))
      if (stream != null) {
        out.write("stream\n".getBytes("ISO-8859-1"))
        out.write(stream)
        out.write("\nendstream\n".getBytes("ISO-8859-1"))
      }
      out.write("endobj\n".getBytes("ISO-8859-1"))
    }
    objBodies.zipWithIndex.foreach { case (bdy, i) => writeObj(i + 1, bdy, null) }
    contents.zipWithIndex.foreach { case (cs, p) =>
      val filter = if (id % 2 == 1) " /Filter /FlateDecode" else ""
      writeObj(5 + np + p, s"<< /Length ${cs.length}$filter >>", cs)
    }
    val xrefOff = out.size()
    val n = objBodies.length + contents.length
    val sb = new StringBuilder
    sb ++= s"xref\n0 ${n + 1}\n"
    sb ++= "0000000000 65535 f \n"
    offsets.foreach(o => sb ++= f"$o%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${n + 1} /Root 1 0 R /Info 4 0 R >>\n"
    sb ++= s"startxref\n$xrefOff\n%%EOF\n"
    out.write(sb.toString.getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** [[pdfBytes]] plus one INCREMENTAL SAVE — the way editors actually
    * write PDFs: the original file untouched, an updated /Info
    * (new /Producer) and a REPLACED page-0 content stream appended,
    * then a second xref section whose trailer /Prev chains to the
    * original. A reader that ignores the chain (or resolves it
    * oldest-first) shows the stale producer/text. */
  private[graft] def pdfIncrementalBytes(id: Long): Array[Byte] = {
    val base = pdfBytes(id)
    val np = (1 + id % 4).toInt
    val baseStr = new String(base, "ISO-8859-1")
    val sx = baseStr.lastIndexOf("startxref")
    val baseXref = baseStr.substring(sx + 9).trim.takeWhile(_.isDigit).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, base.length)
    val infoOff = out.size()
    out.write((s"4 0 obj\n<< /Producer (graft-v2 ${id % 10}) " +
      s"/Title (Doc $id) >>\nendobj\n").getBytes("ISO-8859-1"))
    val newText = s"UPDATED page 0 of doc $id rev ${id % 5} ."
    val cBytes = s"BT /F1 12 Tf 72 720 Td ($newText) Tj ET".getBytes("ISO-8859-1")
    val cNum = 5 + np
    val cOff = out.size()
    out.write((s"$cNum 0 obj\n<< /Length ${cBytes.length} >>\nstream\n")
      .getBytes("ISO-8859-1"))
    out.write(cBytes, 0, cBytes.length)
    out.write("\nendstream\nendobj\n".getBytes("ISO-8859-1"))
    val xref2 = out.size()
    val sb = new StringBuilder
    sb ++= "xref\n0 1\n0000000000 65535 f \n"
    sb ++= f"4 1\n$infoOff%010d 00000 n \n"
    sb ++= f"$cNum 1\n$cOff%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size ${5 + 2 * np} /Root 1 0 R /Info 4 0 R " +
      s"/Prev $baseXref >>\nstartxref\n$xref2\n%%EOF\n"
    out.write(sb.toString.getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** Deterministic incrementally-saved PDFs keyed on doc_id. */
  def syntheticPdfIncrementalBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(pdfIncrementalBytes)

  /** Deterministic classic-xref PDFs keyed on doc_id. */
  def syntheticPdfBlobs(docs: DataFrame): DataFrame =
    blobFrame(docs)(pdfBytes)
}
