package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** The pure-JVM BMP/PNG/WAV header parser against hand-built byte arrays
  * — real fixed-offset decoding, not the stub — plus the stub
  * fallback for unknown/truncated payloads and the distributed
  * round-trip through synthetic blobs.
  */
class MultimodalHeaderSpec extends SparkSpec {
  import spark.implicits._

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** Visible gray plane of a single-component JPEG, row-major, through
    * the suite's `decodeJpegAny` — the per-pixel differential hook. */
  private def decodeJpegGray(bytes: Array[Byte]): Option[Array[Int]] =
    Multimodal.decodeJpegAny(bytes).collect {
      case d if d.planes.length == 1 =>
        Array.tabulate(d.width * d.height) { i =>
          d.planes(0)((i / d.width) * d.planeW(0) + i % d.width) & 0xff
        }
    }

  test("BMP header: width/height/channels from fixed offsets") {
    val b = le(54)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    b.putInt(40).putInt(640).putInt(480).putShort(1).putShort(24)
    assert(Multimodal.parseHeader(b.array()) === ("bmp", 640, 480, 3, null, null))
  }

  test("BMP top-down rows: negative height reads as absolute") {
    val b = le(54)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    b.putInt(40).putInt(1920).putInt(-1080).putShort(1).putShort(32)
    assert(Multimodal.parseHeader(b.array()) === ("bmp", 1920, 1080, 4, null, null))
  }

  test("WAV canonical PCM header: channels/rate/bits") {
    val b = le(44)
    b.put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1).putShort(2).putInt(44100).putInt(44100 * 2 * 2).putShort(4).putShort(16)
    b.put("data".getBytes).putInt(0)
    assert(Multimodal.parseHeader(b.array()) === ("wav", null, null, 2, 44100, 16))
  }

  test("WAV with a leading JUNK chunk: the chunk walk still finds fmt") {
    val b = le(56)
    b.put("RIFF".getBytes).putInt(48).put("WAVE".getBytes)
    b.put("JUNK".getBytes).putInt(4).putInt(0xdeadbeef)
    b.put("fmt ".getBytes).putInt(16)
    b.putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    assert(Multimodal.parseHeader(b.array()) === ("wav", null, null, 1, 8000, 8))
  }

  test("unknown and truncated payloads fall back to the stub") {
    val garbage = "not a media file at all".getBytes
    val (fmt, w, h, ch, rate, bits) = Multimodal.parseHeader(garbage)
    assert(fmt === "unknown" && ch === 3 && rate === null && bits === null)
    assert(w === 64 + (garbage(0) & 0x3f) && h === 64 + (garbage(1) & 0x3f))
    // a too-short "BM" prefix must not read past the buffer
    assert(Multimodal.parseHeader("BM".getBytes)._1 === "unknown")
    assert(Multimodal.parseHeader(Array.emptyByteArray)._1 === "unknown")
    // RIFF/WAVE with no fmt chunk falls back too
    val r = le(20); r.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes).putInt(0)
    assert(Multimodal.parseHeader(r.array())._1 === "unknown")
  }

  test("malformed RIFF chunk sizes fall back instead of spinning or crashing") {
    // zero-advance chunk (size -8), negative-seek chunk, and a size
    // near Int.MaxValue — each must terminate with the stub fallback
    for (size <- Seq(-8, -9, -100, Int.MaxValue - 3)) {
      val b = le(24)
      b.put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
      b.put("XXXX".getBytes).putInt(size)
      assert(Multimodal.parseHeader(b.array())._1 === "unknown", s"size=$size")
    }
  }

  test("OS/2 BITMAPCOREHEADER parses with core offsets, not INFOHEADER's") {
    val b = le(30)
    b.put('B'.toByte).put('M'.toByte).putInt(26).putInt(0).putInt(26)
    b.putInt(12)                      // BITMAPCOREHEADER size
    b.putShort(320).putShort(200)     // u16 width/height
    b.putShort(1).putShort(8)         // planes, bpp
    assert(Multimodal.parseHeader(b.array()) === ("bmp", 320, 200, 1, null, null))
    // an unrecognized DIB size must not be parsed with either layout
    val v = le(34)
    v.put('B'.toByte).put('M'.toByte).putInt(34).putInt(0).putInt(34)
    v.putInt(16).putInt(640).putInt(480).putShort(1).putShort(24)
    assert(Multimodal.parseHeader(v.array())._1 === "unknown")
  }

  // The blob contract over every public blob operator: a null blob is
  // an empty payload, so it never throws and yields exactly the empty
  // blob's rows (listed per operator; decodeHeaders keeps its stub row,
  // featurize its all-zero histogram); a 2-byte blob never throws either.
  private val blobOperators: Seq[(String, DataFrame => DataFrame, Seq[Seq[Any]])] = {
    import Multimodal._
    Seq(
      ("decodeHeaders", decodeHeaders, Seq(Seq("unknown", 64, 64, 3, null, null, 0L))),
      ("decodePixels", decodePixels, Nil),
      ("imageResize", imageResize(_), Nil),
      ("decodePng", decodePng, Nil),
      ("gifFrames", gifFrames, Nil),
      ("decodeGif", decodeGif, Nil),
      ("decodeJpeg", decodeJpeg, Nil),
      ("imageAHash", imageAHash(_), Nil),
      ("imageDHash", imageDHash(_), Nil),
      ("g711Stats", g711Stats, Nil),
      ("flacMetadata", flacMetadata, Nil),
      ("decodeBmpRle", decodeBmpRle, Nil),
      ("pcm24Stats", pcm24Stats, Nil),
      ("adpcmStats", adpcmStats, Nil),
      ("exifMetadata", exifMetadata, Nil),
      ("imageAHashOriented", imageAHashOriented(_), Nil),
      ("zipInventory", zipInventory, Nil),
      ("warcInventory", warcInventory, Nil),
      ("warcHttpBodies", warcHttpBodies, Nil),
      ("mp3Metadata", mp3Metadata, Nil),
      ("mp3FrameInventory", mp3FrameInventory, Nil),
      ("decodeTiff", decodeTiff, Nil),
      ("mp4Metadata", mp4Metadata, Nil),
      ("pcm16Frames", pcm16Frames(_), Nil),
      ("pcm16Autocorr", pcm16Autocorr(_), Nil),
      ("pcm16ChannelStats", pcm16ChannelStats, Nil),
      ("routeInventory", routeInventory, Nil),
      ("featurize", featurize, Seq(Seq(Seq.fill(16)(0.0)))),
      ("pdfMetadata", pdfMetadata, Nil),
      ("pdfTextPages", pdfTextPages, Nil))
  }

  for ((name, op, emptyRows) <- blobOperators)
    test(s"null blob reads as an empty payload: $name") {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("blob",
          org.apache.spark.sql.types.BinaryType, nullable = true)))
      val blobs = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, null), Row(2L, "BM".getBytes), Row(3L, Array.emptyByteArray)), schema)
      val got = op(blobs).collect().toSeq.groupBy(_.getLong(0))
        .map { case (id, rows) => id -> rows.map(_.toSeq.tail) }.withDefaultValue(Nil)
      assert(got(1L) === emptyRows)
      assert(got(3L) === emptyRows)
      if (name == "decodeHeaders") assert(got(2L).map(_.head) === Seq("unknown"))
    }

  test("PNG IHDR: width/height/channels/bit-depth from fixed offsets") {
    assert(Multimodal.parseHeader(Multimodal.pngBytes(800, 600, 8, 2)) ===
      ("png", 800, 600, 3, null, 8))
    // every spec color type → channel count
    for ((ct, ch) <- Seq(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4))
      assert(Multimodal.parseHeader(Multimodal.pngBytes(17, 9, 16, ct)) ===
        ("png", 17, 9, ch, null, 16), s"colorType=$ct")
  }

  test("malformed PNGs fall back to the stub, never parse as png") {
    // signature but truncated before the IHDR payload
    assert(Multimodal.parseHeader(
      Multimodal.pngBytes(4, 4, 8, 0).take(20))._1 === "unknown")
    // signature with a non-IHDR first chunk (spec violation)
    val wrongChunk = Multimodal.pngBytes(4, 4, 8, 0)
    "IDAT".getBytes.copyToArray(wrongChunk, 12)
    assert(Multimodal.parseHeader(wrongChunk)._1 === "unknown")
    // width with the high bit set (out of PNG's unsigned-31-bit domain)
    val negWidth = Multimodal.pngBytes(4, 4, 8, 0)
    negWidth(16) = 0x80.toByte
    assert(Multimodal.parseHeader(negWidth)._1 === "unknown")
    // zero height and an unknown color type
    assert(Multimodal.parseHeader(Multimodal.pngBytes(4, 0, 8, 0))._1 === "unknown")
    assert(Multimodal.parseHeader(Multimodal.pngBytes(4, 4, 8, 5))._1 === "unknown")
  }

  test("JPEG SOF: dimensions/components from the marker walk") {
    assert(Multimodal.parseHeader(Multimodal.jpegBytes(640, 480, 3)) ===
      ("jpeg", 640, 480, 3, null, 8))
    assert(Multimodal.parseHeader(Multimodal.jpegBytes(17, 9, 1, precision = 12)) ===
      ("jpeg", 17, 9, 1, null, 12))
    // progressive (SOF2) and extended (SOF1) share the payload layout
    for (sof <- Seq(0xc1, 0xc2)) {
      val b = Multimodal.jpegBytes(33, 21, 3)
      b(21) = sof.toByte // the SOF marker code byte (after the 18-byte APP0)
      assert(Multimodal.parseHeader(b) === ("jpeg", 33, 21, 3, null, 8), f"SOF=$sof%02x")
    }
    // fill bytes before a marker code are legal padding
    val padded = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++
      Multimodal.jpegBytes(12, 7, 1).drop(2)
    assert(Multimodal.parseHeader(padded) === ("jpeg", 12, 7, 1, null, 8))
  }

  test("malformed JPEGs fall back to the stub, never spin or crash") {
    // truncated before the SOF payload completes
    assert(Multimodal.parseHeader(Multimodal.jpegBytes(8, 8, 3).take(25))._1 === "unknown")
    // segment length < 2 (self-inclusive length cannot be smaller)
    val badLen = Multimodal.jpegBytes(8, 8, 1)
    badLen(4) = 0; badLen(5) = 1 // APP0 len = 1
    assert(Multimodal.parseHeader(badLen)._1 === "unknown")
    // segment length pointing past the buffer
    val overLen = Multimodal.jpegBytes(8, 8, 1)
    overLen(4) = 0x7f.toByte
    assert(Multimodal.parseHeader(overLen)._1 === "unknown")
    // SOS before any SOF (dimensions unrecoverable without decode)
    val sosFirst = Multimodal.jpegBytes(8, 8, 1)
    sosFirst(21) = 0xda.toByte
    assert(Multimodal.parseHeader(sosFirst)._1 === "unknown")
    // zero-dimension SOF
    assert(Multimodal.parseHeader(Multimodal.jpegBytes(0, 8, 1))._1 === "unknown")
    // a non-marker byte where a segment must start
    val junk = Multimodal.jpegBytes(8, 8, 1)
    junk(2) = 0x00
    assert(Multimodal.parseHeader(junk)._1 === "unknown")
    // 500 random byte blobs behind an SOI prefix: never crash, never spin
    val rnd = new scala.util.Random(77)
    for (_ <- 0 until 500) {
      val b = Array[Byte](0xff.toByte, 0xd8.toByte) ++
        Array.fill(rnd.nextInt(60))(rnd.nextInt(256).toByte)
      Multimodal.parseHeader(b) // must return, value unconstrained
    }
  }

  test("distributed round-trip: syntheticBlobs → decodeHeaders recovers encoded values") {
    val docs = (0L until 40L).toDF("doc_id")
    val got = Multimodal.decodeHeaders(Multimodal.syntheticBlobs(docs))
      .orderBy(col("doc_id")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) {
        assert(r.getString(1) === "bmp")
        assert(r.getInt(2) === (1 + id % 64).toInt && r.getInt(3) === (1 + id % 32).toInt)
        assert(r.getInt(4) === 3 && r.isNullAt(5) && r.isNullAt(6))
      } else if (id % 4 == 1) {
        assert(r.getString(1) === "wav")
        assert(r.isNullAt(2) && r.isNullAt(3))
        assert(r.getInt(4) === (1 + (id / 2) % 2).toInt)
        assert(r.getInt(5) === (8000 + (id % 8) * 1000).toInt && r.getInt(6) === 16)
      } else if (id % 8 == 3) {
        assert(r.getString(1) === "png")
        assert(r.getInt(2) === (1 + id % 128).toInt && r.getInt(3) === (1 + id % 64).toInt)
        assert(r.getInt(4) === Array(1, 3, 4)(((id / 4) % 3).toInt))
        assert(r.isNullAt(5) && r.getInt(6) === 8)
      } else {
        assert(r.getString(1) === "jpeg")
        assert(r.getInt(2) === (1 + id % 96).toInt && r.getInt(3) === (1 + id % 48).toInt)
        assert(r.getInt(4) === (if ((id / 8) % 2 == 0) 1 else 3))
        assert(r.isNullAt(5) && r.getInt(6) === 8)
        assert(r.getLong(7) === 32L + 3 * r.getInt(4))
      }
    }
  }

  test("pcm16Frames: exact energy/peak/zero-crossings from real data bytes") {
    // 7 samples, frame=4 → frames [3,-3,0,4] and [-5,12,-1]
    val samples = Array[Short](3, -3, 0, 4, -5, 12, -1)
    val blobs = Seq((1L, Multimodal.wavPcm16Bytes(1, 8000, samples)))
      .toDF("doc_id", "blob")
    val got = Multimodal.pcm16Frames(blobs, frameSamples = 4)
      .select("frame_idx", "n_samples", "energy", "peak", "zero_crossings")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // frame 0: Σs² = 9+9+0+16 = 34 → 34/4 = 8; zc: 3→-3 only (0 breaks runs)
    assert(got(0) === ((0L, 4L, 8L, 4L, 1L)))
    // frame 1 (partial): Σs² = 25+144+1 = 170 → 170/3 = 56; zc: -5→12, 12→-1
    assert(got(1) === ((1L, 3L, 56L, 12L, 2L)))
  }

  test("pcm16Frames skips non-PCM16 and malformed payloads, never crashes") {
    val nonPcm = {
      // header-only WAV (no data chunk) and an 8-bit fmt
      Seq((1L, Multimodal.wavBytes(1, 8000, 16)),
        (2L, Multimodal.wavBytes(1, 8000, 8)),
        (3L, "not riff at all".getBytes),
        (4L, Array.emptyByteArray))
    }.toDF("doc_id", "blob")
    assert(Multimodal.pcm16Frames(nonPcm).count() === 0L)
    // a data chunk whose declared size overruns the file → skipped
    val lying = Multimodal.wavPcm16Bytes(1, 8000, Array[Short](1, 2, 3))
    lying(43) = 100 // data size byte: claims 100+ bytes, file has 6
    assert(Multimodal.pcm16Frames(Seq((5L, lying)).toDF("doc_id", "blob")).count() === 0L)
  }

  test("silenceSegments: consecutive quiet frames merge, loud frames split") {
    val frames = Seq(
      (1L, 0L, 10L), (1L, 1L, 5L), (1L, 2L, 900L),  // quiet,quiet | loud
      (1L, 3L, 7L),                                  // quiet again → new segment
      (2L, 0L, 999L)                                 // all loud → absent
    ).toDF("doc_id", "frame_idx", "energy")
    val got = Multimodal.silenceSegments(frames, maxEnergy = 100L)
      .select("doc_id", "seg_start", "seg_end", "n_frames")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got === Seq((1L, 0L, 1L, 2L), (1L, 3L, 3L, 1L)))
  }

  test("pcm16Frames: 500 random byte blobs never crash the chunk walk") {
    val rnd = new scala.util.Random(8080808L)
    val blobs = (1 to 500).map { i =>
      val b = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(b)
      // bias some towards RIFF prefixes so the walk paths get exercised
      if (i % 5 == 0 && b.length >= 12) {
        "RIFF".getBytes.copyToArray(b, 0); "WAVE".getBytes.copyToArray(b, 8)
      }
      (i.toLong, b)
    }.toDF("doc_id", "blob")
    // must evaluate without throwing; frame rows only from valid PCM
    val n = Multimodal.pcm16Frames(blobs).count()
    assert(n >= 0L)
  }

  test("decodeBmpPixels: exact channel sums, stride padding skipped, 24/32 bpp") {
    // hand-checkable 2×2 at id=0, 24 bpp: stride = ceil(6/4)*4 = 8,
    // B(x,r)=(2x+3r)%256 → 0,2,3,5; G=(5x+r)%256 → 0,5,1,6; R=(x+7r)%256 → 0,1,7,8
    val got = Multimodal.decodeBmpPixels(Multimodal.bmpPixelBytes(0L, 2, 2, 24))
    assert(got === Some((2, 2, 3, 4L, 10L, 12L, 16L, 0L)))
    // 32 bpp carries alpha: id=1, 1×1 → B=1, G=1, R=1, A=1
    assert(Multimodal.decodeBmpPixels(Multimodal.bmpPixelBytes(1L, 1, 1, 32)) ===
      Some((1, 1, 4, 1L, 1L, 1L, 1L, 1L)))
  }

  test("decodeBmpPixels: top-down (negative height) sums equal bottom-up") {
    val up = Multimodal.bmpPixelBytes(7L, 5, 3, 24)
    val down = up.clone()
    // flip the height field at offset 22 to -3 (top-down marker)
    val bb = java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -3)
    assert(Multimodal.decodeBmpPixels(down) === Multimodal.decodeBmpPixels(up))
  }

  test("decodeBmpPixels: compressed, truncated, and foreign payloads yield None") {
    val ok = Multimodal.bmpPixelBytes(3L, 4, 4, 24)
    assert(Multimodal.decodeBmpPixels(ok).isDefined)
    // BI_RLE8 compression flag at offset 30 → refuse, don't misread
    val rle = ok.clone()
    java.nio.ByteBuffer.wrap(rle).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1)
    assert(Multimodal.decodeBmpPixels(rle) === None)
    // pixel array truncated mid-row → refuse, don't overrun
    assert(Multimodal.decodeBmpPixels(ok.dropRight(5)) === None)
    // header-only fixture (no pixel payload at the declared offset)
    assert(Multimodal.decodeBmpPixels(Multimodal.bmpBytes(4, 4, 24)) === None)
    // lying width: bounds check fires before any pixel read
    val lie = ok.clone()
    java.nio.ByteBuffer.wrap(lie).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(18, 1 << 28)
    assert(Multimodal.decodeBmpPixels(lie) === None)
    assert(Multimodal.decodeBmpPixels(null) === None)
    assert(Multimodal.decodeBmpPixels("not a bmp at all".getBytes) === None)
    // 500 random blobs: never crash, never return garbage dims
    val rnd = new scala.util.Random(11)
    (1 to 500).foreach { _ =>
      val junk = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      Multimodal.decodeBmpPixels(junk).foreach { case (w, h, _, _, _, _, _, _) =>
        assert(w > 0 && h > 0)
      }
    }
  }

  test("bmpResizeNn: identity passthrough, upscale replication, hand-checked downscale") {
    // identity: out dims == src dims → per-channel sums equal the
    // decoder's (order changes, sums don't; checksum is then pinned
    // by the analytic formula through the y→file-row flip)
    val id = 9L
    val (w, h) = (5, 3)
    val full = Multimodal.decodeBmpPixels(Multimodal.bmpPixelBytes(id, w, h, 24)).get
    val same = Multimodal.bmpResizeNn(Multimodal.bmpPixelBytes(id, w, h, 24), w, h).get
    assert((same._1, same._2) === (w, h))
    assert((same._5, same._4, same._3) === (full._5, full._6, full._7),
      "identity resize must preserve the channel sums (B, G, R)")
    // upscale: 1×1 → 4×4 replicates the single pixel 16× and the
    // positional checksum collapses to (Σ weights)·packed = 136·packed
    val one = Multimodal.bmpResizeNn(Multimodal.bmpPixelBytes(1L, 1, 1, 32), 4, 4).get
    val (b, g, r) = (1L, 1L, 1L) // id=1 formulas at x=0, r=0
    assert((one._3, one._4, one._5) === (16 * r, 16 * g, 16 * b))
    assert(one._6 === 136L * (b + (g << 8) + (r << 16)))
    // downscale 4×2 → 2×1: NN picks image (0,0),(2,0) = file row h−1=1,
    // sx ∈ {0, 2}; channel values from the analytic formulas at id=3
    val down = Multimodal.bmpResizeNn(Multimodal.bmpPixelBytes(3L, 4, 2, 24), 2, 1).get
    def pix(x: Long, fr: Long) =
      ((3 + 2 * x + 3 * fr) % 256, (3 + 5 * x + fr) % 256, (3 + x + 7 * fr) % 256)
    val (b0, g0, r0) = pix(0, 1); val (b1, g1, r1) = pix(2, 1)
    assert((down._3, down._4, down._5) === (r0 + r1, g0 + g1, b0 + b1))
    assert(down._6 === 1L * (b0 + (g0 << 8) + (r0 << 16)) + 2L * (b1 + (g1 << 8) + (r1 << 16)))
  }

  test("bmpResizeNn: top-down storage of the same image resizes identically") {
    // bottom-up fixture vs the SAME IMAGE stored top-down (rows
    // reversed in the payload, height negated): identical digests —
    // proves the y → file-row mapping honors orientation
    val up = Multimodal.bmpPixelBytes(7L, 5, 3, 24)
    val stride = ((5 * 3 + 3) / 4) * 4
    val down = up.clone()
    java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -3)
    for (rr <- 0 until 3)
      System.arraycopy(up, 54 + rr * stride, down, 54 + (2 - rr) * stride, stride)
    assert(Multimodal.bmpResizeNn(down, 8, 8) === Multimodal.bmpResizeNn(up, 8, 8))
    // and a top-down clone WITHOUT the row flip is a vertically
    // mirrored image — it must NOT digest-match (3 distinct rows)
    val flipOnly = up.clone()
    java.nio.ByteBuffer.wrap(flipOnly).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -3)
    assert(Multimodal.bmpResizeNn(flipOnly, 8, 8) !== Multimodal.bmpResizeNn(up, 8, 8))
  }

  test("bmpResizeNn: malformed payloads refuse like the decoder") {
    val ok = Multimodal.bmpPixelBytes(3L, 4, 4, 24)
    assert(Multimodal.bmpResizeNn(ok, 8, 8).isDefined)
    val rle = ok.clone()
    java.nio.ByteBuffer.wrap(rle).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1)
    assert(Multimodal.bmpResizeNn(rle, 8, 8) === None)
    assert(Multimodal.bmpResizeNn(ok.dropRight(5), 8, 8) === None)
    assert(Multimodal.bmpResizeNn(null, 8, 8) === None)
  }

  test("distributed round-trip: syntheticPixelBlobs → decodePixels recovers every doc") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    val out = Multimodal.decodePixels(Multimodal.syntheticPixelBlobs(docs))
      .orderBy(col("doc_id")).collect()
    assert(out.length === 50, "every synthetic BMP must decode (none dropped)")
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h, ch) =
        if (id % 2 == 0) ((1 + id % 16).toInt, (1 + id % 8).toInt, 3)
        else ((1 + id % 12).toInt, (1 + id % 6).toInt, 4)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === ch)
      assert(r.getLong(4) === w.toLong * h)
      // analytic channel sums over the same (x, row) grid
      def s(f: (Long, Long) => Long): Long =
        (for (x <- 0L until w; rr <- 0L until h) yield f(x, rr)).sum
      assert(r.getLong(5) === s((x, rr) => (id + 2 * x + 3 * rr) % 256), s"sum_b id=$id")
      assert(r.getLong(6) === s((x, rr) => (id + 5 * x + rr) % 256), s"sum_g id=$id")
      assert(r.getLong(7) === s((x, rr) => (id + x + 7 * rr) % 256), s"sum_r id=$id")
      assert(r.getLong(8) === (if (ch == 4) s((x, rr) => (id + x + rr) % 256) else 0L))
    }
  }

  test("syntheticAudio round-trips through the real decoder at the sawtooth values") {
    val docs = Seq(0L, 1L, 65L).toDF("doc_id")
    val got = Multimodal.pcm16Frames(Multimodal.syntheticAudio(docs), frameSamples = 25)
      .select("doc_id", "frame_idx", "n_samples")
      .as[(Long, Long, Long)].collect()
    // doc 0 and 1: 64+id samples → 3 frames (25/25/14+id); doc 65: 65 tokens? 64+1=65
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byDoc(0L) === 64L && byDoc(1L) === 65L && byDoc(65L) === 65L)
  }

  test("pcm16ChannelStats: deinterleaves by fmt channel count, exact per-channel stats") {
    // hand-checkable stereo: L = [100, -100, 50], R = [-1, 2, -3]
    val interleaved = Array[Short](100, -1, -100, 2, 50, -3)
    val blob = Multimodal.wavPcm16Bytes(2, 8000, interleaved)
    val df = Seq((7L, blob)).toDF("doc_id", "blob")
    val got = Multimodal.pcm16ChannelStats(df)
      .orderBy("channel")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // L: energy = (10000+10000+2500)/3 = 7500, peak 100, zc 2
    assert(got(0) === ((7L, 0L, 3L, 7500L, 100L, 2L)))
    // R: energy = (1+4+9)/3 = 4, peak 3, zc 2
    assert(got(1) === ((7L, 1L, 3L, 4L, 3L, 2L)))
    // mono degrades to one channel over everything
    val mono = Multimodal.pcm16ChannelStats(
      Seq((1L, Multimodal.wavPcm16Bytes(1, 8000, interleaved))).toDF("doc_id", "blob"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(mono.length === 1 && mono(0)._3 === 6L)
    // malformed payloads emit nothing, never crash
    assert(Multimodal.pcm16ChannelStats(
      Seq((2L, "not audio".getBytes)).toDF("doc_id", "blob")).count() === 0L)
  }

  // ───────────────────────── PNG pixel decode ─────────────────────────

  /** Hand-assembled PNG from raw (filter-byte-prefixed) scanlines —
    * lets tests feed the decoder streams pngPixelBytes would never
    * emit (bad filter codes, wrong lengths). */
  private def pngFromRaw(width: Int, height: Int, colorType: Int,
                         raw: Array[Byte],
                         plte: Option[Array[Byte]] = None): Array[Byte] = {
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val out = ByteBuffer.allocate(12 + payload.length).order(ByteOrder.BIG_ENDIAN)
      val tb = typ.getBytes("US-ASCII")
      out.putInt(payload.length).put(tb).put(payload)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val zb = new Array[Byte](raw.length + 64)
    var zl = 0
    while (!d.finished()) zl += d.deflate(zb, zl, zb.length - zl)
    d.end()
    val out = new java.io.ByteArrayOutputStream()
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(out.write)
    out.write(chunk("IHDR", ihdr.array()))
    plte.foreach(p => out.write(chunk("PLTE", p)))
    out.write(chunk("IDAT", java.util.Arrays.copyOf(zb, zl)))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  private def pngAnalyticSums(id: Long, w: Int, h: Int, ch: Int)
      : (Long, Long, Long, Long) = {
    def s(m: Long, n: Long): Long =
      (for (x <- 0L until w; rr <- 0L until h) yield (id + m * x + n * rr) % 256).sum
    (s(2, 3), if (ch >= 3) s(5, 1) else 0L, if (ch >= 3) s(1, 7) else 0L,
      if (ch == 4) s(1, 1) else 0L)
  }

  test("decodePngPixels: inflate + all five filter reconstructions, exact sums") {
    // heights ≥ 5 exercise every filter type (row filter = (id+r)%5)
    for ((id, w, h, ct) <- Seq((0L, 6, 5, 2), (1L, 3, 7, 6), (2L, 4, 6, 0),
                               (7L, 1, 5, 2), (12L, 13, 9, 6))) {
      val ch = ct match { case 0 => 1; case 2 => 3; case _ => 4 }
      val got = Multimodal.decodePngPixels(Multimodal.pngPixelBytes(id, w, h, ct))
      val (sr, sg, sb, sa) = pngAnalyticSums(id, w, h, ch)
      assert(got === Some((w, h, ch, w.toLong * h, sr, sg, sb, sa)), s"id=$id ct=$ct")
    }
  }

  test("decodePngPixels: IDAT payloads concatenate into one zlib stream") {
    // pngPixelBytes always splits the stream across two IDATs — a
    // decoder that inflates chunks independently cannot reproduce the
    // analytic sums (the deflate stream straddles the cut).
    val bytes = Multimodal.pngPixelBytes(5L, 9, 8, 2)
    // count IDAT chunks to prove the fixture really is split
    def countIdat(b: Array[Byte]): Int = {
      var p = 33; var n = 0
      while (p + 8 <= b.length) {
        val len = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
          ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
        if (new String(b, p + 4, 4, "US-ASCII") == "IDAT") n += 1
        p += 12 + len
      }
      n
    }
    assert(countIdat(bytes) === 2)
    assert(Multimodal.decodePngPixels(bytes).isDefined)
  }

  test("decodePngPixels: malformed streams refuse instead of throwing") {
    val ok = Multimodal.pngPixelBytes(3L, 5, 5, 2)
    assert(Multimodal.decodePngPixels(ok).isDefined)
    // out-of-range filter code inside a VALID zlib stream → None
    val badFilter = new Array[Byte](5 * (5 * 3 + 1))
    badFilter(0) = 7.toByte
    assert(Multimodal.decodePngPixels(pngFromRaw(5, 5, 2, badFilter)) === None)
    // declared dims bigger than the inflated stream delivers → None
    assert(Multimodal.decodePngPixels(pngFromRaw(5, 5, 2, new Array[Byte](16))) === None)
    // corrupt deflate bytes → DataFormatException path → None
    val corrupt = ok.clone()
    for (i <- 45 until math.min(60, corrupt.length)) corrupt(i) = 0x55.toByte
    assert(Multimodal.decodePngPixels(corrupt) === None)
    // truncated file (IDAT chunk length now lies) → None
    assert(Multimodal.decodePngPixels(ok.dropRight(20)) === None)
    // 16-bit depth / palette / interlace stay on the stub seam
    val deep = ok.clone(); deep(24) = 16.toByte
    assert(Multimodal.decodePngPixels(deep) === None)
    val pal = ok.clone(); pal(25) = 3.toByte
    assert(Multimodal.decodePngPixels(pal) === None)
    val il = ok.clone(); il(28) = 1.toByte
    assert(Multimodal.decodePngPixels(il) === None)
    // lying IHDR dims: cap fires before the inflate buffer is sized
    val lie = ok.clone()
    ByteBuffer.wrap(lie).order(ByteOrder.BIG_ENDIAN).putInt(16, 1 << 20)
    assert(Multimodal.decodePngPixels(lie) === None)
    assert(Multimodal.decodePngPixels(null) === None)
    assert(Multimodal.decodePngPixels("not a png".getBytes) === None)
    // fuzz: random junk never crashes
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val junk = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      Multimodal.decodePngPixels(junk).foreach { case (w, h, _, _, _, _, _, _) =>
        assert(w > 0 && h > 0)
      }
    }
  }

  test("decodePngPixels: palette path — PLTE lookup, bad indexes and missing PLTE refuse") {
    // analytic round-trip across all five filters (h ≥ 5)
    for ((id, w, h) <- Seq((0L, 4, 5), (3L, 11, 7), (9L, 1, 6))) {
      val got = Multimodal.decodePngPixels(Multimodal.pngPalettePixelBytes(id, w, h))
      def s(m: Long): Long =
        (for (x <- 0L until w; rr <- 0L until h)
          yield (id + m * ((id + x + rr) % 16)) % 256).sum
      assert(got === Some((w, h, 3, w.toLong * h, s(3), s(5), s(7), 0L)), s"id=$id")
    }
    // indexed pixels pointing past the palette → None, never misread
    val tiny = Array[Byte](0, 0, 0, 127, 127, 127) // 2-entry palette
    val badIdx = new Array[Byte](3 * (2 + 1))      // 3 rows of 2 px, filter 0
    badIdx(1) = 5.toByte                           // index 5 of 2 → out of range
    assert(Multimodal.decodePngPixels(pngFromRaw(2, 3, 3, badIdx, Some(tiny))) === None)
    // indexed with NO PLTE at all → None
    assert(Multimodal.decodePngPixels(pngFromRaw(2, 3, 3, new Array[Byte](9))) === None)
    // valid indexes through a tiny palette decode fine
    val okIdx = new Array[Byte](9)
    okIdx(1) = 1.toByte // row 0: [1, 0]; rows 1-2: [0, 0]
    val ok = Multimodal.decodePngPixels(pngFromRaw(2, 3, 3, okIdx, Some(tiny)))
    assert(ok === Some((2, 3, 3, 6L, 127L, 127L, 127L, 0L)))
  }

  test("distributed round-trip: syntheticPalettePngBlobs → decodePng recovers every doc") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(40)
    val out = Multimodal.decodePng(Multimodal.syntheticPalettePngBlobs(docs))
      .orderBy(col("doc_id")).collect()
    assert(out.length === 40, "every synthetic palette PNG must decode")
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((1 + id % 11).toInt, (1 + id % 7).toInt)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === 3)
      def s(m: Long): Long =
        (for (x <- 0L until w; rr <- 0L until h)
          yield (id + m * ((id + x + rr) % 16)) % 256).sum
      assert((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)) ===
        ((s(3), s(5), s(7), 0L)), s"palette sums id=$id")
    }
  }

  test("distributed round-trip: syntheticPngBlobs → decodePng recovers every doc") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(60)
    val out = Multimodal.decodePng(Multimodal.syntheticPngBlobs(docs))
      .orderBy(col("doc_id")).collect()
    assert(out.length === 60, "every synthetic PNG must decode (none dropped)")
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((1 + id % 13).toInt, (1 + id % 9).toInt)
      val ch = Array(1, 3, 4)((id % 3).toInt)
      assert(r.getInt(1) === w && r.getInt(2) === h && r.getInt(3) === ch)
      val (sr, sg, sb, sa) = pngAnalyticSums(id, w, h, ch)
      assert((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)) ===
        ((sr, sg, sb, sa)), s"sums id=$id")
    }
  }

  test("GIF LZW decode agrees with javax.imageio on every fixture (independent decoder)") {
    // the fixture encoder and our decoder share the width-schedule
    // convention BY CONSTRUCTION — ImageIO's GIF reader is the
    // independent referee that catches a compensating-bug pair
    for (id <- 0L until 40L) {
      val (w, h) = ((1 + id % 12).toInt, (1 + id % 8).toInt)
      val bytes = Multimodal.gifBytes(id, w, h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO must accept fixture id=$id")
      assert(img.getWidth === w && img.getHeight === h)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
      }
      val got = Multimodal.decodeGifPixels(bytes)
      assert(got.isDefined, s"decodeGifPixels must accept fixture id=$id")
      val (gw, gh, _, np, sr, sg, sb, _) = got.get
      assert(gw === w && gh === h && np === w.toLong * h)
      assert((sr, sg, sb) === ((er, eg, eb)), s"channel sums vs ImageIO, id=$id")
    }
  }

  test("imageAHash: brightness-shift invariant; banded pairs ≡ brute force (pigeonhole)") {
    import graft.functions.HammingDistance.hamming64
    // shift invariance: +40 on every pixel (id%5 bumps the base only)
    // with identical structure must hash identically — ids 0 and 210
    // share id%7 and id%2 but differ in id%5 (pure brightness)
    val h0 = Multimodal.bmpAHash(Multimodal.grayBmpBytes(0L, 16, 16), 8).get._3
    val h210 = Multimodal.bmpAHash(Multimodal.grayBmpBytes(210L, 16, 16), 8).get._3
    assert(h0 === h210, "a globally brightened copy must hash identically")
    // pigeonhole completeness: banded candidate generation loses NO
    // pair at hamming ≤ 3 (4 slices, ≤ 3 flipped bits ⇒ one slice intact)
    val docs = graft.sources.Tables.documents(spark, sf).limit(120)
    val hashes = Multimodal.imageAHash(Multimodal.syntheticAHashBlobs(docs))
    val banded = Multimodal.aHashPairs(hashes, maxDistance = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val a = hashes.select(col("doc_id").as("doc_a"), col("ahash").as("sa"))
    val b = hashes.select(col("doc_id").as("doc_b"), col("ahash").as("sb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .filter(hamming64(col("sa"), col("sb")) <= 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("imageDHash: hand-traced 2×2 mesh, brightness invariance, aHash disagreement") {
    // hand case on a 4×4 gray BMP with grid=2: craft block means
    // m = [[10, 200], [200, 10]] (checkerboard). Bits (wrap compare):
    //   i=0 (r0,c0): m01 > m00 → 1;  i=1 (r0,c1): m00 > m01 → 0
    //   i=2 (r1,c0): m11 > m10 → 0;  i=3 (r1,c1): m10 > m11 → 1
    // → dhash = 0b1001 = 9
    val w = 4; val h = 4
    val stride = ((w * 3 + 3) / 4) * 4
    val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h).putInt(0)
      .putInt(54).putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (r <- 0 until h; x <- 0 until w) {
      val v = if ((r / 2 + x / 2) % 2 == 0) 10 else 200
      bb.put(v.toByte).put(v.toByte).put(v.toByte)
    }
    val (dw, dh2, dhash) = Multimodal.bmpDHash(bb.array(), 2).get
    assert((dw, dh2) === ((4, 4)))
    assert(dhash === 9L, s"checkerboard dhash should be 0b1001, got $dhash")
    // brightness invariance on the dHash fixture: ids 0 and 36 share
    // structure (both ≡ 0 mod 4 and mod 3) and differ only in the
    // id%5 brightness term
    val d0 = Multimodal.bmpDHash(Multimodal.dhashGrayBmpBytes(0L, 16, 16), 8).get._3
    val d36 = Multimodal.bmpDHash(Multimodal.dhashGrayBmpBytes(36L, 16, 16), 8).get._3
    assert(d0 === d36, "a globally brightened copy must dhash identically")
    // discrimination: same brightness class, different gradient
    // structure (id 4: id%3 = 1 flips the row coefficient)
    val d4 = Multimodal.bmpDHash(Multimodal.dhashGrayBmpBytes(4L, 16, 16), 8).get._3
    assert(d0 !== d4, "different gradient structure must dhash differently")
    // the aHash fixture's structure term is id-invariant — that is
    // exactly why dHash gets its own fixture (pin the reason)
    val a0 = Multimodal.bmpDHash(Multimodal.grayBmpBytes(0L, 16, 16), 8).get._3
    val a3 = Multimodal.bmpDHash(Multimodal.grayBmpBytes(3L, 16, 16), 8).get._3
    assert(a0 === a3, "aHash fixture shares one gradient field across ids")
  }

  test("pcm16Autocorr: exact period wins on a square wave, noise scores low, malformed emits nothing") {
    import spark.implicits._
    // period-8 square wave, 96 samples: ac(8) = full energy alignment
    val square = Array.tabulate(96)(i => (if ((i / 4) % 2 == 0) 1000 else -1000).toShort)
    // deterministic irregular signal (not periodic in [2,16])
    val rnd = new scala.util.Random(5)
    val noise = Array.tabulate(96)(_ => (rnd.nextInt(2000) - 1000).toShort)
    val blobs = Seq(
      (1L, Multimodal.wavPcm16Bytes(1, 8000, square)),
      (2L, Multimodal.wavPcm16Bytes(1, 8000, noise)),
      (3L, "not a wav".getBytes)).toDF("doc_id", "blob")
    val out = Multimodal.pcm16Autocorr(blobs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(!out.contains(3L), "malformed payloads must emit nothing")
    val (n1, e1, lag1, ac1, p1) = out(1L)
    assert(n1 === 96L && lag1 === 8L,
      s"square wave of period 8 must peak at lag 8, got $lag1")
    // ac(8) loses only the 8 shifted-out samples: (96-8)/96 of energy
    assert(p1 > 900L, s"periodic signal should score near 1000, got $p1")
    assert(out(2L)._5 < p1 / 2, s"aperiodic signal must score well below periodic")
  }

  test("pcm16Autocorr: stereo de-interleaves — frame-unit lags, no cross-channel products") {
    import spark.implicits._
    // L: period-8 square; R: period-6 square, ANTI-phase — an
    // interleaved-stream autocorrelation would mix L·R products and
    // halve every frame lag; the de-interleaved sum must equal the
    // exact per-channel integer recomputation below
    val left = Array.tabulate(96)(i => if ((i / 4) % 2 == 0) 1000 else -1000)
    val right = Array.tabulate(96)(i => if ((i / 3) % 2 == 0) -700 else 700)
    val inter = Array.tabulate(192)(i => (if (i % 2 == 0) left(i / 2) else right(i / 2)).toShort)
    val blobs = Seq((1L, Multimodal.wavPcm16Bytes(2, 8000, inter))).toDF("doc_id", "blob")
    val r = Multimodal.pcm16Autocorr(blobs).collect().head
    def ac(s: Array[Int], lag: Int): Long =
      (0 until s.length - lag).map(i => s(i).toLong * s(i + lag)).sum
    val energy = left.map(v => v.toLong * v).sum + right.map(v => v.toLong * v).sum
    val (bestLag, bestAc) = (2 to 16).map(l => (l, ac(left, l) + ac(right, l)))
      .maxBy { case (l, a) => (a, -l) }
    assert(r.getLong(1) === 192L, "n_samples stays the total interleaved count")
    assert(r.getLong(2) === energy, "energy must sum per-channel, never mix L·R")
    assert(r.getLong(3) === bestLag.toLong && r.getLong(4) === bestAc,
      s"frame-unit argmax expected ($bestLag, $bestAc), " +
        s"got (${r.getLong(3)}, ${r.getLong(4)})")
    assert(r.getLong(5) === Math.floorDiv(bestAc * 1000L, energy))
    // mono is bit-identical to the single-array formulation
    val mono = Multimodal.pcm16Autocorr(
      Seq((2L, Multimodal.wavPcm16Bytes(1, 8000, left.map(_.toShort)))).toDF("doc_id", "blob"))
      .collect().head
    assert(mono.getLong(3) === 8L && mono.getLong(4) === ac(left, 8))
    // block-misaligned stereo (odd sample count) is malformed — emit
    // nothing rather than silently truncating a partial frame
    val odd = Multimodal.wavPcm16Bytes(2, 8000, inter.take(191))
    assert(Multimodal.pcm16Autocorr(Seq((3L, odd)).toDF("doc_id", "blob")).count() === 0L)
  }

  test("permille: exact floor division beyond the a*1000 Long overflow point") {
    val big = Long.MaxValue / 7 // big*1000 overflows Long
    assert(Multimodal.permille(big, 3L) ===
      ((BigInt(big) * 1000) / 3).toLong)
    // negative numerators keep FLOOR (not truncate-toward-zero) semantics
    assert(Multimodal.permille(-big, 3L) ===
      (-((BigInt(big) * 1000 + 2) / 3)).toLong)
    assert(Multimodal.permille(-7L, 2000L) === -4L, "floorDiv parity on small values")
    assert(Multimodal.permille(7L, 2L) === 3500L)
  }

  test("GIF decoder refuses corrupt input instead of throwing or spinning") {
    val good = Multimodal.gifBytes(7L, 9, 6)
    assert(Multimodal.decodeGifPixels(good).isDefined)
    // truncations at every prefix length must return None, not throw
    for (cut <- 0 until good.length by 3) {
      assert(Multimodal.decodeGifPixels(good.take(cut)).isEmpty, s"cut=$cut")
    }
    // flip bytes inside the LZW stream: must never throw (None or a
    // differing-but-bounded decode are both acceptable outcomes)
    for (i <- (good.length - 12) until good.length) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x5a).toByte
      Multimodal.decodeGifPixels(mut) // must not throw
    }
    assert(Multimodal.decodeGifPixels(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeGifPixels(null).isEmpty)
  }

  test("JPEG baseline decode agrees EXACTLY with javax.imageio on the DC-only " +
    "fixtures (grayscale, 4:4:4, 4:2:0)") {
    // DC-only blocks with quantizer 16 decode to the flat value
    // 2·dc+128 with NO rounding ambiguity (dc·16/8 is an even
    // integer), and zero chroma makes YCbCr→RGB exact — so any
    // conformant decoder produces identical pixels and the
    // differential is exact, not tolerance-based. ImageIO (libjpeg)
    // is the independent referee against a compensating encoder/
    // decoder bug pair.
    for (id <- 0L until 60L) {
      val bytes = Multimodal.jpegBaselineBytes(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO must accept fixture id=$id")
      val got = Multimodal.decodeJpegPixels(bytes)
      assert(got.isDefined, s"decodeJpegPixels must accept fixture id=$id")
      val (w, h, ch, np, sr, sg, sb, _) = got.get
      assert(w === img.getWidth && h === img.getHeight && np === w.toLong * h,
        s"dims vs ImageIO, id=$id")
      if (ch == 1) {
        // grayscale: compare RAW raster samples — getRGB would route
        // the gray channel through ImageIO's ICC gray→sRGB transform
        // (gamma), which is color management, not decoding
        var er = 0L
        for (y <- 0 until h; x <- 0 until w)
          er += img.getRaster.getSample(x, y, 0)
        assert(sr === er, s"gray sums vs ImageIO raster, id=$id")
      } else {
        var (er, eg, eb) = (0L, 0L, 0L)
        for (y <- 0 until h; x <- 0 until w) {
          val rgb = img.getRGB(x, y)
          er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
        }
        assert((sr, sg, sb) === ((er, eg, eb)), s"channel sums vs ImageIO, id=$id")
      }
    }
  }

  test("JPEG AC path (run-length, ZRL, EOB, both AC symbols) within ±1/pixel " +
    "of javax.imageio") {
    // a gray fixture whose blocks carry AC coefficients placed to
    // exercise every symbol in the fixture AC table: zigzag 1 via
    // (0,1), zigzag 3 via (1,1) after one zero, zigzag 20 via ZRL +
    // (0,1) after a 16-zero run. The IDCT is no longer flat, so the
    // differential allows the ±1 inter-decoder IDCT rounding band —
    // tight enough that any structural bug (wrong zigzag, wrong
    // dequantize, dropped run) blows it by orders of magnitude.
    val w = 24; val h = 16
    def blk(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = (7 * bx - 5 * by) % 30
      a(Multimodal.JpegZigzag(1)) = 1
      a(Multimodal.JpegZigzag(3)) = -1
      a(Multimodal.JpegZigzag(20)) = if ((bx + by) % 2 == 0) 1 else -1
      a
    }
    val bytes = Multimodal.jpegAssemble(w, h, 0, blk)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must accept the AC fixture")
    val mine = decodeJpegGray(bytes)
    assert(mine.isDefined, "decoder must accept the AC fixture")
    val plane = mine.get
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val ref = img.getRaster.getSample(x, y, 0) // raw, no ICC transform
      val got = plane(y * w + x)
      maxDiff = math.max(maxDiff, math.abs(ref - got))
    }
    assert(maxDiff <= 1, s"per-pixel IDCT divergence $maxDiff > 1 vs ImageIO")
  }

  test("JPEG restart markers (DRI/RSTn): byte-realign + predictor reset decode " +
    "identically to the unrestarted twin and to ImageIO") {
    // AC-carrying blocks so the restart's byte realignment lands
    // mid-entropy, not on a convenient boundary; DC values drift so a
    // missed predictor reset shows up immediately
    def blk(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      if (c == 0) {
        a(0) = (9 * bx - 4 * by) % 40
        a(Multimodal.JpegZigzag(1)) = if ((bx + by) % 3 == 0) 1 else -1
      }
      a
    }
    for ((mode, w, h, ri) <- Seq((0, 48, 24, 2), (0, 48, 24, 5), (2, 64, 32, 1))) {
      val plain = Multimodal.jpegAssemble(w, h, mode, blk)
      val restarted = Multimodal.jpegAssemble(w, h, mode, blk, restartInterval = ri)
      assert(restarted.length > plain.length, s"DRI fixture must carry RST markers (ri=$ri)")
      val a = Multimodal.decodeJpegPixels(plain)
      val b = Multimodal.decodeJpegPixels(restarted)
      assert(b.isDefined, s"restarted stream must decode (mode=$mode ri=$ri)")
      assert(a === b, s"restart markers must not change pixels (mode=$mode ri=$ri)")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(restarted))
      assert(img != null, s"ImageIO must accept the DRI fixture (mode=$mode ri=$ri)")
      if (mode == 0) {
        var er = 0L
        for (y <- 0 until h; x <- 0 until w) er += img.getRaster.getSample(x, y, 0)
        // AC-carrying blocks: IDCT rounding can differ ±1/pixel
        assert(math.abs(b.get._5 - er) <= w.toLong * h,
          s"gray sum vs ImageIO beyond the ±1/pixel band (mode=$mode ri=$ri)")
      }
    }
    // a WRONG restart-marker sequence refuses (RST1 where RST0 is due)
    val good = Multimodal.jpegAssemble(48, 24, 0, blk, restartInterval = 2)
    val rstAt = (0 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) >= 0xd0
        && (good(i + 1) & 0xff) <= 0xd7).get
    val bad = good.clone()
    bad(rstAt + 1) = (((bad(rstAt + 1) & 0xff) - 0xd0 + 1) % 8 + 0xd0).toByte
    // decoder accepts any RSTn code order? T.81 decoders may ignore the
    // index; ours only checks the 0xD0..0xD7 class — flipping WITHIN
    // the class must still decode (the alignment is what matters)
    assert(Multimodal.decodeJpegPixels(bad).isDefined)
    // but a non-RST marker at the restart point refuses
    val worse = good.clone()
    worse(rstAt + 1) = 0xc0.toByte
    assert(Multimodal.decodeJpegPixels(worse).isEmpty)
  }

  test("JPEG decoder refuses malformed input instead of throwing or spinning") {
    val good = Multimodal.jpegBaselineBytes(7L)
    assert(Multimodal.decodeJpegPixels(good).isDefined)
    // truncations at every prefix must refuse, never throw — except
    // the trailing EOI marker, which decoders legitimately tolerate
    // once the scan is complete (libjpeg does the same)
    for (cut <- 0 until good.length - 2 by 3)
      assert(Multimodal.decodeJpegPixels(good.take(cut)).isEmpty, s"cut=$cut")
    // progressive (SOF2) refuses — baseline only
    val prog = good.clone()
    // locate the SOF0 marker and rewrite it to SOF2
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegPixels(prog).isEmpty, "SOF2 must refuse")
    // random flips in the entropy stream must never throw
    for (i <- (good.length - 16) until good.length) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x5a).toByte
      Multimodal.decodeJpegPixels(mut) // must not throw
    }
    assert(Multimodal.decodeJpegPixels(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeJpegPixels(null).isEmpty)
    // a foreign payload (PNG bytes) refuses
    assert(Multimodal.decodeJpegPixels(Multimodal.gifBytes(3L, 4, 4)).isEmpty)
  }

  test("G.711 expansion matches the published table anchors; stats walk refuses " +
    "non-G.711 payloads") {
    // µ-law anchors (G.711 table): 0xFF → 0 (positive zero), 0x7F → 0
    // (negative zero), 0x00 → −32124 (most negative), 0x80 → +32124
    assert(Multimodal.mulawExpand(0xff) === 0)
    assert(Multimodal.mulawExpand(0x7f) === 0)
    assert(Multimodal.mulawExpand(0x00) === -32124)
    assert(Multimodal.mulawExpand(0x80) === 32124)
    // A-law anchors: 0x55 → −8, 0xD5 → +8, 0x2A → −32256, 0xAA → +32256
    assert(Multimodal.alawExpand(0x55) === -8)
    assert(Multimodal.alawExpand(0xd5) === 8)
    assert(Multimodal.alawExpand(0x2a) === -32256)
    assert(Multimodal.alawExpand(0xaa) === 32256)
    // expansion is odd-symmetric under the sign bit for every code
    for (b <- 0 until 128) {
      assert(Multimodal.mulawExpand(b) === -Multimodal.mulawExpand(b | 0x80),
        f"mulaw sign symmetry at $b%02x")
      assert(Multimodal.alawExpand(b) === -Multimodal.alawExpand(b | 0x80),
        f"alaw sign symmetry at $b%02x")
    }
    // the stats walk accepts only format 6/7 at 8 bits
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(20)
    val got = Multimodal.g711Stats(Multimodal.syntheticG711Audio(docs)).collect()
    assert(got.length === 20)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === (if (id % 2 == 0) "ulaw" else "alaw"))
      assert(r.getLong(2) === 48 + id % 48)
      assert(r.getLong(3) <= 32256)
    }
    // PCM16 WAVs and garbage refuse (the codec seam)
    val pcm = Multimodal.wavPcm16Bytes(1, 8000, Array[Short](1, 2, 3))
    assert(Multimodal.g711Stats(
      Seq((1L, pcm)).toDF("doc_id", "blob")).count() === 0)
    assert(Multimodal.g711Stats(
      Seq((2L, Array.fill[Byte](50)(7))).toDF("doc_id", "blob")).count() === 0)
  }

  test("modality router: every branch detected + verified, corrupt blobs " +
    "report unverified, unknown magics drop") {
    // one of each class through the mixed fixture
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(16)
    val got = Multimodal.routeInventory(Multimodal.syntheticMixedBlobs(docs))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size === 16)
    val expected = Map(0 -> "tiff", 1 -> "warc", 2 -> "zip", 3 -> "mp3",
      4 -> "adpcm", 5 -> "gif", 6 -> "jpeg", 7 -> "png")
    got.foreach { case (id, (fmt, v, units)) =>
      assert(fmt === expected((id % 8).toInt), s"id=$id")
      assert(v === 1L, s"id=$id must verify")
      assert(units > 0L, s"id=$id units")
    }
    // jpeg units = pixels of the baseline fixture (id=6: mode 0 dims)
    assert(got(6L)._3 === (1 + 6 % 21).toLong * (1 + 6 % 13))
    // recognized magic + corrupt body → detected, UNVERIFIED
    val corrupt = Multimodal.zipBytes(5L)
    val at = 30 + "doc_5_0.txt".length
    corrupt(at) = (corrupt(at) ^ 0x55).toByte
    assert(Multimodal.routeBlob(corrupt) === Some(("zip", false, 0L)))
    // g711 and pcm24 ride the RIFF branch
    val g711 = Multimodal.wavG711Bytes(7, 8000, Array.fill[Byte](8)(1))
    assert(Multimodal.routeBlob(g711) === Some(("g711", true, 8L)))
    val p24 = Multimodal.wavPcm24Bytes(48000, Array(1, 2, 3))
    assert(Multimodal.routeBlob(p24) === Some(("pcm24", true, 3L)))
    // unknown magic drops; null-safe
    assert(Multimodal.routeBlob("plain text, no container".getBytes).isEmpty)
    assert(Multimodal.routeBlob(null).isEmpty)
    assert(Multimodal.routeBlob(Array[Byte](1, 2)).isEmpty)
  }

  test("FLAC STREAMINFO: bit-field unpack at every boundary, block-walk skip, " +
    "refusals") {
    // hand-check: the packed fields round-trip for boundary values
    for ((id, rate, ch, bits) <- Seq((0L, 8000, 1, 16), (7L, 8259, 8, 23),
        (2431L, (8000 + 2431 * 37 % 90000).toInt, 8, 17))) {
      val got = Multimodal.flacStreamInfo(Multimodal.flacBytes(id)).get
      assert(got._1 === rate, s"rate id=$id")
      assert(got._2 === ch && got._3 === bits, s"ch/bits id=$id")
      assert(got._4 === (id * 1009) % (1L << 30))
    }
    // the walk skips the padding block (STREAMINFO found first), and a
    // FLAC whose STREAMINFO comes AFTER another block still parses:
    // build padding-first by hand
    val orig = Multimodal.flacBytes(3L)
    val si = orig.slice(4, 4 + 4 + 34)   // STREAMINFO block w/ header
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes); out.write(0x01); out.write(0); out.write(0); out.write(2)
    out.write(new Array[Byte](2))        // padding FIRST (not last-flagged)
    out.write(si(0) | 0x80); out.write(si, 1, si.length - 1) // SI, last-flagged
    assert(Multimodal.flacStreamInfo(out.toByteArray) ===
      Multimodal.flacStreamInfo(orig))
    // refusals: truncation never throws; no STREAMINFO; zero rate.
    // Cuts inside the STREAMINFO block (first 4 + 4 + 34 bytes)
    // refuse; once it is whole the walk returns without needing the
    // trailing blocks (early exit at the block it wants).
    for (cut <- 0 until (4 + 4 + 34) by 3)
      assert(Multimodal.flacStreamInfo(orig.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.flacStreamInfo(orig.take(4 + 4 + 34)).isDefined)
    val noSi = new java.io.ByteArrayOutputStream()
    noSi.write("fLaC".getBytes); noSi.write(0x81); noSi.write(0); noSi.write(0); noSi.write(2)
    noSi.write(new Array[Byte](2))
    assert(Multimodal.flacStreamInfo(noSi.toByteArray).isEmpty)
    val zeroRate = orig.clone()
    zeroRate(4 + 4 + 10) = 0; zeroRate(4 + 4 + 11) = 0
    zeroRate(4 + 4 + 12) = (zeroRate(4 + 4 + 12) & 0x0f).toByte
    assert(Multimodal.flacStreamInfo(zeroRate).isEmpty, "rate 0 is invalid")
    assert(Multimodal.flacStreamInfo(null).isEmpty)
    assert(Multimodal.flacStreamInfo(Multimodal.mp3Bytes(1L)).isEmpty)
  }

  test("BMP RLE8: hand-walked escapes (EOL, EOB, delta, absolute padding), " +
    "ImageIO differential, refusals") {
    // hand-built 4×2 bottom-up: row 0 = run(3, idx1) + abs(0,3 →
    // illegal at 1 left) — use run(1, idx2); row 1 via DELTA skip
    // (2 right) then run(2, idx3); skipped pixels read as palette 0
    def header(w: Int, h: Int, rle: Array[Byte]): Array[Byte] = {
      val dataOff = 54 + 4 * 16
      val b = java.nio.ByteBuffer.allocate(dataOff + rle.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(dataOff + rle.length).putInt(0)
      b.putInt(dataOff).putInt(40).putInt(w).putInt(h)
      b.putShort(1).putShort(8).putInt(1).putInt(rle.length)
      b.putInt(0).putInt(0).putInt(16).putInt(0)
      for (j <- 0 until 16) { // palette entry j: B=10j, G=20+j, R=j²%256
        b.put((10 * j).toByte).put((20 + j).toByte).put(((j * j) % 256).toByte)
          .put(0.toByte)
      }
      b.put(rle)
      b.array()
    }
    val rle = Array[Int](
      3, 1, 1, 2,      // file row 0: idx1 ×3, idx2 ×1
      0, 0,            // EOL
      0, 2, 2, 0,      // delta: skip 2 right (stay on row 1)
      2, 3,            // idx3 ×2
      0, 1             // EOB
    ).map(_.toByte)
    val got = Multimodal.decodeBmpRle8Pixels(header(4, 2, rle)).get
    // pixels: row0 = [1,1,1,2]; row1 = [0,0,3,3] (delta-skipped → 0)
    val counts = Map(0 -> 2, 1 -> 3, 2 -> 1, 3 -> 2)
    def s(f: Int => Int) = counts.map { case (j, c) => f(j).toLong * c }.sum
    assert((got._1, got._2, got._4) === ((4, 2, 8L)))
    assert(got._5 === s(j => (j * j) % 256), "sum_r")
    assert(got._6 === s(j => 20 + j), "sum_g")
    assert(got._7 === s(j => 10 * j), "sum_b")
    // fixture corpus + ImageIO differential (the JDK reads RLE8)
    for (id <- 0L until 24L) {
      val (w, h) = ((1 + id % 14).toInt, (1 + id % 9).toInt)
      val bytes = Multimodal.bmpRle8Bytes(id, w, h)
      val mine = Multimodal.decodeBmpRle8Pixels(bytes).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO must accept id=$id")
      assert(img.getWidth === w && img.getHeight === h)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (yy <- 0 until h; xx <- 0 until w) {
        val rgb = img.getRGB(xx, yy)
        er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
      }
      assert((er, eg, eb) === ((mine._5, mine._6, mine._7)), s"sums id=$id")
    }
    // refusals: run past the row end, index past biClrUsed, truncation
    val overrun = Array[Int](5, 1, 0, 1).map(_.toByte) // 5 > width 4
    assert(Multimodal.decodeBmpRle8Pixels(header(4, 2, overrun)).isEmpty)
    val badIdx = Array[Int](1, 200, 0, 1).map(_.toByte) // idx 200 >= 16
    assert(Multimodal.decodeBmpRle8Pixels(header(4, 2, badIdx)).isEmpty)
    val good = Multimodal.bmpRle8Bytes(6L, 7, 5)
    for (cut <- 0 until good.length by 4)
      assert(Multimodal.decodeBmpRle8Pixels(good.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.decodeBmpRle8Pixels(null).isEmpty)
    // a plain (BI_RGB) BMP refuses on this path — the stride walk owns it
    assert(Multimodal.decodeBmpRle8Pixels(
      Multimodal.bmpPixelBytes(3L, 4, 4, 24)).isEmpty)
  }

  test("PCM24: full-range sign extension, hand-computed stats, codec-seam " +
    "refusals") {
    import spark.implicits._
    val wav = Multimodal.wavPcm24Bytes(48000, Array(1, -1, 8388607, -8388608))
    val r = Multimodal.pcm24Stats(Seq((1L, wav)).toDF("doc_id", "blob")).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((4L, 8388608L, -1L)))
    assert(r.getLong(4) === (1L + 1L + 8388607L * 8388607L + 8388608L * 8388608L) / 4)
    // corpus fixtures decode with the expected count
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(10)
    val got = Multimodal.pcm24Stats(Multimodal.syntheticPcm24Audio(docs)).collect()
    assert(got.length === 10)
    got.foreach(row => assert(row.getLong(1) === 40 + row.getLong(0) % 40))
    // refusals: 16-bit PCM, G.711, truncation, garbage
    val pcm16 = Multimodal.wavPcm16Bytes(1, 8000, Array[Short](1, 2))
    assert(Multimodal.pcm24Stats(Seq((2L, pcm16)).toDF("doc_id", "blob")).count() === 0)
    val g711 = Multimodal.wavG711Bytes(7, 8000, Array.fill[Byte](8)(1))
    assert(Multimodal.pcm24Stats(Seq((3L, g711)).toDF("doc_id", "blob")).count() === 0)
    for (cut <- 0 until wav.length by 5)
      assert(Multimodal.pcm24Stats(
        Seq((4L, wav.take(cut))).toDF("doc_id", "blob")).count() === 0, s"cut=$cut")
  }

  test("IMA ADPCM: hand-walked block, nibble order, clamps, block restart, " +
    "refusals") {
    // hand-computed: pred0=100 idx0=10 (step 19), nibbles [0x3, 0x8]
    //   nib 3: diff = 2+4+9 = 15 → pred 115, idx 9
    //   nib 8: step 17, diff = 2, sign → pred 113, idx 8
    assert(Multimodal.adpcmStep(3, 100, 10) === ((115, 9)))
    assert(Multimodal.adpcmStep(8, 115, 9) === ((113, 8)))
    // clamp walls: index pinned at both ends, predictor saturates
    assert(Multimodal.adpcmStep(0, 0, 0)._2 === 0)      // idx 0 + (−1) → 0
    assert(Multimodal.adpcmStep(7, 0, 88)._2 === 88)    // idx 88 + 8 → 88
    assert(Multimodal.adpcmStep(7, 32000, 88)._1 === 32767)
    assert(Multimodal.adpcmStep(15, -32000, 88)._1 === -32768)
    // one-block WAV: nibble byte 0x83 = LOW nibble 3 first, then 8 —
    // samples [100, 115, 113]; high-first would give [100, 98, 112]
    val one = Multimodal.wavAdpcmBytes(8000, 3, Seq((100, 10, Array(0x83.toByte))))
    val r1 = Multimodal.adpcmStats(Seq((1L, one)).toDF("doc_id", "blob")).head()
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3), r1.getLong(4),
      r1.getLong(5), r1.getLong(6), r1.getLong(7)) ===
      ((1L, 3L, 115L, 328L, 11998L, 113L, 8L)))
    // two blocks: the SECOND header reseeds — final state must be the
    // second block's independent walk, not a continuation of the first
    val two = Multimodal.wavAdpcmBytes(8000, 3,
      Seq((30000, 88, Array(0x77.toByte)), (100, 10, Array(0x83.toByte))))
    val r2 = Multimodal.adpcmStats(Seq((2L, two)).toDF("doc_id", "blob")).head()
    assert((r2.getLong(1), r2.getLong(6), r2.getLong(7)) === ((2L, 113L, 8L)))
    assert(r2.getLong(2) === 6L)
    assert(r2.getLong(3) === 32767L) // first block saturated the clamp
    // corpus fixtures decode with the expected shape
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(20)
    val got = Multimodal.adpcmStats(Multimodal.syntheticAdpcmAudio(docs)).collect()
    assert(got.length === 20)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === 1 + id % 3)
      assert(r.getLong(2) === (1 + id % 3) * (1 + 2 * (16 + id % 24)))
      assert(r.getLong(7) >= 0 && r.getLong(7) <= 88)
    }
    // refusals: PCM16, G.711, truncation mid-data, inconsistent
    // samplesPerBlock, garbage — all drop, never throw
    val pcm = Multimodal.wavPcm16Bytes(1, 8000, Array[Short](1, 2, 3))
    assert(Multimodal.adpcmStats(Seq((3L, pcm)).toDF("doc_id", "blob")).count() === 0)
    val g711 = Multimodal.wavG711Bytes(7, 8000, Array.fill[Byte](8)(1))
    assert(Multimodal.adpcmStats(Seq((4L, g711)).toDF("doc_id", "blob")).count() === 0)
    for (cut <- 0 until one.length by 3)
      assert(Multimodal.adpcmStats(
        Seq((5L, one.take(cut))).toDF("doc_id", "blob")).count() === 0, s"cut=$cut")
    val badSpb = Multimodal.wavAdpcmBytes(8000, 5, Seq((0, 0, Array(0x00.toByte))))
    assert(Multimodal.adpcmStats(Seq((6L, badSpb)).toDF("doc_id", "blob")).count() === 0)
    assert(Multimodal.adpcmStats(
      Seq((7L, Array.fill[Byte](64)(0x11))).toDF("doc_id", "blob")).count() === 0)
  }

  test("EXIF walk: both byte orders, offset indirection, decodability " +
    "preserved, refusals on malformed TIFF") {
    for (big <- Seq(false, true)) {
      val jpeg = Multimodal.withExif(Multimodal.jpegBaselineBytes(9L),
        Multimodal.exifApp1(big, "ACME Corp", 6, 4032, 3024))
      assert(Multimodal.exifMeta(jpeg) ===
        Some((if (big) "MM" else "II", "ACME Corp", 6L, 4032L, 3024L)))
      // the spliced APP1 must not break pixel decode (APPn skip path)
      assert(Multimodal.decodeJpegPixels(jpeg).isDefined)
      assert(Multimodal.decodeJpegPixels(jpeg) ===
        Multimodal.decodeJpegPixels(Multimodal.jpegBaselineBytes(9L)))
    }
    // EXIF-less JPEG → None (not an error)
    assert(Multimodal.exifMeta(Multimodal.jpegBaselineBytes(3L)).isEmpty)
    // malformed: bad TIFF magic, truncations, corrupt offsets — refuse,
    // never throw. "X" fits the 4-byte value field → exercises the
    // INLINE ASCII path (the corpus fixtures exercise the offset path).
    val app1 = Multimodal.exifApp1(bigEndian = false, "X", 1, 100, 200)
    val good = Multimodal.withExif(Multimodal.jpegBaselineBytes(4L), app1)
    val badMagic = good.clone()
    // TIFF header starts after SOI(2) + marker/len(4) + "Exif\0\0"(6)
    badMagic(2 + 4 + 6 + 2) = 99.toByte
    assert(Multimodal.exifMeta(badMagic).isEmpty)
    // any truncation before the APP1 completes refuses; once the APP1
    // is whole the walk succeeds (metadata precedes the scan)
    for (cut <- 0 until (2 + app1.length) by 5)
      assert(Multimodal.exifMeta(good.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.exifMeta(good.take(2 + app1.length)) ===
      Some(("II", "X", 1L, 100L, 200L)))
    for (i <- (2 + 4 + 6) until (2 + 4 + 6 + 60)) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x7f).toByte
      Multimodal.exifMeta(mut) // must not throw, whatever it reads
    }
    assert(Multimodal.exifMeta(null).isEmpty)
    assert(Multimodal.exifMeta(Array.emptyByteArray).isEmpty)
    // corpus fixtures round-trip the analytic values
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(24)
    val got = Multimodal.exifMetadata(Multimodal.syntheticExifJpegBlobs(docs))
      .orderBy(col("doc_id")).collect()
    assert(got.length === 24)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === (if (id % 2 == 1) "MM" else "II"))
      assert(r.getString(2) === "CAM-" + (id % 10))
      assert(r.getLong(3) === 1 + id % 8)
      assert(r.getLong(4) === 16 * (1 + id % 80))
      assert(r.getLong(5) === 16 * (1 + id % 45))
    }
  }

  test("WARC walk: framed records plain + member-gzip, transport invisible, " +
    "framing lies refuse") {
    // hand-check id=4 (plain): warcinfo + 2 responses
    val plain = Multimodal.warcBytes(4L)
    val recs = Multimodal.warcRecords(plain).get
    assert(recs.map(r => (r._1, r._2, r._3, r._4)) === Vector(
      (0, "warcinfo", "", 14L),                       // 10 + 4%5
      (1, "response", "https://ex.com/4/0", 24L),     // 20 + 4%30
      (2, "response", "https://ex.com/4/1", 27L)))    // 20 + 7%30
    assert(recs(0)._5 === (0 until 14).map(j => (4 + j) % 256).sum.toLong)
    // member-gzip transport (id=5 is odd): same record structure
    val gz = Multimodal.warcRecords(Multimodal.warcBytes(5L)).get
    assert(gz.map(_._2) === Vector("warcinfo", "response", "response", "response"))
    // single-member gzip of the whole plain stream parses identically
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(plain); g.close()
    assert(Multimodal.warcRecords(bos.toByteArray) === Some(recs))
    // framing lies refuse the whole file:
    // (a) truncations never throw
    for (cut <- 0 until plain.length by 7)
      assert(Multimodal.warcRecords(plain.take(cut)).isEmpty, s"cut=$cut")
    // (b) slack between payload and separator
    val firstSep = {
      // locate first record's separator: headers end + payload
      val hdrEnd = new String(plain, "ISO-8859-1").indexOf("\r\n\r\n") + 4
      hdrEnd + 14
    }
    val slack = plain.take(firstSep) ++ Array[Byte]('x') ++ plain.drop(firstSep)
    assert(Multimodal.warcRecords(slack).isEmpty, "slack byte must refuse")
    // (c) a lying Content-Length (header says more than the payload)
    val lie = new String(plain, "ISO-8859-1")
      .replaceFirst("Content-Length: 14", "Content-Length: 15")
      .getBytes("ISO-8859-1")
    assert(Multimodal.warcRecords(lie).isEmpty)
    // (d) wrong version line / non-WARC / corrupt gzip
    assert(Multimodal.warcRecords("HTTP/1.1 200 OK\r\n\r\n".getBytes).isEmpty)
    assert(Multimodal.warcRecords(null).isEmpty)
    val badGz = bos.toByteArray.clone()
    badGz(badGz.length / 2) = (badGz(badGz.length / 2) ^ 0x7f).toByte
    Multimodal.warcRecords(badGz) // must never throw
  }

  test("MP3 walk: ID3v2.3 frames + MPEG header tables, padding/flag rules, " +
    "refusals") {
    // hand-check id=7: bIdx = 8 → 112 kbps, sIdx = 1 → 48000 Hz,
    // frame = 144000·112/48000 = 336 bytes
    assert(Multimodal.mp3Meta(Multimodal.mp3Bytes(7L)) ===
      Some(("Track 7", "Artist 7", 112, 48000, 336)))
    // whole bitrate/samplerate table sweep decodes consistently
    for (id <- 0L until 42L) {
      val got = Multimodal.mp3Meta(Multimodal.mp3Bytes(id)).get
      assert(got._1 === s"Track ${id % 100}" && got._2 === s"Artist ${id % 10}")
      assert(got._5 === 144000 * got._3 / got._4)
    }
    // tag padding: extend the tag with zero bytes after the frames —
    // walk must stop at padding, not refuse
    val base = Multimodal.mp3Bytes(3L)
    // unknown frames are skipped (insert a TXXX before the audio);
    // easiest: a fresh tag with padding built by hand is overkill —
    // instead corrupt cases:
    // bad sync byte refuses
    val tagSize = ((base(6) & 0x7f) << 21) | ((base(7) & 0x7f) << 14) |
      ((base(8) & 0x7f) << 7) | (base(9) & 0x7f)
    val audioAt = 10 + tagSize
    val badSync = base.clone(); badSync(audioAt) = 0x12
    assert(Multimodal.mp3Meta(badSync).isEmpty)
    // reserved bitrate index (0xF) refuses
    val badBr = base.clone(); badBr(audioAt + 2) = 0xf0.toByte
    assert(Multimodal.mp3Meta(badBr).isEmpty)
    // MPEG2 (version bits) refuses — we decode the MPEG1 table only
    val v2 = base.clone(); v2(audioAt + 1) = 0xf3.toByte
    assert(Multimodal.mp3Meta(v2).isEmpty)
    // truncations refuse, never throw (frame payload must be complete)
    for (cut <- 0 until base.length by 11)
      assert(Multimodal.mp3Meta(base.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.mp3Meta(null).isEmpty)
    assert(Multimodal.mp3Meta(Multimodal.zipBytes(3L)).isEmpty)
  }

  test("MP3 all-frames census: CBR vs VBR duration, mode tie-break, tag " +
    "matrix, strict hop framing refuses slack and rate changes") {
    // fixture hand-checks across the tag × VBR × padding matrix
    for (id <- 0L until 40L) {
      val got = Multimodal.mp3FrameCensus(Multimodal.mp3VbrBytes(id))
      assert(got.isDefined, s"id=$id")
      val (n, hz, kMin, kMax, kMode, nPad, aBytes) = got.get
      val expN = (3 + id % 6).toInt
      val expHz = Array(44100, 48000, 32000)((id % 3).toInt)
      val table = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
      val ks = (0 until expN).map { f =>
        if (id % 2 == 0) table((1 + id % 14).toInt)
        else table((1 + (id + 3 * f) % 14).toInt)
      }
      val pads = (0 until expN).map(f => ((id + f) % 2).toInt)
      assert((n, hz) === ((expN, expHz)), s"id=$id")
      assert((kMin, kMax) === ((ks.min, ks.max)), s"id=$id")
      // mode: max count, tie to lower kbps
      val expMode = ks.groupBy(identity).toSeq
        .sortBy { case (k, v) => (-v.size, k) }.head._1
      assert(kMode === expMode, s"id=$id")
      assert(nPad === pads.sum, s"id=$id")
      assert(aBytes === ks.zip(pads).map { case (k, p) =>
        (144000 * k / expHz + p).toLong }.sum, s"id=$id")
      // CBR files are never VBR-flagged, odd ids almost always are
      if (id % 2 == 0) assert(kMin === kMax, s"id=$id")
    }
    // the first-header walk would misreport this VBR file's rate; the
    // census sees all frames (the reason this operator exists)
    val vbr = Multimodal.mp3FrameCensus(Multimodal.mp3VbrBytes(1L)).get
    assert(vbr._3 !== vbr._4, "id=1 is VBR by construction")
    // strict framing: one slack byte after the last frame refuses
    val good = Multimodal.mp3VbrBytes(2L)
    assert(Multimodal.mp3FrameCensus(good :+ 0.toByte).isEmpty)
    // truncation fuzz never throws
    for (cut <- 0 until good.length by 7)
      assert(Multimodal.mp3FrameCensus(good.take(cut)).isEmpty, s"cut=$cut")
    // a sample-rate change mid-stream refuses: hand-build two frames
    def frame(bIdx: Int, sIdx: Int): Array[Byte] = {
      val table = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
      val hz = Array(44100, 48000, 32000)(sIdx)
      val fb = 144000 * table(bIdx) / hz
      val a = new Array[Byte](fb)
      a(0) = 0xff.toByte; a(1) = 0xfb.toByte
      a(2) = ((bIdx << 4) | (sIdx << 2)).toByte
      a
    }
    assert(Multimodal.mp3FrameCensus(frame(5, 0) ++ frame(5, 1)).isEmpty,
      "sample-rate change must refuse")
    assert(Multimodal.mp3FrameCensus(frame(5, 0) ++ frame(7, 0)).isDefined,
      "bitrate change is just VBR")
    // trailing ID3v1 must be exactly 128 bytes at the very end
    val v1short = good ++ "TAG".getBytes("US-ASCII") ++ new Array[Byte](100)
    assert(Multimodal.mp3FrameCensus(v1short).isEmpty)
    assert(Multimodal.mp3FrameCensus(null).isEmpty)
    assert(Multimodal.mp3FrameCensus(Multimodal.zipBytes(3L)).isEmpty)
    // frame-level DataFrame op drops non-MP3 rows
    import spark.implicits._
    val mixed = Seq((1L, Multimodal.mp3VbrBytes(1L)), (2L, Multimodal.zipBytes(2L)))
      .toDF("doc_id", "blob")
    assert(Multimodal.mp3FrameInventory(mixed).count() === 1)
  }

  test("PDF walk: fixture hand-checks, filter transparency, escapes, " +
    "lying xref/Length/Count refuse, truncation fuzz") {
    import spark.implicits._
    // hand-check: id=6 (even: plain streams, %3=0: escape chunk), 3 pages
    val even = Multimodal.pdfBytes(6L)
    val metaRows = Multimodal.pdfMetadata(Seq((6L, even)).toDF("doc_id", "blob"))
      .collect()
    assert(metaRows.length === 1)
    val m6 = metaRows.head
    assert((m6.getString(1), m6.getLong(2), m6.getLong(3), m6.getString(4)) ===
      (("1.4", 3L, 10L, "graft 6")))
    val t6 = Multimodal.pdfTextPages(Seq((6L, even)).toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(t6(0L) === "Doc 6 page 0 body 18 and tail (6) \\ done.",
      "escape family must round-trip")
    assert(t6(2L) === "Doc 6 page 2 body 20 and tail (1) \\ done.")
    // filter transparency: odd id (FlateDecode) extracts by the same rule
    val odd = Multimodal.pdfBytes(7L)
    assert(new String(odd, "ISO-8859-1").contains("/Filter /FlateDecode"))
    val t7 = Multimodal.pdfTextPages(Seq((7L, odd)).toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(t7(0L) === "Doc 7 page 0 body 21 and tail 0 done.")
    // router: '%PDF' magic dispatches, verified, page-grain units
    assert(Multimodal.routeBlob(even) === Some(("pdf", true, 3L)))
    // lying xref: corrupt the first in-use entry's offset digits
    val s0 = new String(even, "ISO-8859-1")
    val lied = even.clone()
    val firstEntry = s0.indexOf("0000000000 65535 f") + 20
    lied(firstEntry + 9) = '9'
    assert(Multimodal.pdfMetadata(Seq((1L, lied)).toDF("doc_id", "blob"))
      .count() === 0, "mis-pointed xref must refuse")
    // lying /Length on a content stream refuses
    val lenAt = s0.indexOf("/Length ")
    val lenLie = even.clone()
    lenLie(lenAt + 8) = (lenLie(lenAt + 8) + 1).toByte
    assert(Multimodal.pdfTextPages(Seq((2L, lenLie)).toDF("doc_id", "blob"))
      .count() === 0)
    // lying /Count refuses (the tree must agree with its leaves)
    val cntAt = s0.indexOf("/Count 3")
    val cntLie = even.clone()
    cntLie(cntAt + 7) = '2'
    assert(Multimodal.pdfMetadata(Seq((3L, cntLie)).toDF("doc_id", "blob"))
      .count() === 0)
    // encryption marker refuses loudly
    val enc = new String(even, "ISO-8859-1")
      .replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
    assert(Multimodal.pdfWalk(enc.getBytes("ISO-8859-1")).isEmpty)
    // truncation fuzz: any cut loses the %%EOF sentinel → refuses
    for (cut <- 0 until even.length - 1 by 17)
      assert(Multimodal.pdfWalk(even.take(cut)).isEmpty, s"cut=$cut")
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 200) {
      val mut = even.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      Multimodal.pdfWalk(mut) // must never throw
    }
    assert(Multimodal.pdfWalk(null).isEmpty)
    assert(Multimodal.pdfWalk(Multimodal.zipBytes(4L)).isEmpty)
  }

  test("PDF incremental saves: newest xref section wins, freed numbers " +
    "never resurrect, a /Prev loop refuses") {
    import spark.implicits._
    val inc = Multimodal.pdfIncrementalBytes(6L)
    val meta = Multimodal.pdfMetadata(Seq((6L, inc)).toDF("doc_id", "blob")).head()
    assert(meta.getString(4) === "graft-v2 6", "updated /Info must win")
    assert((meta.getLong(2), meta.getLong(3)) === ((3L, 10L)),
      "overrides must not inflate the object census")
    val texts = Multimodal.pdfTextPages(Seq((6L, inc)).toDF("doc_id", "blob"))
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(texts(0L) === "UPDATED page 0 of doc 6 rev 1 .",
      "replaced content stream must win")
    assert(texts(1L) === "Doc 6 page 1 body 19 and tail (0) \\ done.",
      "untouched pages read the original")
    // freeing the /Info object in a THIRD save: the old in-use entry
    // must not resurrect — producer reads back empty
    val s1 = new String(inc, "ISO-8859-1")
    val prevOff = s1.lastIndexOf("startxref")
    val prev2 = s1.substring(prevOff + 9).trim.takeWhile(_.isDigit).toInt
    val free = s1 +
      "xref\n0 1\n0000000000 65535 f \n4 1\n0000000000 00001 f \n" +
      s"trailer\n<< /Size 11 /Root 1 0 R /Info 4 0 R /Prev $prev2 >>\n" +
      s"startxref\n${inc.length}\n%%EOF\n"
    val freed = Multimodal.pdfMetadata(
      Seq((7L, free.getBytes("ISO-8859-1"))).toDF("doc_id", "blob")).head()
    assert(freed.getString(4) === "", "freed number must not resurrect")
    // a /Prev loop (the newest section pointing at ITSELF) refuses,
    // never hangs: the incremental file's own last xref offset is the
    // startxref value
    val selfOff = s1.substring(s1.lastIndexOf("startxref") + 9).trim
      .takeWhile(_.isDigit)
    val loop = s1.replaceFirst("/Prev \\d+", "/Prev " + selfOff)
    assert(Multimodal.pdfWalk(loop.getBytes("ISO-8859-1")).isEmpty,
      "xref self-loop must refuse via the section cap")
  }

  test("ZIP walk: JDK two-way differential, CRC verification refuses lies, " +
    "truncation fuzz") {
    // fixture hand-check: id=5 → 2 entries
    val fx = Multimodal.zipEntries(Multimodal.zipBytes(5L)).get
    assert(fx.map(e => (e._1, e._2, e._3, e._4)) ===
      Vector((0, "doc_5_0.txt", 0, 15L), (1, "doc_5_1.json", 8, 16L)))
    assert(fx(0)._5 === (0 until 15).map(j => (5 + j) % 256).sum.toLong)
    // JDK-written zip (descriptors, real deflate) read by OUR walker
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    val p1 = Array.tabulate[Byte](100)(j => (j * 7).toByte)
    val e1 = new java.util.zip.ZipEntry("a/stored.bin")
    e1.setMethod(java.util.zip.ZipEntry.STORED)
    e1.setSize(100); e1.setCompressedSize(100)
    val c1 = new java.util.zip.CRC32(); c1.update(p1); e1.setCrc(c1.getValue)
    zos.putNextEntry(e1); zos.write(p1); zos.closeEntry()
    val p2 = ("deflate me " * 30).getBytes("UTF-8")
    zos.putNextEntry(new java.util.zip.ZipEntry("b/deflated.txt"))
    zos.write(p2); zos.closeEntry()
    zos.close()
    val jdkZip = bos.toByteArray
    val got = Multimodal.zipEntries(jdkZip).get
    assert(got.map(e => (e._2, e._3, e._4)) ===
      Vector(("a/stored.bin", 0, 100L), ("b/deflated.txt", 8, p2.length.toLong)))
    assert(got(0)._5 === p1.map(_ & 0xff).map(_.toLong).sum)
    assert(got(1)._5 === p2.map(_ & 0xff).map(_.toLong).sum)
    // our zip read by the JDK (the reverse differential)
    val zf = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Multimodal.zipBytes(9L)))
    var names = Vector.empty[String]
    var ze = zf.getNextEntry
    while (ze != null) { names :+= ze.getName; ze = zf.getNextEntry }
    assert(names === Multimodal.zipEntries(Multimodal.zipBytes(9L)).get.map(_._2))
    // CRC lie: flip one payload byte of the first STORED entry → the
    // whole archive refuses (first local header: 30 + name bytes)
    val lie = Multimodal.zipBytes(5L)
    val dataAt = 30 + "doc_5_0.txt".length
    lie(dataAt) = (lie(dataAt) ^ 0x55).toByte
    assert(Multimodal.zipEntries(lie).isEmpty, "corrupted payload must refuse")
    // truncation fuzz: never throws, always refuses
    val good = Multimodal.zipBytes(7L)
    for (cut <- 0 until good.length by 3)
      assert(Multimodal.zipEntries(good.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.zipEntries(null).isEmpty)
    assert(Multimodal.zipEntries(Multimodal.jpegBaselineBytes(2L)).isEmpty)
  }

  test("ZIP hardening: overlapping entries, aggregate decode budget, and " +
    "unterminated deflate streams all refuse") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-rolled minimal archive builder: local records, then a CD
    // whose (lho, csize, usize, crc) we fully control, then EOCD
    def build(locals: Array[Byte],
              cd: Seq[(String, Int, Long, Long, Long, Int)]): Array[Byte] = {
      val cdBuf = ByteBuffer.allocate(cd.map(46 + _._1.length).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      cd.foreach { case (name, method, crc, csize, usize, lho) =>
        cdBuf.putInt(0x02014b50).putShort(20).putShort(20).putShort(0)
          .putShort(method.toShort).putShort(0).putShort(0)
          .putInt(crc.toInt).putInt(csize.toInt).putInt(usize.toInt)
          .putShort(name.length.toShort).putShort(0).putShort(0)
          .putShort(0).putShort(0).putInt(0).putInt(lho)
        cdBuf.put(name.getBytes("UTF-8"))
      }
      val cdBytes = cdBuf.array()
      val eocd = ByteBuffer.allocate(22).order(ByteOrder.LITTLE_ENDIAN)
      eocd.putInt(0x06054b50).putShort(0).putShort(0)
        .putShort(cd.size.toShort).putShort(cd.size.toShort)
        .putInt(cdBytes.length).putInt(locals.length).putShort(0)
      locals ++ cdBytes ++ eocd.array()
    }
    def localStored(name: String, payload: Array[Byte]): Array[Byte] = {
      val c = new java.util.zip.CRC32(); c.update(payload)
      val b = ByteBuffer.allocate(30 + name.length + payload.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0x04034b50).putShort(20).putShort(0).putShort(0)
        .putShort(0).putShort(0).putInt(c.getValue.toInt)
        .putInt(payload.length).putInt(payload.length)
        .putShort(name.length.toShort).putShort(0)
      b.put(name.getBytes("UTF-8")).put(payload)
      b.array()
    }
    val pay = "hello".getBytes("UTF-8")
    val crc = { val c = new java.util.zip.CRC32(); c.update(pay); c.getValue }
    // sanity: a well-formed single-entry archive still parses
    val goodOne = build(localStored("a", pay),
      Seq(("a", 0, crc, 5L, 5L, 0)))
    assert(Multimodal.zipEntries(goodOne).get.map(_._2) === Vector("a"))
    // two well-formed entries back to back still parse (disjoint spans)
    val l1 = localStored("a", pay)
    val twoGood = build(l1 ++ localStored("b", pay),
      Seq(("a", 0, crc, 5L, 5L, 0), ("b", 0, crc, 5L, 5L, l1.length)))
    assert(Multimodal.zipEntries(twoGood).get.map(_._2) === Vector("a", "b"))
    // (a) overlap: two CD entries sharing one local record — the
    // zip-bomb shape (65535 entries × one high-ratio stream) — refuses
    val overlap = build(localStored("a", pay),
      Seq(("a", 0, crc, 5L, 5L, 0), ("b", 0, crc, 5L, 5L, 0)))
    assert(Multimodal.zipEntries(overlap).isEmpty, "shared local record")
    // partial overlap (second lho inside the first record) also refuses
    val partial = build(localStored("a", pay) ++ localStored("b", pay),
      Seq(("a", 0, crc, 5L, 5L, 0), ("b", 0, crc, 5L, 5L, 10)))
    assert(Multimodal.zipEntries(partial).isEmpty, "partial overlap")
    // (b) aggregate budget: entry 2's CLAIMED usize pushes the archive
    // past the 2^26 decoded-bytes budget → refused BEFORE any inflate
    val bomb = build(localStored("a", pay) ++ localStored("b", pay),
      Seq(("a", 0, crc, 5L, 5L, 0),
          ("b", 0, crc, 5L, 1L << 26, l1.length)))
    assert(Multimodal.zipEntries(bomb).isEmpty, "aggregate budget")
    // (c) a deflate stream that yields exactly usize bytes but never
    // reaches the final-block terminator (SYNC_FLUSH, no finish) must
    // refuse even though size and CRC both match
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(pay)
    val obuf = new Array[Byte](256)
    val m = d.deflate(obuf, 0, obuf.length, java.util.zip.Deflater.SYNC_FLUSH)
    d.end()
    val unterminated = java.util.Arrays.copyOf(obuf, m)
    // verify the probe: it must inflate to the full payload w/o finishing
    val inf0 = new java.util.zip.Inflater(true)
    inf0.setInput(unterminated)
    val chk = new Array[Byte](16)
    assert(inf0.inflate(chk) === 5 && !inf0.finished()); inf0.end()
    val lb = ByteBuffer.allocate(30 + 1 + unterminated.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    lb.putInt(0x04034b50).putShort(20).putShort(0).putShort(8)
      .putShort(0).putShort(0).putInt(crc.toInt)
      .putInt(unterminated.length).putInt(5).putShort(1).putShort(0)
    lb.put("a".getBytes("UTF-8")).put(unterminated)
    val trunc = build(lb.array(),
      Seq(("a", 8, crc, unterminated.length.toLong, 5L, 0)))
    assert(Multimodal.zipEntries(trunc).isEmpty, "unterminated deflate")
    // control: the same payload PROPERLY finished parses fine
    val d2 = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d2.setInput(pay); d2.finish()
    val m2 = d2.deflate(obuf); d2.end()
    val finished = java.util.Arrays.copyOf(obuf, m2)
    val lb2 = ByteBuffer.allocate(30 + 1 + finished.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    lb2.putInt(0x04034b50).putShort(20).putShort(0).putShort(8)
      .putShort(0).putShort(0).putInt(crc.toInt)
      .putInt(finished.length).putInt(5).putShort(1).putShort(0)
    lb2.put("a".getBytes("UTF-8")).put(finished)
    val fin = build(lb2.array(),
      Seq(("a", 8, crc, finished.length.toLong, 5L, 0)))
    assert(Multimodal.zipEntries(fin).get.map(e => (e._2, e._4)) ===
      Vector(("a", 5L)))
  }

  test("ADPCM strict framing: a data chunk that is not a whole number of " +
    "blocks refuses instead of decoding the prefix") {
    val good = Multimodal.wavAdpcmBytes(8000, 3, Seq((100, 10, Array(0x83.toByte))))
    // find the data chunk and shrink its declared size by one byte —
    // now len % blockAlign != 0 (blockAlign = 5)
    val bad = good.clone()
    var dataAt = -1
    for (i <- 0 until bad.length - 4)
      if (dataAt < 0 && bad(i) == 'd' && bad(i + 1) == 'a' &&
          bad(i + 2) == 't' && bad(i + 3) == 'a') dataAt = i
    assert(dataAt > 0)
    val oldSize = java.nio.ByteBuffer.wrap(bad, dataAt + 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.nio.ByteBuffer.wrap(bad, dataAt + 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(oldSize - 1)
    assert(Multimodal.adpcmStats(Seq((1L, good)).toDF("doc_id", "blob")).count() === 1)
    assert(Multimodal.adpcmStats(Seq((1L, bad)).toDF("doc_id", "blob")).count() === 0,
      "partial trailing block must refuse the whole payload")
  }

  test("WARC HTTP bodies: transport × content-encoding matrix, decoded " +
    "body equals the page, lying envelopes refuse") {
    import graft.operators.WebExtract
    // ids 0..5 cover (identity|gzip|deflate) × (plain|gzip transport)
    val docs = (0L to 5L).toDF("doc_id")
    val rows = Multimodal.warcHttpBodies(Multimodal.syntheticWebWarcBlobs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getString(4), r.getString(5), r.getLong(6),
          r.getLong(7), r.getString(8)))).toMap
    assert(rows.size === 6)
    for (id <- 0L to 5L) {
      val (status, ctype, cenc, nRaw, nBody, body) = rows(id)
      val html = WebExtract.htmlFor(id)
      assert(status === 200L && ctype === "text/html")
      assert(cenc === Seq("identity", "gzip", "deflate")((id % 3).toInt))
      assert(body === html, s"id=$id")
      assert(nBody === html.getBytes("UTF-8").length.toLong)
      if (cenc == "identity") assert(nRaw === nBody)
      else assert(nRaw < nBody, "compressed body should be smaller here")
    }
    // refusal fuzz on the PAYLOAD: flip the inner HTTP Content-Length
    // of an identity-body doc → record drops (plain transport: patch
    // the raw bytes directly)
    val plain = Multimodal.webWarcBytes(0L)
    val s0 = new String(plain, "ISO-8859-1")
    val clAt = s0.indexOf("Content-Length: ", s0.indexOf("HTTP/1.1"))
    val lied = s0.substring(0, clAt + 16) + "9" + s0.substring(clAt + 16)
    // (warc outer length now disagrees too — framing refuses whole file)
    assert(Multimodal.warcHttpBodies(
      Seq((0L, lied.getBytes("ISO-8859-1"))).toDF("doc_id", "blob")).count() === 0)
    // unknown content-coding refuses the record (not pass-through) —
    // asserted on a hand-built single-record WARC with correct framing
    val httpBr = ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n" +
      "Content-Length: 5\r\n\r\nhello").getBytes("UTF-8")
    def warcOf(payload: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
        payload ++ "\r\n\r\n".getBytes("UTF-8")
    assert(Multimodal.warcHttpBodies(
      Seq((1L, warcOf(httpBr))).toDF("doc_id", "blob")).count() === 0)
    // inner Content-Length lie with CORRECT outer framing
    val httpLie = ("HTTP/1.1 200 OK\r\nContent-Length: 6\r\n\r\nhello")
      .getBytes("UTF-8")
    assert(Multimodal.warcHttpBodies(
      Seq((2L, warcOf(httpLie))).toDF("doc_id", "blob")).count() === 0)
    // truncated gzip body (complete outer framing) refuses
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("hello world hello world".getBytes("UTF-8")); gz.close()
    val gzBytes = bos.toByteArray
    val cut = java.util.Arrays.copyOf(gzBytes, gzBytes.length - 3)
    val httpCut = (s"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      s"Content-Length: ${cut.length}\r\n\r\n").getBytes("UTF-8") ++ cut
    assert(Multimodal.warcHttpBodies(
      Seq((3L, warcOf(httpCut))).toDF("doc_id", "blob")).count() === 0)
    // control: the untruncated gzip body decodes
    val httpOk = (s"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      s"Content-Length: ${gzBytes.length}\r\n\r\n").getBytes("UTF-8") ++ gzBytes
    val ok = Multimodal.warcHttpBodies(
      Seq((4L, warcOf(httpOk))).toDF("doc_id", "blob")).collect()
    assert(ok.length === 1 && ok(0).getString(8) === "hello world hello world")
    // raw-deflate body (wild servers) also decodes
    val d = new java.util.zip.Deflater(6, true)
    d.setInput("raw deflate body".getBytes("UTF-8")); d.finish()
    val rb = new Array[Byte](256)
    val rn = d.deflate(rb); d.end()
    val httpRaw = (s"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n" +
      s"Content-Length: $rn\r\n\r\n").getBytes("UTF-8") ++ rb.take(rn)
    val okRaw = Multimodal.warcHttpBodies(
      Seq((5L, warcOf(httpRaw))).toDF("doc_id", "blob")).collect()
    assert(okRaw.length === 1 && okRaw(0).getString(8) === "raw deflate body")
    // warcinfo records never surface; garbage payload drops record only
    val httpJunk = "not http at all".getBytes("UTF-8")
    assert(Multimodal.warcHttpBodies(
      Seq((6L, warcOf(httpJunk))).toDF("doc_id", "blob")).count() === 0)
  }

  test("baseline TIFF: both byte orders, multi-strip offset arrays, ImageIO " +
    "differential, refusals") {
    for (id <- 0L until 30L) {
      val (w, h) = ((1 + id % 12).toInt, (1 + id % 8).toInt)
      val ch = if (id % 3 == 0) 1 else 3
      val tiff = Multimodal.tiffBytes(id, w, h, ch, id % 2 == 1, (1 + id % 3).toInt)
      val got = Multimodal.decodeTiffPixels(tiff)
      assert(got.isDefined, s"id=$id")
      val (gw, gh, gch, np, sr, sg, sb) = got.get
      assert((gw, gh, gch, np) === ((w, h, ch, w.toLong * h)))
      def v(x: Int, r: Int, k: Int): Long = (id + 2L * x + 3L * r + 5L * k) % 256
      val exp = Array.tabulate(ch)(k =>
        (for (x <- 0 until w; r <- 0 until h) yield v(x, r, k)).sum)
      assert(sr === exp(0), s"id=$id")
      if (ch == 3) assert((sg, sb) === ((exp(1), exp(2))), s"id=$id")
      // independent referee: the JDK's TIFF plugin (Java 9+)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tiff))
      assert(img != null, s"ImageIO must accept id=$id")
      assert(img.getWidth === w && img.getHeight === h)
      val raster = img.getRaster
      for (k <- 0 until math.min(raster.getNumBands, ch)) {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += raster.getSample(x, y, k)
        assert(s === exp(k), s"ImageIO band $k id=$id")
      }
    }
    // refusals: truncation fuzz never throws; compressed/16-bit/planar
    // variants refuse via the tag checks; EXIF's APP1 TIFF is not a file
    val good = Multimodal.tiffBytes(5L, 6, 5, 3, bigEndian = false, rowsPerStrip = 2)
    for (cut <- 0 until good.length by 5)
      assert(Multimodal.decodeTiffPixels(good.take(cut)).isEmpty, s"cut=$cut")
    for (i <- 0 until math.min(good.length, 140)) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x3c).toByte
      Multimodal.decodeTiffPixels(mut) // must never throw
    }
    assert(Multimodal.decodeTiffPixels(null).isEmpty)
    assert(Multimodal.decodeTiffPixels(Multimodal.jpegBaselineBytes(3L)).isEmpty)
    // unsupported compression refuses: entry 4 (tag 259) value field —
    // header 8 + count 2 + 3 entries of 12 + tag/type/count 8 = byte 54
    val comp = good.clone()
    assert(((comp(54) & 0xff) | ((comp(55) & 0xff) << 8)) === 1, "layout sanity")
    comp(54) = 7.toByte // JPEG-in-TIFF: out of scope
    assert(Multimodal.decodeTiffPixels(comp).isEmpty, "unknown codec must refuse")
  }

  test("compressed TIFF: PackBits + early-change LZW + Predictor 2, ImageIO " +
    "differential, LZW width growth and Clear boundary, refusal fuzz") {
    // fixture matrix (30 ids: all of comp × predictor × gray/rgb × endian)
    for (id <- 0L until 30L) {
      val (w, h) = ((1 + id % 12).toInt, (1 + id % 8).toInt)
      val ch = if (id % 5 == 0) 1 else 3
      val comp = if (id % 3 == 0) 32773 else 5
      val pred = if (id % 3 == 2) 2 else 1
      val tiff = Multimodal.tiffCompressedBytes(id, w, h, ch, id % 2 == 1,
        (1 + id % 4).toInt, comp, pred)
      val got = Multimodal.decodeTiffPixels(tiff)
      assert(got.isDefined, s"id=$id")
      val (gw, gh, gch, np, sr, sg, sb) = got.get
      def v(x: Int, r: Int, k: Int): Long = (id + 2L * x + 3L * r + 5L * k) % 256
      val exp = Array.tabulate(ch)(k =>
        (for (x <- 0 until w; r <- 0 until h) yield v(x, r, k)).sum)
      assert((gw, gh, gch, np) === ((w, h, ch, w.toLong * h)), s"id=$id")
      assert(sr === exp(0), s"id=$id")
      if (ch == 3) assert((sg, sb) === ((exp(1), exp(2))), s"id=$id")
      // independent referee: the JDK TIFF plugin decodes PackBits, LZW
      // and the predictor — band sums must agree
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tiff))
      assert(img != null, s"ImageIO must accept id=$id comp=$comp pred=$pred")
      val raster = img.getRaster
      for (k <- 0 until math.min(raster.getNumBands, ch)) {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += raster.getSample(x, y, k)
        assert(s === exp(k), s"ImageIO band $k id=$id comp=$comp pred=$pred")
      }
    }
    // LZW code-width growth (9→10→11→12) and the 4094 Clear boundary:
    // a 300×200 RGB image (180k high-entropy samples) pushes the table
    // through every width and past the reset; ImageIO must agree
    val big = Multimodal.tiffCompressedBytes(7L, 300, 200, 3,
      bigEndian = false, rowsPerStrip = 200, compression = 5, predictor = 1)
    val gotBig = Multimodal.decodeTiffPixels(big)
    assert(gotBig.isDefined)
    val imgBig = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(big))
    assert(imgBig != null)
    for (k <- 0 until 3) {
      var s = 0L
      for (y <- 0 until 200; x <- 0 until 300) s += imgBig.getRaster.getSample(x, y, k)
      assert(s === (k match {
        case 0 => gotBig.get._5
        case 1 => gotBig.get._6
        case _ => gotBig.get._7
      }), s"big LZW band $k")
    }
    // codec-level twins: encode→decode round-trip at awkward sizes
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 40) {
      val n = rnd.nextInt(600)
      val data = Array.fill[Byte](n)(
        if (rnd.nextBoolean()) rnd.nextInt(4).toByte else rnd.nextInt(256).toByte)
      val lzw = Multimodal.tiffLzwEncode(data)
      assert(Multimodal.tiffLzwDecode(lzw, 0, lzw.length, n)
        .exists(java.util.Arrays.equals(_, data)), s"lzw trial=$trial n=$n")
      val pb = Multimodal.packbitsEncode(data)
      assert(Multimodal.packbitsDecode(pb, 0, pb.length, n)
        .exists(java.util.Arrays.equals(_, data)), s"pb trial=$trial n=$n")
      // strictness: wrong expected length refuses both codecs
      if (n > 0) {
        assert(Multimodal.tiffLzwDecode(lzw, 0, lzw.length, n - 1).isEmpty)
        assert(Multimodal.packbitsDecode(pb, 0, pb.length, n + 1).isEmpty)
        // truncated LZW stream (no EOI) refuses
        assert(Multimodal.tiffLzwDecode(lzw, 0, lzw.length - 1, n).isEmpty ||
          n == 0)
      }
    }
    // REVERSE differential: a TIFF written by the JDK's LZW COMPRESSOR
    // (multi-strip, its own strip geometry and extra tags) must decode
    // to the same channel sums through OUR walk
    val jimg = new java.awt.image.BufferedImage(120, 90,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var jsum = Array(0L, 0L, 0L)
    for (y <- 0 until 90; x <- 0 until 120) {
      val r = ((7 + 2 * x + 3 * y) % 256)
      val g = ((7 + 2 * x + 3 * y + 5) % 256)
      val bb = ((7 + 2 * x + 3 * y + 10) % 256)
      jsum = Array(jsum(0) + r, jsum(1) + g, jsum(2) + bb)
      jimg.setRGB(x, y, (r << 16) | (g << 8) | bb)
    }
    val jwr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val jp = jwr.getDefaultWriteParam
    jp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    jp.setCompressionType("LZW")
    val jbos = new java.io.ByteArrayOutputStream()
    val jos = javax.imageio.ImageIO.createImageOutputStream(jbos)
    jwr.setOutput(jos)
    jwr.write(null, new javax.imageio.IIOImage(jimg, null, null), jp)
    jos.close()
    val jdkTiff = jbos.toByteArray
    val jdkGot = Multimodal.decodeTiffPixels(jdkTiff)
    assert(jdkGot.isDefined, "must read the JDK compressor's output")
    assert((jdkGot.get._1, jdkGot.get._2, jdkGot.get._3) === ((120, 90, 3)))
    assert((jdkGot.get._5, jdkGot.get._6, jdkGot.get._7) ===
      ((jsum(0), jsum(1), jsum(2))), "JDK-written LZW strips, our decode")
    // whole-file truncation/corruption fuzz never throws
    val fz = Multimodal.tiffCompressedBytes(11L, 9, 6, 3, bigEndian = true,
      rowsPerStrip = 2, compression = 5, predictor = 2)
    for (cut <- 0 until fz.length by 4)
      assert(Multimodal.decodeTiffPixels(fz.take(cut)).isEmpty, s"cut=$cut")
    for (i <- 0 until fz.length) {
      val mut = fz.clone(); mut(i) = (mut(i) ^ 0x5a).toByte
      Multimodal.decodeTiffPixels(mut) // must never throw
    }
  }

  test("16-bit PNG: big-endian sample sums vs ImageIO, filters at the wide " +
    "stride, 16-bit indexed refuses") {
    for (id <- 0L until 30L) {
      val (w, h) = ((1 + id % 10).toInt, (1 + id % 7).toInt)
      val colorType = Array(0, 2, 6)((id % 3).toInt)
      val png = Multimodal.pngPixel16Bytes(id, w, h, colorType)
      val got = Multimodal.decodePngPixels(png)
      assert(got.isDefined, s"id=$id")
      val (gw, gh, ch, np, sr, sg, sb, sa) = got.get
      assert((gw, gh, np) === ((w, h, w.toLong * h)))
      // analytic expectation
      def v(x: Int, r: Int, k: Int): Long =
        (id * 131 + 257L * x + 509L * r + 769L * k) % 65536
      val nch = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
      val exp = Array.tabulate(nch)(k =>
        (for (x <- 0 until w; r <- 0 until h) yield v(x, r, k)).sum)
      assert(ch === nch)
      assert(sr === exp(0), s"id=$id sum_r")
      if (nch >= 3) { assert(sg === exp(1)); assert(sb === exp(2)) }
      if (nch == 4) assert(sa === exp(3))
      // independent referee: ImageIO reads 16-bit rasters natively
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO must accept id=$id")
      val raster = img.getRaster
      for (k <- 0 until math.min(raster.getNumBands, nch)) {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += raster.getSample(x, y, k)
        assert(s === exp(k), s"ImageIO band $k id=$id")
      }
    }
    // 16-bit indexed is out of spec → refuse (flip depth on a palette PNG)
    val pal = Multimodal.pngPalettePixelBytes(3L, 5, 4)
    assert(Multimodal.decodePngPixels(pal).isDefined)
    val bad = pal.clone(); bad(24) = 16.toByte
    assert(Multimodal.decodePngPixels(bad).isEmpty, "16-bit indexed must refuse")
    // truncations refuse (same trailer leniency as the 8-bit paths)
    val good = Multimodal.pngPixel16Bytes(4L, 6, 5, 2)
    for (cut <- 0 until good.length - 12 by 9)
      assert(Multimodal.decodePngPixels(good.take(cut)).isEmpty, s"cut=$cut")
  }

  test("animated GIF frames: block-grammar walk, per-frame LZW + geometry + " +
    "delays, ImageIO differential, refusals") {
    // hand-checked 2-frame animation: id=5, canvas 6×4
    //   frame 0: full canvas, delay 3 + 5%50 = 8
    //   frame 1: w = 1+(5+1)%6 = 1, h = 1+(5+2)%4 = 4,
    //            x = (5+3)%(6-1+1) = 2, y = (5+5)%(4-4+1) = 0, delay 3+12 = 15
    val two = Multimodal.animatedGifBytes(5L, 6, 4, 2)
    val got = Multimodal.decodeGifFrames(two).get
    assert(got._1 === 6 && got._2 === 4)
    val fs = got._3
    assert(fs.map(f => (f._1, f._2, f._3, f._4, f._5, f._6)) ===
      Vector((0, 0, 0, 6, 4, 8), (1, 2, 0, 1, 4, 15)))
    // plain single-frame GIF87a (no GCE): 1 frame, delay 0, sums match
    // the single-image decoder
    val plain = Multimodal.gifBytes(9L, 5, 3)
    val pf = Multimodal.decodeGifFrames(plain).get
    val single = Multimodal.decodeGifPixels(plain).get
    assert(pf._3.length === 1)
    assert((pf._3.head._6, pf._3.head._8, pf._3.head._9, pf._3.head._10) ===
      ((0, single._5, single._6, single._7)))
    // ImageIO differential across fixture ids: frame count, dims, sums
    for (id <- 0L until 24L) {
      val bytes = Multimodal.animatedGifBytes(id, (2 + id % 9).toInt,
        (2 + id % 6).toInt, (1 + id % 4).toInt)
      val frames = Multimodal.decodeGifFrames(bytes).get._3
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      assert(reader.getNumImages(true) === frames.length, s"frame count id=$id")
      for (fi <- frames.indices) {
        val img = reader.read(fi)
        val f = frames(fi)
        assert((img.getWidth, img.getHeight) === ((f._4, f._5)), s"dims id=$id f=$fi")
        var (er, eg, eb) = (0L, 0L, 0L)
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val rgb = img.getRGB(x, y)
          er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
        }
        assert((er, eg, eb) === ((f._8, f._9, f._10)), s"sums id=$id f=$fi")
      }
      reader.dispose(); iis.close()
    }
    // refusals: truncation never throws; a frame escaping the canvas
    // refuses; an unknown block type refuses
    for (cut <- 0 until two.length by 3)
      assert(Multimodal.decodeGifFrames(two.take(cut)).isEmpty, s"cut=$cut")
    val esc = two.clone()
    // first image descriptor starts after header(13) + GCT(48) +
    // NETSCAPE ext(19) + GCE(8); widen its width beyond the canvas
    val desc = 13 + 48 + 19 + 8
    assert((esc(desc) & 0xff) === 0x2c, "fixture layout sanity")
    esc(desc + 5) = 99.toByte
    assert(Multimodal.decodeGifFrames(esc).isEmpty, "frame escaping canvas")
    val junk = two.clone()
    junk(desc) = 0x55.toByte
    assert(Multimodal.decodeGifFrames(junk).isEmpty, "unknown block type")
  }

  test("Adam7 interlaced PNG: decode ≡ sequential twin on every dim/color " +
    "combo, ImageIO differential, refusals") {
    // the seven passes partition every pixel once — sums must match
    // the sequential encoding exactly, including edge dims where
    // several passes are EMPTY (w or h ≤ 4) and the 1×1 corner where
    // only pass 1 exists
    for (id <- 0L until 48L) {
      val (w, h) = ((1 + id % 13).toInt, (1 + id % 9).toInt)
      val colorType = Array(0, 2, 6)((id % 3).toInt)
      val seqPng = Multimodal.pngPixelBytes(id, w, h, colorType)
      val intPng = Multimodal.pngInterlacedPixelBytes(id, w, h, colorType)
      assert(!seqPng.sameElements(intPng), "encodings must actually differ")
      assert(Multimodal.decodePngPixels(intPng) === Multimodal.decodePngPixels(seqPng),
        s"id=$id ${w}x$h ct=$colorType")
      // independent referee: ImageIO de-interlaces too
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(intPng))
      assert(img != null, s"ImageIO must accept interlaced fixture id=$id")
      assert(img.getWidth === w && img.getHeight === h)
      // raw raster samples, NOT getRGB — getRGB routes TYPE_BYTE_GRAY
      // through a colorspace conversion (gamma) and corrupts the sums
      val raster = img.getRaster
      val nb = raster.getNumBands
      val bands = Array.tabulate(math.min(nb, 3)) { b =>
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += raster.getSample(x, y, b)
        s
      }
      val (_, _, ch, _, sr, sg, sb, _) = Multimodal.decodePngPixels(intPng).get
      if (ch === 1) assert(bands.toSeq === Seq(sr), s"gray id=$id")
      else assert(bands.toSeq === Seq(sr, sg, sb), s"rgb id=$id")
    }
    // truncations refuse, never throw — any cut into the IDAT payload
    // (everything before the trailing 12-byte IEND) loses deflate
    // bytes; cuts that only drop IEND still decode (lenient trailer,
    // same as the sequential path)
    val good = Multimodal.pngInterlacedPixelBytes(7L, 8, 6, 2)
    for (cut <- 0 until good.length - 12 by 7)
      assert(Multimodal.decodePngPixels(good.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.decodePngPixels(good.take(good.length - 12)).isDefined)
    val bad = good.clone(); bad(28) = 2.toByte
    assert(Multimodal.decodePngPixels(bad).isEmpty, "interlace 2 is out of spec")
  }

  test("orientation-aware aHash: all 8 EXIF orientations of one scene hash " +
    "identically; no-EXIF falls back to as-stored") {
    import spark.implicits._
    // one upright scene, stored under each orientation via the fixture rule
    def storedJpeg(o: Int): Array[Byte] = {
      val stored = new Array[Int](64)
      for (r <- 0 until 8; c <- 0 until 8)
        stored(Multimodal.orientIndex(o, 8, r, c)) =
          (((42 + 3 * c + 5 * r) % 121) - 60)
      val jpeg = Multimodal.jpegAssemble(64, 64, 0, (_, bx, by) => {
        val a = new Array[Int](64); a(0) = stored(by * 8 + bx); a
      })
      Multimodal.withExif(jpeg, Multimodal.exifApp1(o % 2 == 0, "T", o, 64, 64))
    }
    // orientIndex is a permutation of 0..63 for every orientation
    for (o <- 1 to 8)
      assert((for (r <- 0 until 8; c <- 0 until 8)
        yield Multimodal.orientIndex(o, 8, r, c)).toSet.size === 64, s"o=$o")
    // rot180 is self-inverse; transpose is self-inverse
    for (o <- Seq(3, 5); r <- 0 until 8; c <- 0 until 8) {
      val i = Multimodal.orientIndex(o, 8, r, c)
      assert(Multimodal.orientIndex(o, 8, i / 8, i % 8) === r * 8 + c)
    }
    val blobs = (1 to 8).map(o => (o.toLong, storedJpeg(o))).toDF("doc_id", "blob")
    val hashes = Multimodal.imageAHashOriented(blobs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hashes.size === 8)
    assert((1 to 8).forall(o => hashes(o.toLong)._1 === o.toLong), "EXIF read back")
    assert(hashes.values.map(_._2).toSet.size === 1,
      "every orientation must hash to the upright value")
    // the stored bytes really differ (the scan is physically permuted)
    assert((2 to 8).forall(o => !storedJpeg(o).sameElements(storedJpeg(1))))
    // sanity: orientation actually matters — hashing WITHOUT the remap
    // (plain aHash on the stored pixels) diverges for some orientation
    val plain = Multimodal.imageAHash(blobs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(plain.values.toSet.size > 1, "fixture must be orientation-sensitive")
    // no EXIF → as-stored (orientation 1), equal to plain aHash
    val bare = Multimodal.jpegAssemble(64, 64, 0, (_, bx, by) => {
      val a = new Array[Int](64); a(0) = ((7 * bx + 11 * by) % 121) - 60; a
    })
    val both = Seq((9L, bare)).toDF("doc_id", "blob")
    val or9 = Multimodal.imageAHashOriented(both).head()
    assert(or9.getLong(1) === 1L)
    assert(or9.getLong(2) === Multimodal.imageAHash(both).head().getLong(3))
  }

  test("MP4 box walk: hand-checked tree, refusal on malformed sizes/nesting, " +
    "never throws on fuzz") {
    val good = Multimodal.mp4Bytes("isom", 600, 1234L, "avc1", 640, 480, audio = true)
    val m = Multimodal.mp4Meta(good)
    assert(m === Some(("isom", 600L, 1234L * 1000 / 600, 2L, 1L, 1L, "avc1", 640L, 480L)))
    // no audio track
    val va = Multimodal.mp4Meta(
      Multimodal.mp4Bytes("mp42", 90000, 90000L, "hvc1", 1920, 1080, audio = false))
    assert(va === Some(("mp42", 90000L, 1000L, 1L, 1L, 0L, "hvc1", 1920L, 1080L)))
    // truncations refuse, never throw
    for (cut <- 0 until good.length by 7)
      assert(Multimodal.mp4Meta(good.take(cut)).isEmpty, s"cut=$cut")
    // a corrupted box size (points past the end) refuses
    val bad = good.clone()
    bad(0) = 0x7f.toByte // ftyp size becomes enormous
    assert(Multimodal.mp4Meta(bad).isEmpty)
    // a size below the 8-byte header refuses (no infinite loop)
    val tiny = good.clone()
    tiny(0) = 0; tiny(1) = 0; tiny(2) = 0; tiny(3) = 4
    assert(Multimodal.mp4Meta(tiny).isEmpty)
    // byte-flip fuzz must never throw
    for (i <- good.indices by 5) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x5a).toByte
      Multimodal.mp4Meta(mut)
    }
    assert(Multimodal.mp4Meta(null).isEmpty)
    assert(Multimodal.mp4Meta("not an mp4 at all, just text bytes".getBytes).isEmpty)
  }

  test("progressive JPEG: DC-only fixtures decode EXACTLY like their baseline " +
    "twins and like javax.imageio (all three modes)") {
    for (id <- 0L until 60L) {
      val prog = Multimodal.jpegProgressiveBytes(id)
      val base = Multimodal.jpegBaselineBytes(id)
      val pp = Multimodal.decodeJpegPixels(prog)
      val bp = Multimodal.decodeJpegPixels(base)
      assert(pp.isDefined, s"progressive fixture must decode, id=$id")
      assert(pp === bp, s"progressive ≠ baseline pixels, id=$id")
      // independent referee: ImageIO decodes SOF2 via libjpeg
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
      assert(img != null, s"ImageIO must accept the progressive fixture id=$id")
      assert(img.getWidth === pp.get._1 && img.getHeight === pp.get._2)
      if (pp.get._3 == 1) {
        var er = 0L
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
          er += img.getRaster.getSample(x, y, 0)
        assert(pp.get._5 === er, s"gray sum vs ImageIO, id=$id")
      } else {
        var (er, eg, eb) = (0L, 0L, 0L)
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val rgb = img.getRGB(x, y)
          er += (rgb >> 16) & 0xff; eg += (rgb >> 8) & 0xff; eb += rgb & 0xff
        }
        assert((pp.get._5, pp.get._6, pp.get._7) === ((er, eg, eb)),
          s"channel sums vs ImageIO, id=$id")
      }
    }
  }

  test("progressive JPEG AC refinement: newly-significant insertion, ZRL with " +
    "inline corrections, correction bits — vs baseline twin and ImageIO") {
    // values chosen to exercise every refine-path branch under the
    // 4-symbol fixture table: zigzag 1 = +3 (significant in the first
    // AC scan at Al=1, correction bit 1), zigzag 3 = -2 (run-1 symbol,
    // correction bit 0), zigzag 20 = ±1 (INVISIBLE to the first scan,
    // newly significant in refinement behind a 16-zero ZRL run)
    val w = 24; val h = 16
    def blk(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = (7 * bx - 5 * by) % 30
      a(Multimodal.JpegZigzag(1)) = 3
      a(Multimodal.JpegZigzag(3)) = -2
      a(Multimodal.JpegZigzag(20)) = if ((bx + by) % 2 == 0) 1 else -1
      a
    }
    val prog = Multimodal.jpegAssembleProgressive(w, h, 0, blk, acAl = 1)
    val base = Multimodal.jpegAssemble(w, h, 0, blk)
    val pg = decodeJpegGray(prog)
    val bg = decodeJpegGray(base)
    assert(pg.isDefined, "AC-refinement fixture must decode")
    assert(pg.get.toSeq === bg.get.toSeq,
      "progressive scans must reconstruct the exact baseline coefficients")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(prog))
    assert(img != null, "ImageIO must accept the AC-refinement fixture")
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w)
      maxDiff = math.max(maxDiff,
        math.abs(img.getRaster.getSample(x, y, 0) - pg.get(y * w + x)))
    assert(maxDiff <= 1, s"per-pixel divergence $maxDiff > 1 vs ImageIO")
  }

  test("progressive JPEG decoder refuses malformed input, never throws or spins") {
    val good = Multimodal.jpegProgressiveBytes(7L)
    assert(Multimodal.decodeJpegPixels(good).isDefined)
    for (cut <- 0 until good.length - 2 by 3)
      assert(Multimodal.decodeJpegPixels(good.take(cut)).isEmpty, s"cut=$cut")
    for (i <- (good.length - 16) until good.length) {
      val mut = good.clone(); mut(i) = (mut(i) ^ 0x5a).toByte
      Multimodal.decodeJpegPixels(mut) // must not throw
    }
    // a progressive file is NOT accepted by the baseline-only core
    assert(Multimodal.decodeJpegCore(good).isEmpty,
      "baseline core must keep refusing SOF2 (the Any seam dispatches)")
  }

  test("perceptual hashes accept JPEG blobs: luma block means, brightness " +
    "invariance, refusal on non-grid dims") {
    // identical structure, +20 gray uniform shift (dc +10): both
    // hashes must be invariant through the JPEG decode path
    def mk(shift: Int): Array[Byte] = {
      def blk(c: Int, bx: Int, by: Int): Array[Int] = {
        val a = new Array[Int](64)
        a(0) = ((3 * bx - 2 * by + 7) % 25) + shift
        a
      }
      Multimodal.jpegAssemble(64, 64, 0, blk)
    }
    val means = Multimodal.grayBlockMeans(mk(0), 8)
    assert(means.isDefined, "JPEG must decode into the gray block mesh")
    // flat one-block-per-cell fixture: every mean IS the block value
    for (by <- 0 until 8; bx <- 0 until 8)
      assert(means.get._3(by * 8 + bx) === 2 * ((3 * bx - 2 * by + 7) % 25) + 128L,
        s"cell ($bx,$by)")
    val (a1, a2) = (Multimodal.bmpAHash(mk(0), 8), Multimodal.bmpAHash(mk(10), 8))
    assert(a1.isDefined && a2.isDefined && a1.get._3 === a2.get._3,
      "aHash must be brightness-shift invariant on the JPEG path")
    val (d1, d2) = (Multimodal.bmpDHash(mk(0), 8), Multimodal.bmpDHash(mk(10), 8))
    assert(d1.isDefined && d2.isDefined && d1.get._3 === d2.get._3,
      "dHash must be brightness-shift invariant on the JPEG path")
    assert(a1.get._3 != 0L && a1.get._3 != -1L, "hash must carry structure")
    // dims not divisible by the grid refuse (integer-exact means only)
    assert(Multimodal.grayBlockMeans(Multimodal.jpegBaselineBytes(0L), 8).isEmpty,
      "non-grid-aligned JPEG must refuse the block mesh")
    // a color (4:2:0) JPEG with zero chroma hashes like its gray twin
    def mkColor(): Array[Byte] = {
      def blk(c: Int, bx: Int, by: Int): Array[Int] = {
        val a = new Array[Int](64)
        if (c == 0) a(0) = ((3 * bx - 2 * by + 7) % 25)
        a
      }
      Multimodal.jpegAssemble(64, 64, 2, blk)
    }
    val ac = Multimodal.bmpAHash(mkColor(), 8)
    assert(ac.isDefined && ac.get._3 === a1.get._3,
      "zero-chroma color JPEG must hash identically to its gray twin")
  }

  test("distributed round-trip: syntheticJpegBlobs → decodeJpeg recovers every doc") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf).limit(120)
    val got = Multimodal.decodeJpeg(Multimodal.syntheticJpegBlobs(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    val n = docs.count()
    assert(got.size === n, "every fixture must decode")
    got.foreach { case (id, r) =>
      val mode = (id % 3).toInt
      val (w, h) = mode match {
        case 0 => ((1 + id % 21).toInt, (1 + id % 13).toInt)
        case 1 => ((1 + id % 19).toInt, (1 + id % 11).toInt)
        case _ => ((1 + id % 23).toInt, (1 + id % 17).toInt)
      }
      assert(r.getInt(1) === w && r.getInt(2) === h, s"dims id=$id")
      assert(r.getInt(3) === (if (mode == 0) 1 else 3), s"channels id=$id")
      // analytic pixel sum: 2·dc(x div 8, y div 8) + 128 over the grid
      var exp = 0L
      for (y <- 0 until h; x <- 0 until w)
        exp += 2 * (((id + 3 * (x / 8) + 5 * (y / 8)) % 121) - 60) + 128
      assert(r.getLong(5) === exp, s"sum_r id=$id")
      if (mode > 0) {
        assert(r.getLong(6) === exp && r.getLong(7) === exp, s"sum_g/b id=$id")
      } else {
        assert(r.getLong(6) === 0L && r.getLong(7) === 0L)
      }
    }
  }

  test("image index lifecycle: replayed append folds away, probe finds an exact dup") {
    val indexDir = tempDir("img_index") + "/index"
    // base segment ids < 50, appended segment 50..99 (appended TWICE —
    // an at-least-once replay must fold away), then compact
    val ids = (0L until 100L).toDF("doc_id")
    Multimodal.buildImageIndex(
      Multimodal.syntheticJpegAHashBlobs(ids.filter(col("doc_id") < 50)), indexDir)
    val delta = Multimodal.syntheticJpegAHashBlobs(ids.filter(col("doc_id") >= 50))
    Multimodal.appendImageIndex(delta, indexDir, "d1")
    Multimodal.appendImageIndex(delta, indexDir, "d1") // replay
    Multimodal.compactImageIndex(spark, indexDir)
    val stored = Multimodal.readImageIndex(spark, indexDir)
    assert(stored.count() === 100L, "replayed append must fold away")
    assert(spark.read.parquet(indexDir).select("seg").distinct()
      .as[String].collect().toSeq === Seq("base"), "compact must fold segments")
    // id 500 ≡ 16 (mod 121): its fixture bytes are IDENTICAL to indexed
    // id 16 (the dc field cycles mod 121), a guaranteed exact dup
    val probe = Multimodal.imageAHash(
        Multimodal.syntheticJpegAHashBlobs(Seq(500L).toDF("doc_id")), 8)
      .select(col("doc_id"), col("ahash"))
    val hits = Multimodal.aHashProbe(probe, stored, maxDistance = 1)
    assert(hits.filter(col("hamming") === 0).count() > 0,
      "the folded index must serve the exact dup")
  }
}
