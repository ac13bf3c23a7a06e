package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val assets =
    Multimodal.documentsAsAssets(Tables.documents(spark, sf0001)).cache()

  test("asset wrapping: binary payload + typed metadata") {
    val schema = assets.schema
    assert(schema("bytes").dataType.typeName === "binary")
    assert(schema("meta").dataType.typeName === "struct")
    assert(assets.count() === 500)
  }

  test("content facts: byte length and digest computed without decode") {
    val r = Multimodal.withContentFacts(assets)
      .filter(col("asset_id") === 0).head
    assert(r.getAs[Long]("n_bytes") > 0)
    assert(r.getAs[String]("content_digest").length === 32)
  }

  test("batched decode seam agrees with the expression-level stub features") {
    val viaExpr = Multimodal.fakeDecodedFeatures(assets)
      .select("asset_id", "width", "height").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val viaBatch = Multimodal.decodeInBatches(assets, batchSize = 7)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(viaExpr === viaBatch)
  }

  test("aspectFit: downscales preserving ratio, never upscales") {
    import spark.implicits._
    val dims = Seq((1920, 1080), (100, 50), (4000, 1000), (224, 224))
      .toDF("w", "h")
      .select(Multimodal.aspectFit(col("w"), col("h"), 224, 224).as("t"))
      .select("t.w", "t.h").collect().map(r => (r.getInt(0), r.getInt(1)))
    // 1920x1080 → scale 224/1920: (224, floor(1080*0.11666)=126)
    assert(dims(0) === (224, 126))
    assert(dims(1) === (100, 50)) // already fits: untouched
    assert(dims(2) === (224, 56)) // wide pan: width-bound
    assert(dims(3) === (224, 224))
  }

  test("frame sampling: offsets cover the duration at the stride, per-frame keys unique") {
    val assets = Multimodal.documentsAsAssets(graft.Tables.documents(spark, sf0001))
    val frames = Multimodal.withFrameSamples(assets).collect()
    assert(frames.nonEmpty)
    val byAsset = frames.groupBy(_.getAs[Long]("asset_id"))
    byAsset.values.foreach { rows =>
      val dur = rows.head.getAs[Int]("duration_s")
      val offs = rows.map(_.getAs[Int]("frame_offset_s")).sorted.toSeq
      assert(offs === (0 until dur by 10).toSeq, s"bad offsets for duration $dur")
      assert(rows.map(_.getAs[String]("frame_digest")).distinct.length === rows.length)
      rows.foreach { r =>
        assert(r.getAs[Int]("thumb_w") <= 224 && r.getAs[Int]("thumb_h") <= 224)
      }
    }
  }

  test("BMP round trip: encodeBmp output decodes to exact channel sums (no padding case)") {
    import spark.implicits._
    // width 4 → stride 12 = 3·4: every payload byte is a pixel byte.
    // payload = bytes 0..23 → 2 rows of 4 BGR pixels
    val payload = Array.tabulate(24)(_.toByte)
    val assets = Seq((1L, payload)).toDF("asset_id", "bytes")
    val out = Multimodal.bmpStats(Multimodal.encodeBmp(assets, width = 4)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Boolean]("is_valid"))
    assert(r.getAs[Long]("width") === 4L && r.getAs[Long]("height") === 2L)
    assert(r.getAs[Long]("n_pixels") === 8L)
    // B = indices ≡ 0 (mod 3), G ≡ 1, R ≡ 2
    assert(r.getAs[Long]("sum_b") === 84L)
    assert(r.getAs[Long]("sum_g") === 92L)
    assert(r.getAs[Long]("sum_r") === 100L)
    assert(r.getAs[Long]("mean_luma_milli") ===
      (299L * 100 + 587L * 92 + 114L * 84) / 8)
  }

  test("BMP decode skips row padding: pad bytes never reach the channel sums") {
    import spark.implicits._
    // width 6 → stride 20: per row 18 pixel bytes + 2 pad bytes. Poison
    // the pad positions with 0xFF — a decoder that walked the array as
    // contiguous triplets would absorb them and the sums would shift.
    val payload = Array.tabulate(40) { i =>
      if (i == 18 || i == 19 || i == 38 || i == 39) 0xFF.toByte else i.toByte
    }
    val assets = Seq((1L, payload)).toDF("asset_id", "bytes")
    val r = Multimodal.bmpStats(Multimodal.encodeBmp(assets, width = 6))
      .collect().head
    assert(r.getAs[Boolean]("is_valid"))
    assert(r.getAs[Long]("width") === 6L && r.getAs[Long]("height") === 2L)
    assert(r.getAs[Long]("n_pixels") === 12L)
    assert(r.getAs[Long]("sum_b") === 210L)
    assert(r.getAs[Long]("sum_g") === 222L)
    assert(r.getAs[Long]("sum_r") === 234L)
  }

  private def leBmp(width: Int, heightField: Int, bpp: Int,
      pixelArray: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(54 + pixelArray.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + pixelArray.length)
      .putInt(0).putInt(54)
      .putInt(40).putInt(width).putInt(heightField)
      .putShort(1).putShort(bpp.toShort).putInt(0).putInt(pixelArray.length)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
      .put(pixelArray)
    bb.array()
  }

  test("BMP decode: top-down (negative height) accepted; malformed assets report is_valid=false") {
    import spark.implicits._
    // hand-built 2×1 top-down BMP (height field = -1), stride 8
    val topDown = leBmp(2, -1, 24,
      Array[Byte](10, 20, 30, 40, 50, 60, 0, 0))
    val assets = Seq(
      (1L, topDown),
      (2L, "notabmp-notabmp-notabmp".getBytes("UTF-8")), // bad magic
      (3L, topDown.dropRight(2)),                        // pixel array overruns n
      (4L, leBmp(2, 1, 32, Array.fill[Byte](8)(1))))     // 32 bpp unsupported
      .toDF("asset_id", "bytes")
    val out = Multimodal.bmpStats(assets)
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out.size === 4)
    val ok = out(1L)
    assert(ok.getAs[Boolean]("is_valid"))
    assert(ok.getAs[Long]("width") === 2L && ok.getAs[Long]("height") === 1L)
    assert(ok.getAs[Long]("n_pixels") === 2L)
    assert(ok.getAs[Long]("sum_b") === 50L && ok.getAs[Long]("sum_g") === 70L &&
      ok.getAs[Long]("sum_r") === 90L)
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!out(id).getAs[Boolean]("is_valid"), s"asset $id must be invalid")
      assert(out(id).isNullAt(out(id).fieldIndex("n_pixels")))
      assert(out(id).isNullAt(out(id).fieldIndex("width")))
    }
  }

  test("PPM round trip: encodePpm output decodes to exact channel sums (RGB order)") {
    import spark.implicits._
    // width 4 → 12 unpadded bytes per row; payload bytes 0..23 → 2 rows of
    // 4 RGB pixels. Same payload as the BMP round trip but the FIRST byte
    // of each triplet is now R (PPM) instead of B (BMP): the sums swap.
    val payload = Array.tabulate(24)(_.toByte)
    val assets = Seq((1L, payload)).toDF("asset_id", "bytes")
    val out = Multimodal.ppmStats(Multimodal.encodePpm(assets, width = 4)).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Boolean]("is_valid"))
    assert(r.getAs[Long]("width") === 4L && r.getAs[Long]("height") === 2L)
    assert(r.getAs[Long]("n_pixels") === 8L)
    // R = indices ≡ 0 (mod 3), G ≡ 1, B ≡ 2
    assert(r.getAs[Long]("sum_r") === 84L)
    assert(r.getAs[Long]("sum_g") === 92L)
    assert(r.getAs[Long]("sum_b") === 100L)
    assert(r.getAs[Long]("mean_luma_milli") ===
      (299L * 84 + 587L * 92 + 114L * 100) / 8)
  }

  test("PPM header parse: whitespace variants, multi-digit dims, malformed headers") {
    import spark.implicits._
    def ppm(header: String, pix: Array[Byte]): Array[Byte] =
      header.getBytes("UTF-8") ++ pix
    val px2x1 = Array[Byte](10, 20, 30, 40, 50, 60) // two RGB pixels
    val assets = Seq(
      // space-separated header (encode emits "\n<w> <h>\n"; readers accept
      // any single whitespace between tokens — parse must too)
      (1L, ppm("P6 2 1 255\n", px2x1)),
      // multi-digit dims: 12 wide × 1 tall, bytes 0..35
      (2L, ppm("P6\n12 1\n255\n", Array.tabulate(36)(_.toByte))),
      (3L, ppm("P5 2 1 255\n", px2x1)),       // wrong magic (P5 = grayscale)
      (4L, ppm("P6 2 1 65535\n", px2x1)),     // 16-bit maxval unsupported
      (5L, ppm("P6 9999 9999 255\n", px2x1)), // forged dims overrun the bytes
      (6L, "P6".getBytes("UTF-8")))           // truncated header
      .toDF("asset_id", "bytes")
    val out = Multimodal.ppmStats(assets)
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out.size === 6)
    val ok = out(1L)
    assert(ok.getAs[Boolean]("is_valid"))
    assert(ok.getAs[Long]("width") === 2L && ok.getAs[Long]("height") === 1L)
    assert(ok.getAs[Long]("sum_r") === 50L && ok.getAs[Long]("sum_g") === 70L &&
      ok.getAs[Long]("sum_b") === 90L)
    val wide = out(2L)
    assert(wide.getAs[Boolean]("is_valid"))
    assert(wide.getAs[Long]("width") === 12L && wide.getAs[Long]("n_pixels") === 12L)
    Seq(3L, 4L, 5L, 6L).foreach { id =>
      assert(!out(id).getAs[Boolean]("is_valid"), s"asset $id must be invalid")
      assert(out(id).isNullAt(out(id).fieldIndex("n_pixels")))
    }
  }

  test("PPM header: Netpbm multi-whitespace runs and #-comments parse") {
    import spark.implicits._
    def ppm(header: String, pix: Array[Byte]): Array[Byte] =
      header.getBytes("UTF-8") ++ pix
    val px2x1 = Array[Byte](10, 20, 30, 40, 50, 60)
    val assets = Seq(
      // multi-whitespace separators (spec-legal, common from hand editing)
      (1L, ppm("P6\n\n  2 \t 1\r\n 255\n", px2x1)),
      // comments in the pre-token whitespace runs (the GIMP-style header)
      (2L, ppm("P6\n# written by hand\n2 1\n# maxval next\n255\n", px2x1)),
      // a comment directly after P6, before the first token
      (3L, ppm("P6 # inline\n2 1 255\n", px2x1)),
      // the raster delimiter is ONE whitespace byte: a pixel stream whose
      // first byte is '#' must NOT be eaten as a comment
      (4L, ppm("P6 2 2 255\n", "#ab".getBytes("UTF-8") ++
        Array[Byte](1, 2, 3) ++ "#cd".getBytes("UTF-8") ++
        Array[Byte](4, 5, 6))),
      // token longer than 8 digits stays rejected (regex-parse parity)
      (5L, ppm("P6 123456789 1 255\n", px2x1)))
      .toDF("asset_id", "bytes")
    val out = Multimodal.ppmStats(assets)
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getAs[Boolean]("is_valid"), s"asset $id must parse")
      assert(out(id).getAs[Long]("width") === 2L)
      assert(out(id).getAs[Long]("sum_r") === 50L)
      assert(out(id).getAs[Long]("sum_g") === 70L)
      assert(out(id).getAs[Long]("sum_b") === 90L)
    }
    val hash = out(4L)
    assert(hash.getAs[Boolean]("is_valid"))
    // pixels: (#,a,b) (1,2,3) (#,c,d) (4,5,6) — '#'=35, letters as ASCII
    assert(hash.getAs[Long]("n_pixels") === 4L)
    assert(hash.getAs[Long]("sum_r") === 35L + 1 + 35 + 4)
    assert(!out(5L).getAs[Boolean]("is_valid"))
  }

  test("pcmZeroCross: sign changes counted within windows only; exact peaks") {
    import spark.implicits._
    // samples: +1, -1, +2, -2, +3 → crossings at (0,1),(1,2),(2,3),(3,4)
    // but window size 2 splits {0,1},{2,3},{4}: pairs (1,2) and (3,4)
    // straddle boundaries and must NOT count
    def le(v: Int) = {
      val u = if (v < 0) v + 65536 else v
      Seq((u % 256).toByte, (u / 256).toByte)
    }
    val pcm = Seq(1, -1, 2, -2, 3).flatMap(le).toArray
    val assets = Seq((1L, pcm)).toDF("asset_id", "bytes")
    val out = Multimodal.pcmZeroCross(assets, windowSamples = 2)
      .collect().sortBy(_.getAs[Long]("window_idx"))
    assert(out.length === 3)
    assert(out.map(_.getAs[Long]("zero_crossings")).toSeq === Seq(1L, 1L, 0L))
    assert(out.map(_.getAs[Long]("peak")).toSeq === Seq(1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("n_samples")).toSeq === Seq(2L, 2L, 1L))
    // constant-sign signal: zero crossings everywhere zero
    val flat = Seq((2L, Seq(5, 6, 7, 8).flatMap(le).toArray)).toDF("asset_id", "bytes")
    val f = Multimodal.pcmZeroCross(flat, windowSamples = 4).collect()
    assert(f.map(_.getAs[Long]("zero_crossings")).sum === 0L)
  }

  test("bmpLumaHistogram: every bin present; mass lands in the exact luma bins") {
    import spark.implicits._
    // 2 pixels: black (luma 0 → bin 0) and white (luma 255000 → bin 15),
    // via a hand-built 2×1 BMP (stride 8)
    val bw = leBmp(2, 1, 24, Array[Byte](
      0, 0, 0, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0, 0))
    val out = Multimodal.bmpLumaHistogram(Seq((1L, bw)).toDF("asset_id", "bytes"))
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(out.length === 16)
    assert(out.map(_.getAs[Long]("bin")).toSeq === (0L until 16L))
    assert(out.head.getAs[Long]("n_pixels") === 1L) // black
    assert(out.last.getAs[Long]("n_pixels") === 1L) // white: 255000 div 16000 = 15
    assert(out.map(_.getAs[Long]("n_pixels")).sum === 2L)
    assert(out(5).getAs[Long]("lo_milli") === 80000L)
    // an invalid asset contributes nothing (bins all zero)
    val inv = Multimodal.bmpLumaHistogram(
      Seq((9L, "junk".getBytes("UTF-8"))).toDF("asset_id", "bytes")).collect()
    assert(inv.length === 16 && inv.map(_.getAs[Long]("n_pixels")).sum === 0L)
  }

  test("pcmWindowEnergy: little-endian int16 decode, exact window energies") {
    import spark.implicits._
    // samples: 0x0001 = 1, 0x7FFF = 32767, 0x8000 = -32768; trailing odd
    // byte ignored (PCM frames are 2-byte aligned)
    val assets = Seq((1L, Array[Byte](
      0x01, 0x00, 0xFF.toByte, 0x7F, 0x00, 0x80.toByte, 0x2A)))
      .toDF("asset_id", "bytes")
    val out = Multimodal.pcmWindowEnergy(assets, windowSamples = 2)
      .collect().sortBy(_.getAs[Long]("window_idx"))
    assert(out.length === 2)
    assert(out(0).getAs[Long]("n_samples") === 2L)
    assert(out(0).getAs[Long]("energy") === 1L + 32767L * 32767L)
    assert(out(1).getAs[Long]("n_samples") === 1L)
    assert(out(1).getAs[Long]("energy") === 32768L * 32768L)
    // empty payload: no sample rows, no windows
    val empty = Seq((2L, Array.empty[Byte])).toDF("asset_id", "bytes")
    assert(Multimodal.pcmWindowEnergy(empty).isEmpty)
  }

  private def leBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xFF).toByte)

  /** Hand-built RIFF/WAVE container, optionally with one auxiliary chunk
    * between "fmt " and "data" — the shape encodeWav never emits, so the
    * chunk-walk branch gets its own fixture.
    */
  private def buildWav(
      pcm: Array[Byte], channels: Int = 1, rate: Int = 8000,
      aux: Option[Array[Byte]] = None): Array[Byte] = {
    val auxChunk = aux.map { a =>
      "LIST".getBytes("ASCII") ++ leBytes(a.length.toLong, 4) ++ a ++
        (if (a.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    }.getOrElse(Array.empty[Byte])
    val body = "WAVE".getBytes("ASCII") ++
      "fmt ".getBytes("ASCII") ++ leBytes(16, 4) ++ leBytes(1, 2) ++
      leBytes(channels.toLong, 2) ++ leBytes(rate.toLong, 4) ++
      leBytes(rate.toLong * channels * 2, 4) ++ leBytes(channels.toLong * 2, 2) ++
      leBytes(16, 2) ++ auxChunk ++
      "data".getBytes("ASCII") ++ leBytes(pcm.length.toLong, 4) ++ pcm
    "RIFF".getBytes("ASCII") ++ leBytes(body.length.toLong, 4) ++ body
  }

  test("WAV round trip: encodeWav parses back to exact frame counts and duration") {
    import spark.implicits._
    val assets = Seq((1L, "abcdefgh"), (2L, "odd")).toDF("asset_id", "text")
      .select(col("asset_id"), col("text").cast("binary").as("bytes"))
    val out = Multimodal.wavStats(Multimodal.encodeWav(assets))
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    val a = out(1L) // 8 payload bytes → 4 frames at 8000 Hz
    assert(a.getAs[Boolean]("is_valid"))
    assert(a.getAs[Long]("channels") === 1L)
    assert(a.getAs[Long]("sample_rate") === 8000L)
    assert(a.getAs[Long]("n_frames") === 4L)
    assert(a.getAs[Long]("duration_ms") === 0L) // 4/8000 s floors to 0 ms
    val b = out(2L) // "odd" → even prefix of 2 bytes → 1 frame
    assert(b.getAs[Boolean]("is_valid") && b.getAs[Long]("n_frames") === 1L)
  }

  test("WAV chunk walk: data located after one auxiliary chunk; stereo frames counted") {
    import spark.implicits._
    val pcm = leBytes(1000, 2) ++ leBytes(-2000 & 0xFFFF, 2) ++
      leBytes(3, 2) ++ leBytes(0xFFFF, 2) // 4 samples = 2 stereo frames
    val wav = buildWav(pcm, channels = 2, rate = 16000,
      aux = Some("INFOsoftware graft".getBytes("ASCII")))
    val assets = Seq((7L, wav)).toDF("asset_id", "bytes")
    val r = Multimodal.wavStats(assets).collect().head
    assert(r.getAs[Boolean]("is_valid"), "aux chunk must be skipped, not fatal")
    assert(r.getAs[Long]("channels") === 2L)
    assert(r.getAs[Long]("sample_rate") === 16000L)
    assert(r.getAs[Long]("n_frames") === 2L)
    // energy through the container == the raw-PCM walk on the payload
    val viaWav = Multimodal.wavWindowEnergy(assets, windowSamples = 16)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("window_idx"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("energy"))).toSet
    val direct = Multimodal.pcmWindowEnergy(
        Seq((7L, pcm)).toDF("asset_id", "bytes"), windowSamples = 16)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("window_idx"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("energy"))).toSet
    assert(viaWav === direct)
    assert(viaWav.head._4 === 1000L * 1000 + 2000L * 2000 + 3L * 3 + 1L)
  }

  test("stereo channel split (E293): interleave order is pinned") {
    import spark.implicits._
    // frames (L, R): (1000, -2000), (3, -1) — distinct per channel so
    // an L/R swap or frame misalignment cannot cancel
    val pcm = leBytes(1000, 2) ++ leBytes(-2000 & 0xFFFF, 2) ++
      leBytes(3, 2) ++ leBytes(0xFFFF, 2)
    val assets = Seq((7L, buildWav(pcm, channels = 2, rate = 16000)))
      .toDF("asset_id", "bytes")
    val r = Multimodal.wavChannelStats(assets).collect().head
    assert(r.getAs[Long]("n_frames") === 2L)
    assert(r.getAs[Long]("sum_l") === 1003L)
    assert(r.getAs[Long]("sum_r") === -2001L)
    assert(r.getAs[Long]("sum_abs_l") === 1003L)
    assert(r.getAs[Long]("sum_abs_r") === 2001L)
    // frame weight: 0*(1000-2000) + 1*(3-1) = 2
    assert(r.getAs[Long]("sum_if") === 2L)
    // a trailing half-frame (2 stray bytes) is ignored per block align
    val ragged = Seq((8L, buildWav(pcm ++ leBytes(500, 2), channels = 2,
      rate = 16000))).toDF("asset_id", "bytes")
    val rr = Multimodal.wavChannelStats(ragged).collect().head
    assert(rr.getAs[Long]("n_frames") === 2L &&
      rr.getAs[Long]("sum_l") === 1003L)
    // mono containers do not surface here (no channel split to report)
    val mono = Seq((9L, buildWav(pcm, channels = 1, rate = 8000)))
      .toDF("asset_id", "bytes")
    assert(Multimodal.wavChannelStats(mono).count() === 0L)
  }

  test("WAVE_FORMAT_EXTENSIBLE (E298): the modern PCM header decodes") {
    import spark.implicits._
    val payload = leBytes(1000, 2) ++ leBytes(-2000 & 0xFFFF, 2) ++
      leBytes(3, 2) ++ leBytes(0xFFFF, 2)
    val assets = Seq((1L, payload)).toDF("asset_id", "bytes")
    val ext = Multimodal.encodeWav(assets, channels = 2,
      extensible = true)
    val wire = ext.collect().head.getAs[Array[Byte]]("bytes")
    // the header really is the 0xFFFE shape with a 40-byte fmt chunk
    assert((wire(20) & 0xff) === 0xFE && (wire(21) & 0xff) === 0xFF)
    assert((wire(16) & 0xff) === 40)
    val st = Multimodal.wavStats(ext).collect().head
    assert(st.getAs[Boolean]("is_valid"), "0xFFFE PCM must not reject")
    assert(st.getAs[Long]("channels") === 2L &&
      st.getAs[Long]("n_frames") === 2L)
    // the channel split sees the same samples as the plain header —
    // the header changes, the samples never do
    val plain = Multimodal.wavChannelStats(
      Multimodal.encodeWav(assets, channels = 2)).collect().head
    val viaExt = Multimodal.wavChannelStats(ext).collect().head
    assert((viaExt.getAs[Long]("sum_l"), viaExt.getAs[Long]("sum_r")) ===
      ((plain.getAs[Long]("sum_l"), plain.getAs[Long]("sum_r"))))
    // a non-PCM GUID code is a visible reject (we expand no codecs
    // behind the extensible header)
    val alien = wire.clone(); alien(44) = 2
    val bad = Multimodal.wavStats(Seq((2L, alien))
      .toDF("asset_id", "bytes")).collect().head
    assert(!bad.getAs[Boolean]("is_valid"))
  }

  test("WAV malformed containers report is_valid=false with null fields") {
    import spark.implicits._
    val good = buildWav(leBytes(5, 2))
    val badMagic = "JUNK".getBytes("ASCII") ++ good.drop(4)
    val truncated = good.dropRight(1) // data decl overruns actual bytes
    val tiny = "RIFF".getBytes("ASCII")
    val assets = Seq((1L, good), (2L, badMagic), (3L, truncated), (4L, tiny))
      .toDF("asset_id", "bytes")
    val out = Multimodal.wavStats(assets)
      .collect().map(r => r.getAs[Long]("asset_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("is_valid"))
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!out(id).getAs[Boolean]("is_valid"), s"asset $id must be invalid")
      assert(out(id).isNullAt(out(id).fieldIndex("n_frames")))
    }
    assert(out.size === 4, "bad assets are visible findings, not dropped rows")
    // and the energy walk simply skips them
    assert(Multimodal.wavWindowEnergy(assets).select("asset_id").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("G.711 expansion (E283): reference vectors and full-table sums") {
    import spark.implicits._
    // reference implementations straight from the public ITU-T G.711 /
    // CCITT formulas — independent of the engine's SQL arithmetic
    def ulaw2linear(b0: Int): Int = {
      val c = ~b0 & 0xff
      val t = (((c & 0x0f) << 3) + 0x84) << ((c & 0x70) >> 4)
      if ((c & 0x80) != 0) 0x84 - t else t - 0x84
    }
    def alaw2linear(b0: Int): Int = {
      val a = b0 ^ 0x55
      val seg = (a & 0x70) >> 4
      var t = (a & 0x0f) << 4
      if (seg == 0) t += 8
      else if (seg == 1) t += 0x108
      else t = (t + 0x108) << (seg - 1)
      if ((a & 0x80) != 0) t else -t
    }
    // the canonical extreme vectors
    assert(ulaw2linear(0x00) === -32124 && ulaw2linear(0x80) === 32124)
    assert(ulaw2linear(0xff) === 0 && ulaw2linear(0x7f) === 0)
    assert(alaw2linear(0x2a) === -32256 && alaw2linear(0xaa) === 32256)
    assert(alaw2linear(0x55) === -8 && alaw2linear(0xd5) === 8)
    // every byte value once: the engine's CASE arithmetic must match the
    // reference over the FULL companded domain, not just spot values
    val all = Array.tabulate(256)(_.toByte)
    val assets = Seq((1L, all)).toDF("asset_id", "bytes")
      .withColumn("kind", org.apache.spark.sql.functions.lit("audio"))
    for ((fmt, ref) <- Seq((7, ulaw2linear _), (6, alaw2linear _))) {
      val r = Multimodal.g711Stats(
        Multimodal.encodeWav(assets, fmt = fmt)).collect().head
      assert(r.getAs[Long]("law") === fmt.toLong)
      assert(r.getAs[Long]("n_samples") === 256L)
      assert(r.getAs[Long]("sum_s") ===
        (0 until 256).map(ref(_).toLong).sum, s"fmt=$fmt signed sum")
      assert(r.getAs[Long]("sum_abs") ===
        (0 until 256).map(b0 => math.abs(ref(b0)).toLong).sum,
        s"fmt=$fmt magnitude sum")
    }
    // PCM16 containers don't reach the G.711 surface; G.711 containers
    // are valid WAVs (format field drives the split)
    assert(Multimodal.g711Stats(Multimodal.encodeWav(assets)).count() === 0L)
    val v = Multimodal.wavStats(
      Multimodal.encodeWav(assets, fmt = 7)).collect().head
    assert(v.getAs[Boolean]("is_valid"),
      "a mu-law WAV must not false-invalidate the container surface")
  }

  test("WAV sample walks compile: the validity filter stays out of the header parse") {
    // encoded WAVs come back through a real parquet scan: a LocalRelation
    // input is constant-folded and never reaches codegen. With fallback
    // off, a fused stage past Janino's 64 KB method limit throws instead of
    // silently running interpreted.
    val dir = java.nio.file.Files.createTempDirectory("graft_wav_walk").toString
    val docs = Multimodal.documentsAsAssets(
      Tables.documents(spark, sf0001).filter(col("doc_id") < 40))
    Multimodal.encodeWav(docs, fmt = 7).write.parquet(s"$dir/ulaw")
    Multimodal.encodeWav(docs, channels = 2).write.parquet(s"$dir/stereo")
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val ulaw = Multimodal.g711Stats(spark.read.parquet(s"$dir/ulaw")).collect()
      assert(ulaw.length === 40 && ulaw.forall(_.getAs[Long]("law") === 7L))
      val stereo =
        Multimodal.wavChannelStats(spark.read.parquet(s"$dir/stereo")).collect()
      assert(stereo.length === 40 && stereo.forall(_.getAs[Long]("n_frames") >= 1L))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("warcTextExtracts: 200s only, markup stripped, tokens counted") {
    import spark.implicits._
    // 6 slices of 32 bytes: slice 3 is the fixture 404 and must be
    // dropped; markup and entities inside a slice must be cleaned
    val s0 = "<b>alpha</b> beta  gamma           " // 32 after take
    val raw = (s0 + "x" * 200).take(6 * 32).getBytes("US-ASCII")
    val assets = Seq((1L, raw)).toDF("asset_id", "bytes")
      .withColumn("kind", lit("text"))
      .withColumn("meta", struct(lit("s").as("source"), lit("m").as("mime")))
    val out = Multimodal.warcTextExtracts(
      Multimodal.encodeWarcHttp(assets, bodyBytes = 32))
      .orderBy("rec_idx").collect()
    assert(out.map(_.getAs[Long]("rec_idx")).toSeq === Seq(0L, 1L, 2L, 4L, 5L),
      "the 404 slice (index 3) is not a corpus document")
    val first = out.head
    // slice 0 = "<b>alpha</b> beta  gamma        " cleaned =
    // "alpha beta gamma"
    assert(first.getAs[Long]("clean_len") === 16L)
    assert(first.getAs[Long]("n_tokens") === 3L)
    // an all-x slice is one token of 32 chars
    assert(out.last.getAs[Long]("n_tokens") === 1L)
    assert(out.last.getAs[Long]("clean_len") === 32L)
  }
}
