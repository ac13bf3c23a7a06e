package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Barrier

/** Lossless-JPEG codec conformance (E229, ITU-T T.81 process 14 / SOF3).
  * The entropy bitstream below is hand-derived from the spec — Huffman
  * codes from the Annex-K DC table, difference categories with the
  * one's-complement negative convention — so an encode/decode bug pair
  * that self-cancels in the round-trip query cannot hide here. The
  * decoder's DHT parse, all seven predictors, byte unstuffing, and the
  * reject paths are each exercised.
  */
class JpegCodecSpec extends SparkSpec {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Annex-K standard DC table segment bytes (class 0, id 0). */
  private val dhtSeg = b(0xff, 0xc4, 0x00, 0x1f, 0x00,
    0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0,
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)

  private def sof3(w: Int, h: Int) = b(0xff, 0xc3, 0x00, 0x0b, 8,
    (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 1, 1, 0x11, 0)

  private def sos(pred: Int) = b(0xff, 0xda, 0x00, 0x08, 1, 1, 0x00,
    pred, 0, 0x00)

  /** 2x2 samples [100, 101, 101, 99], predictor 1 — hand-derived stream:
    *  (0,0) pred 128, d=-28: cat 5 (code 110) + bits (d-1)&31 = 3 = 00011
    *  (0,1) pred Ra=100, d=1: cat 1 (code 010) + bit 1
    *  (1,0) pred Rb=100, d=1: cat 1 (code 010) + bit 1
    *  (1,1) pred Ra=101, d=-2: cat 2 (code 011) + bits (d-1)&3 = 1 = 01
    * bits: 110 00011 0101 0101 01101 + pad 111 → C3 55 6F
    */
  private val tiny = b(0xff, 0xd8) ++ dhtSeg ++ sof3(2, 2) ++ sos(1) ++
    b(0xc3, 0x55, 0x6f) ++ b(0xff, 0xd9)

  test("encode emits the hand-derived spec bitstream byte-for-byte") {
    val enc = JpegLosslessCodec.encode(b(100, 101, 101, 99), 2)
    assert(enc.toSeq === tiny.toSeq)
  }

  test("decode replays the hand-derived bitstream to exact stats") {
    val d = JpegLosslessCodec.decode(tiny)
    assert(d.valid)
    assert((d.width, d.height, d.nPixels) === (2L, 2L, 4L))
    assert(d.sumV === 100L + 101 + 101 + 99)
    assert(d.meanVMilli === (100L + 101 + 101 + 99) * 1000 / 4)
    assert(d.predictor === 1L)
  }

  test("all seven predictors reconstruct the same image (hand-encoded streams)") {
    // encode the same 3x2 image under each predictor by computing the
    // per-spec differences here, independently of the engine encoder
    val px = Array(10, 200, 30, 40, 50, 160)
    val (w, h) = (3, 2)
    // the full Annex-K canonical code set: predictors 4-6 produce
    // differences up to +-510, i.e. categories up to 9
    val codes = Map(0 -> "00", 1 -> "010", 2 -> "011", 3 -> "100",
      4 -> "101", 5 -> "110", 6 -> "1110", 7 -> "11110", 8 -> "111110",
      9 -> "1111110", 10 -> "11111110", 11 -> "111111110")
    def cat(d: Int): Int = { var s = 0; while ((1 << s) <= math.abs(d)) s += 1; s }
    for (pred <- 1 to 7) {
      val bits = new StringBuilder
      for (y <- 0 until h; x <- 0 until w) {
        val a = if (x > 0) px(y * w + x - 1) else 0
        val bb = if (y > 0) px((y - 1) * w + x) else 0
        val c = if (x > 0 && y > 0) px((y - 1) * w + x - 1) else 0
        val p =
          if (x == 0 && y == 0) 128
          else if (y == 0) a
          else if (x == 0) bb
          else pred match {
            case 1 => a
            case 2 => bb
            case 3 => c
            case 4 => a + bb - c
            case 5 => a + ((bb - c) >> 1)
            case 6 => bb + ((a - c) >> 1)
            case 7 => (a + bb) >> 1
          }
        val d = px(y * w + x) - p
        val s = cat(d)
        bits ++= codes(s)
        if (s > 0) {
          val add = if (d >= 0) d else d - 1
          val mask = (1 << s) - 1
          bits ++= (0 until s).reverse
            .map(i => ((add & mask) >> i) & 1).mkString
        }
      }
      while (bits.length % 8 != 0) bits += '1'
      val data = bits.toString.grouped(8).map(g => Integer.parseInt(g, 2))
        .flatMap(v => if (v == 0xff) Seq(0xff, 0x00) else Seq(v)).toSeq
      val stream = b(0xff, 0xd8) ++ dhtSeg ++ sof3(w, h) ++ sos(pred) ++
        b(data: _*) ++ b(0xff, 0xd9)
      val d = JpegLosslessCodec.decode(stream)
      assert(d.valid, s"predictor $pred stream must decode")
      assert(d.sumV === px.map(_.toLong).sum, s"predictor $pred sums drifted")
      assert(d.predictor === pred.toLong)
    }
  }

  test("byte stuffing round-trips: a stream containing an FF data byte") {
    // alternating 0/255 samples: every +255 difference is category 8 with
    // additional bits 11111111, so the packed stream contains a raw 0xFF
    // data byte that the encoder must stuff and the decoder must unstuff
    val px = Array.tabulate(64)(i => if (i % 2 == 0) 0 else 255)
    val enc = JpegLosslessCodec.encode(px.map(_.toByte), 8)
    assert(enc.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0x00),
      "fixture must actually exercise byte stuffing")
    val d = JpegLosslessCodec.decode(enc)
    assert(d.valid)
    assert(d.sumV === 32L * 255)
  }

  test("reject paths: DCT frames, bad tables, truncation, forged dims, garbage") {
    val good = JpegLosslessCodec.encode(b(1, 2, 3, 4, 5, 6), 3)
    assert(JpegLosslessCodec.decode(good).valid)
    // DCT-based SOF0 must be rejected, never misdecoded
    val dct = good.clone()
    dct(2 + dhtSeg.length + 1) = 0xc0.toByte
    assert(!JpegLosslessCodec.decode(dct).valid)
    // an over-subscribed Huffman table (3 codes of length 1) is invalid
    val badDht = good.clone()
    badDht(2 + 5) = 3 // counts[len=1] = 3 > 2^1
    assert(!JpegLosslessCodec.decode(badDht).valid)
    // truncation mid-entropy-data
    assert(!JpegLosslessCodec.decode(good.take(good.length - 3)).valid)
    // trailing garbage after EOI
    assert(!JpegLosslessCodec.decode(good ++ b(0)).valid)
    // forged SOF3 dims over a tiny stream: must fail fast (input-bounded)
    val forged = b(0xff, 0xd8) ++ dhtSeg ++ sof3(65535, 65535) ++ sos(1) ++
      b(0x00, 0x00, 0x00) ++ b(0xff, 0xd9)
    val t0 = System.nanoTime()
    assert(!JpegLosslessCodec.decode(forged).valid)
    assert(System.nanoTime() - t0 < 1e9, "forged dims must not loop")
    // APPn/COM segments before SOF are skipped (real-file robustness)
    val withApp = b(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46) ++
      good.drop(2)
    assert(JpegLosslessCodec.decode(withApp).valid)
  }

  test("a lossless scan with a point transform (Pt > 0) is rejected, not misdecoded") {
    // spec-legal SOS with Al = 1: samples are stored >> 1, so decoding the
    // stream unshifted would report wrong values — it must surface as
    // is_valid = false instead ("visible, never misdecoded")
    def sosPt(pred: Int, se: Int, ahal: Int) =
      b(0xff, 0xda, 0x00, 0x08, 1, 1, 0x00, pred, se, ahal)
    val entropy = b(0xc3, 0x55, 0x6f)
    val pt1 = b(0xff, 0xd8) ++ dhtSeg ++ sof3(2, 2) ++ sosPt(1, 0, 0x01) ++
      entropy ++ b(0xff, 0xd9)
    assert(!JpegLosslessCodec.decode(pt1).valid)
    // nonzero Se is equally meaningless in a lossless scan: reject
    val se1 = b(0xff, 0xd8) ++ dhtSeg ++ sof3(2, 2) ++ sosPt(1, 1, 0x00) ++
      entropy ++ b(0xff, 0xd9)
    assert(!JpegLosslessCodec.decode(se1).valid)
    // and the all-zero case still decodes (the tiny stream above)
    assert(JpegLosslessCodec.decode(tiny).valid)
  }

  test("encode rejects payloads whose row count overflows the u16 height") {
    // width 1, 65536 rows: u16(h) would wrap to 0 and emit a stream whose
    // header claims a smaller image — encode must return null instead
    assert(JpegLosslessCodec.encode(new Array[Byte](65536), 1) === null)
    // the largest encodable height still round-trips the header fields
    val max = JpegLosslessCodec.encode(new Array[Byte](65535), 1)
    assert(max !== null)
    val d = JpegLosslessCodec.decode(max)
    assert(d.valid && d.height === 65535L && d.width === 1L)
  }

  test("engine round trip on real documents matches raw-byte sums") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 40)
    val assets = graft.ext.Multimodal.documentsAsAssets(docs)
    val stats = graft.ext.Multimodal.jpegStats(Barrier(
      graft.ext.Multimodal.encodeJpegLossless(assets, width = 40)))
      .collect()
    assert(stats.nonEmpty)
    val raw = docs.select(col("doc_id"), col("text").cast("binary").as("p"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Array[Byte]]("p")).toMap
    stats.foreach { r =>
      assert(r.getAs[Boolean]("is_valid"))
      val p = raw(r.getAs[Long]("asset_id"))
      val h = p.length / 40
      val expected = p.take(40 * h).map(x => (x & 0xff).toLong).sum
      assert(r.getAs[Long]("sum_v") === expected)
      assert(r.getAs[Long]("n_pixels") === 40L * h)
    }
  }
}
