package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Barrier

/** Baseline (lossy, DCT) JPEG codec conformance (E231, ITU-T T.81
  * sequential DCT / SOF0).
  *
  * Division of labor with the q272 oracle: the DuckDB oracle replays the
  * full integer transform pipeline INDEPENDENTLY (from raw payload bytes,
  * never running the codec), so the arithmetic is cross-engine-pinned
  * there; this spec pins what the oracle cannot see — the Huffman entropy
  * layer being BIJECTIVE on the quantized coefficients (encode→decode
  * recovers them exactly: DC prediction, run/size AC symbols, EOB/ZRL,
  * byte stuffing) and every reject path.
  */
class JpegDctCodecSpec extends SparkSpec {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** The spec-side replay of decode∘encode for a width-8 payload: the
    * integer pipeline per 64-byte block. Uses the codec's OWN transform
    * halves on purpose — their cross-engine correctness is the q272
    * oracle's job; here they define the expected coefficient stream the
    * Huffman layer must round-trip.
    */
  private def replaySum(payload: Array[Byte]): Long = {
    val nb = payload.length / 64
    var sum = 0L
    for (blk <- 0 until nb) {
      val s = Array.tabulate(64)(i => payload(blk * 64 + i) & 0xff)
      val rec = JpegDctCodec.dequantizeInverse(JpegDctCodec.forwardQuantize(s))
      sum += rec.map(_.toLong).sum
    }
    sum
  }

  test("zigzag table is a permutation pairing natural and scan order") {
    assert(JpegDctCodec.ZigZag.sorted.toSeq === (0 until 64))
    // spec anchors: DC first, then (u=1,v=0), (u=0,v=1), (u=0,v=2)...
    assert(JpegDctCodec.ZigZag(0) === 0)
    assert(JpegDctCodec.ZigZag(1) === 1)
    assert(JpegDctCodec.ZigZag(2) === 8)
    assert(JpegDctCodec.ZigZag(63) === 63)
  }

  test("constant blocks round-trip exactly; DC prediction carries across blocks") {
    // one block of 138 then one of 58: hand-derivable — F(0,0) = 8·(v-128)
    // lands on exact multiples of the quantizer's half-units, so the
    // reconstruction is value-exact despite the lossy quantize
    val payload = Array.fill(64)(138.toByte) ++ Array.fill(64)(58.toByte)
    val enc = JpegDctCodec.encode(payload, 8)
    assert(enc !== null)
    val d = JpegDctCodec.decode(enc)
    assert(d.valid)
    assert((d.width, d.height, d.nPixels, d.nBlocks) === ((8L, 16L, 128L, 2L)))
    assert(d.sumV === 64L * 138 + 64L * 58,
      "constant blocks must reconstruct exactly (second block exercises a nonzero DC diff)")
  }

  test("entropy layer is bijective: decode equals the integer-pipeline replay") {
    // pseudo-random grayscale: exercises dense AC activity, long zero
    // runs, multi-block DC prediction — everything the AC/DC coder emits
    val rng = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val payload = Array.fill(64 * (3 + trial))((rng.nextInt(256) - 128).toByte)
      val enc = JpegDctCodec.encode(payload, 8)
      assert(enc !== null)
      val d = JpegDctCodec.decode(enc)
      assert(d.valid, s"trial $trial must decode")
      assert(d.sumV === replaySum(payload),
        s"trial $trial: Huffman layer must be lossless on the coefficients")
    }
  }

  test("byte stuffing round-trips: a stream containing an FF data byte") {
    // search a few seeds for an entropy stream that actually contains a
    // stuffed FF00 pair, then require exact round-trip through it
    val found = (0 until 64).view.map { seed =>
      val rng = new scala.util.Random(seed)
      val payload = Array.fill(256)((rng.nextInt(256)).toByte)
      (payload, JpegDctCodec.encode(payload, 8))
    }.find { case (_, enc) =>
      // look for FF00 strictly inside the entropy region (after SOS)
      val body = enc.drop(2).dropRight(2)
      body.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0x00)
    }
    assert(found.nonEmpty, "no fixture produced byte stuffing — widen the search")
    val (payload, enc) = found.get
    val d = JpegDctCodec.decode(enc)
    assert(d.valid)
    assert(d.sumV === replaySum(payload))
  }

  test("reject paths: progressive, multi-component, bad tables, truncation, garbage") {
    val good = JpegDctCodec.encode(Array.tabulate(128)(i => (i * 7).toByte), 8)
    assert(JpegDctCodec.decode(good).valid)
    def indexOfMarker(m: Int): Int = {
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == m)) i += 1
      i
    }
    // progressive (SOF2) and the other non-baseline frames are rejected
    val sof = indexOfMarker(0xc0)
    for (mm <- Seq(0xc1, 0xc2, 0xc3, 0xc9, 0xcb)) {
      val bad = good.clone(); bad(sof + 1) = mm.toByte
      assert(!JpegDctCodec.decode(bad).valid, f"SOF$mm%02x must be rejected")
    }
    // multi-component SOF0 (nf = 3) is a visible finding, not a misdecode
    val nf3 = good.clone(); nf3(sof + 2 + 2 + 5) = 3
    assert(!JpegDctCodec.decode(nf3).valid)
    // subsampled component (H=2, V=1) is rejected
    val sub = good.clone(); sub(sof + 2 + 2 + 7) = 0x21
    assert(!JpegDctCodec.decode(sub).valid)
    // 16-bit DQT precision (Pq = 1) is rejected
    val dqt = indexOfMarker(0xdb)
    val deep = good.clone(); deep(dqt + 4) = 0x10
    assert(!JpegDctCodec.decode(deep).valid)
    // a zero quantizer entry is corrupt (and would divide by zero)
    val zq = good.clone(); zq(dqt + 5) = 0
    assert(!JpegDctCodec.decode(zq).valid)
    // a non-baseline scan header (Se != 63) is rejected
    val sos = indexOfMarker(0xda)
    val se = good.clone(); se(sos + 2 + 2 + 4) = 31
    assert(!JpegDctCodec.decode(se).valid)
    // successive approximation (Ah/Al != 0) is rejected
    val ahal = good.clone(); ahal(sos + 2 + 2 + 5) = 0x01
    assert(!JpegDctCodec.decode(ahal).valid)
    // truncation mid-entropy-data and trailing garbage after EOI
    assert(!JpegDctCodec.decode(good.take(good.length - 3)).valid)
    assert(!JpegDctCodec.decode(good ++ b(0)).valid)
    // forged SOF0 dims over a tiny stream: must fail fast (input-bounded)
    val forged = good.clone()
    forged(sof + 2 + 3) = 0xff.toByte; forged(sof + 2 + 4) = 0xff.toByte
    forged(sof + 2 + 5) = 0xff.toByte; forged(sof + 2 + 6) = 0xf8.toByte
    val t0 = System.nanoTime()
    assert(!JpegDctCodec.decode(forged).valid)
    assert(System.nanoTime() - t0 < 2e9, "forged dims must not loop")
    // APPn/COM segments before SOF are skipped (real-file robustness)
    val withApp = b(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46) ++
      good.drop(2)
    assert(JpegDctCodec.decode(withApp).valid)
  }

  test("spec-illegal AC size category (SSSS > 10) from a custom DHT is rejected") {
    // hand-built minimal stream: all-1s quant table, custom 1-bit Huffman
    // tables (DC: code 0 -> category 0; AC: code 0 -> the symbol under
    // test, code 1 -> EOB), one 8x8 block whose entropy bits are
    // [0][0][<size> ones][1][pad 1s] = 3F FF(stuffed 00) for BOTH sizes —
    // only the DHT symbol byte differs between the legal and illegal runs
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      b(0xff, marker, ((body.length + 2) >> 8) & 0xff,
        (body.length + 2) & 0xff) ++ body
    def stream(acSym: Int): Array[Byte] = {
      val dqt = seg(0xdb, (0x00 +: Seq.fill(64)(1)).map(_.toByte).toArray)
      val dhtDc = seg(0xc4,
        ((0x00 +: (1 +: Seq.fill(15)(0))) :+ 0x00).map(_.toByte).toArray)
      val dhtAc = seg(0xc4,
        (((0x10 +: (2 +: Seq.fill(15)(0))) :+ acSym) :+ 0x00)
          .map(_.toByte).toArray)
      val sof = seg(0xc0, Seq(8, 0, 8, 0, 8, 1, 1, 0x11, 0).map(_.toByte).toArray)
      val sos = seg(0xda, Seq(1, 1, 0x00, 0, 63, 0).map(_.toByte).toArray)
      b(0xff, 0xd8) ++ dqt ++ dhtDc ++ dhtAc ++ sof ++ sos ++
        b(0x3f, 0xff, 0x00) ++ b(0xff, 0xd9)
    }
    // the SAME entropy bytes through SSSS = 10 decode: the stream shape,
    // custom tables, and bit accounting are all well-formed...
    assert(JpegDctCodec.decode(stream(0x0a)).valid,
      "the SSSS=10 twin must decode — it proves the fixture is well-formed")
    // ...so rejecting SSSS = 12 isolates the strictness rule: T.81
    // Table F.1 defines baseline AC categories only up to 10, and with
    // quant 1 the 4095 coefficient would pass the dequant bound and
    // silently decode to numbers without the explicit check
    assert(!JpegDctCodec.decode(stream(0x0c)).valid,
      "baseline AC SSSS 11-15 is spec-illegal and must be a visible finding")
  }

  test("encode drop rules: sub-block-row payloads null; u16 height guarded") {
    assert(JpegDctCodec.encode(new Array[Byte](63), 8) === null)
    assert(JpegDctCodec.encode(new Array[Byte](64), 8) !== null)
    // h = 8·blockRows caps at 65535 ⇒ blockRows ≤ 8191 at width 8
    assert(JpegDctCodec.encode(new Array[Byte](8192 * 64), 8) === null)
  }

  /** The block-sequential YCbCr replay for any sampling shape: per
    * 64·bpm-byte MCU slice, blocks routed to the luma/chroma quant tables
    * by position (b mod bpm < nLuma); returns (sumY, sumCb, sumCr).
    */
  private def replayYcc(payload: Array[Byte], bpm: Int, nLuma: Int):
      (Long, Long, Long) = {
    val nb = payload.length / (64 * bpm)
    var sy = 0L; var scb = 0L; var scr = 0L
    for (b <- 0 until bpm * nb) {
      val q = if (b % bpm < nLuma) JpegDctCodec.Quant
        else JpegDctCodec.QuantChroma
      val s = Array.tabulate(64)(i => payload(b * 64 + i) & 0xff)
      val rec = JpegDctCodec.dequantizeInverseWith(
        JpegDctCodec.forwardQuantizeWith(s, q), q)
      val sum = rec.map(_.toLong).sum
      if (b % bpm < nLuma) sy += sum
      else if (b % bpm == nLuma) scb += sum else scr += sum
    }
    (sy, scb, scr)
  }

  private def replay420(payload: Array[Byte]): (Long, Long, Long) =
    replayYcc(payload, 6, 4)

  test("4:2:0: flat-gray MCUs round-trip exactly with three components") {
    // all samples 128: every coefficient is zero in all three components,
    // so the reconstruction is hand-derivably exact
    val payload = Array.fill(2 * 384)(128.toByte)
    val enc = JpegDctCodec.encode420(payload)
    assert(enc !== null)
    val d = JpegDctCodec.decode(enc)
    assert(d.valid)
    assert((d.width, d.height, d.nPixels, d.nBlocks, d.nComponents) ===
      ((16L, 32L, 512L, 12L, 3L)))
    assert(d.sumV === 512L * 128)   // 4 Y blocks per MCU x 2 MCUs
    assert(d.sumCb === 128L * 128)  // 1 Cb block per MCU x 2 MCUs
    assert(d.sumCr === 128L * 128)
  }

  test("4:2:0 entropy layer is bijective across per-component DC predictors") {
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val payload = Array.fill(384 * (1 + trial))((rng.nextInt(256)).toByte)
      val enc = JpegDctCodec.encode420(payload)
      assert(enc !== null)
      val d = JpegDctCodec.decode(enc)
      assert(d.valid, s"trial $trial must decode")
      val (sy, scb, scr) = replay420(payload)
      assert(d.sumV === sy, s"trial $trial: Y sums drifted")
      assert(d.sumCb === scb, s"trial $trial: Cb sums drifted")
      assert(d.sumCr === scr, s"trial $trial: Cr sums drifted")
    }
    // grayscale streams still report single-component shape (absent chroma)
    val g = JpegDctCodec.decode(
      JpegDctCodec.encode(Array.tabulate(128)(i => (i * 3).toByte), 8))
    assert(g.valid && g.nComponents === 1L && g.sumCb === -1L)
  }

  test("4:2:0 reject paths: illegal sampling, geometry lies, missing chroma table") {
    val good = JpegDctCodec.encode420(Array.tabulate(384)(i => (i * 5).toByte))
    assert(JpegDctCodec.decode(good).valid)
    def indexOfMarker(m: Int): Int = {
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == m)) i += 1
      i
    }
    val sof = indexOfMarker(0xc0)
    // sampling factors outside T.81's 1..4 are rejected at the header
    // (3 and 4 are LEGAL per-factor since the 1..4 widening — a mutation
    // to one of those reparses under the new framing like s422 below)
    val h5 = good.clone(); h5(sof + 2 + 2 + 7) = 0x51
    assert(!JpegDctCodec.decode(h5).valid)
    val v5 = good.clone(); v5(sof + 2 + 2 + 7) = 0x15
    assert(!JpegDctCodec.decode(v5).valid)
    val h0 = good.clone(); h0(sof + 2 + 2 + 7) = 0x01
    assert(!JpegDctCodec.decode(h0).valid)
    // sum of Hi·Vi over 10 (T.81 B.2.3) is rejected: all-2x2 sums to 12
    val dense = good.clone()
    dense(sof + 2 + 2 + 10) = 0x22; dense(sof + 2 + 2 + 13) = 0x22
    assert(!JpegDctCodec.decode(dense).valid)
    // rewriting a LEGAL sampling header (luma 2x2 -> 2x1) produces a
    // DIFFERENT stream — no decoder can tell a "lie" from truth, because
    // the header defines the framing. The guarantee is consistency: if
    // the entropy data happens to parse under the new header (it does
    // here — Huffman streams have no per-block sync), the decode is
    // framed EXACTLY per that header (2 MCUs x 4 blocks at 16x16), never
    // a mix of old and new geometry, and never a crash
    val s422 = good.clone(); s422(sof + 2 + 2 + 7) = 0x21
    val d422 = JpegDctCodec.decode(s422)
    if (d422.valid) {
      assert((d422.width, d422.height, d422.nBlocks) === ((16L, 16L, 8L)),
        "a reparsed stream must follow the declared header's framing")
      assert(d422.sumV !== JpegDctCodec.decode(good).sumV,
        "the reframed stream is a different image, not the original")
    }
    // chroma claiming 2x2 against this stream (9 blocks/MCU, a legal
    // header) demands more entropy data than the stream holds plus the
    // exact-EOI tail: this one fails on the data, visibly
    val badChroma = good.clone(); badChroma(sof + 2 + 2 + 10) = 0x22
    assert(!JpegDctCodec.decode(badChroma).valid)
    // chroma component pointing at a quant table the stream never defined
    val noQt = good.clone(); noQt(sof + 2 + 2 + 11) = 3
    assert(!JpegDctCodec.decode(noQt).valid)
    // truncation and trailing garbage still die
    assert(!JpegDctCodec.decode(good.take(good.length - 3)).valid)
    assert(!JpegDctCodec.decode(good ++ b(0)).valid)
    // encode drop rules: sub-MCU payloads null, u16 height guarded
    assert(JpegDctCodec.encode420(new Array[Byte](383)) === null)
    assert(JpegDctCodec.encode420(new Array[Byte](384)) !== null)
    assert(JpegDctCodec.encode420(new Array[Byte](4096 * 384)) === null)
  }

  test("4:2:2: two-Y MCUs round-trip; geometry and per-component sums exact") {
    // flat 128 first (hand-derivable zero coefficients), then random
    val flat = Array.fill(2 * 256)(128.toByte)
    val df = JpegDctCodec.decode(JpegDctCodec.encode422(flat))
    assert(df.valid)
    assert((df.width, df.height, df.nPixels, df.nBlocks, df.nComponents) ===
      ((16L, 16L, 256L, 8L, 3L)))
    assert(df.sumV === 256L * 128 && df.sumCb === 128L * 128 &&
      df.sumCr === 128L * 128)
    val rng = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val payload = Array.fill(256 * (1 + trial))((rng.nextInt(256)).toByte)
      val enc = JpegDctCodec.encode422(payload)
      assert(enc !== null)
      val d = JpegDctCodec.decode(enc)
      assert(d.valid, s"trial $trial must decode")
      val (sy, scb, scr) = replayYcc(payload, 4, 2)
      assert((d.sumV, d.sumCb, d.sumCr) === ((sy, scb, scr)),
        s"trial $trial: 4:2:2 per-component sums drifted")
      assert(d.width === 16L && d.height === 8L * (1 + trial))
    }
    // restarts work through the generalized MCU walk too
    val payload = Array.fill(256 * 5)((rng.nextInt(256)).toByte)
    val restarted = JpegDctCodec.encode422(payload, 2)
    val d = JpegDctCodec.decode(restarted)
    assert(d.valid)
    assert((d.sumV, d.sumCb, d.sumCr) === replayYcc(payload, 4, 2))
    // drop rules: no full 256-byte MCU, u16 height bound (8·nMcu ≤ 65535)
    assert(JpegDctCodec.encode422(new Array[Byte](255)) === null)
    assert(JpegDctCodec.encode422(new Array[Byte](8192 * 256)) === null)
  }

  test("4:4:4: full-resolution chroma MCUs round-trip exactly") {
    val rng = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val payload = Array.fill(192 * (2 + trial))((rng.nextInt(256)).toByte)
      val enc = JpegDctCodec.encode444(payload)
      assert(enc !== null)
      val d = JpegDctCodec.decode(enc)
      assert(d.valid, s"trial $trial must decode")
      val (sy, scb, scr) = replayYcc(payload, 3, 1)
      assert((d.sumV, d.sumCb, d.sumCr) === ((sy, scb, scr)),
        s"trial $trial: 4:4:4 per-component sums drifted")
      // no subsampling: chroma planes are full size, one block each per
      // 8x8 MCU — n_pixels counts the luma plane
      assert(d.width === 8L && d.height === 8L * (2 + trial))
      assert(d.nBlocks === 3L * (2 + trial))
    }
    assert(JpegDctCodec.encode444(new Array[Byte](191)) === null)
    assert(JpegDctCodec.encode444(new Array[Byte](8192 * 192)) === null)
  }

  test("4:1:1: luma factor 4 MCUs round-trip; factors above 4 still rejected") {
    // the DV-camera shape — first fixture with a sampling factor above 2:
    // one MCU = 4 Y blocks in a row + Cb + Cr, frame 32 px wide
    val rng = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      val payload = Array.fill(384 * (1 + trial))((rng.nextInt(256)).toByte)
      val enc = JpegDctCodec.encode411(payload)
      assert(enc !== null)
      val d = JpegDctCodec.decode(enc)
      assert(d.valid, s"trial $trial must decode")
      val (sy, scb, scr) = replayYcc(payload, 6, 4)
      assert((d.sumV, d.sumCb, d.sumCr) === ((sy, scb, scr)),
        s"trial $trial: 4:1:1 per-component sums drifted")
      assert(d.width === 32L && d.height === 8L * (1 + trial))
      assert(d.nBlocks === 6L * (1 + trial))
      // chroma planes are quarter-width: ceil(32/4) = 8 px per MCU row
      assert(d.nPixels === 32L * 8 * (1 + trial))
    }
    // restarts through the factor-4 walk
    val payload = Array.fill(384 * 5)((rng.nextInt(256)).toByte)
    val restarted = JpegDctCodec.encode411(payload, 2)
    val d = JpegDctCodec.decode(restarted)
    assert(d.valid)
    assert((d.sumV, d.sumCb, d.sumCr) === replayYcc(payload, 6, 4))
    // T.81 B.2.3 blocks-per-MCU bound: 4x2 luma (8+1+1 = 10) is the
    // encoder's legal ceiling; 3x3 luma (9+1+1 = 11) must be refused
    assert(JpegDctCodec.encodeYcc(payload, 4, 2, 0) !== null)
    intercept[IllegalArgumentException] {
      JpegDctCodec.encodeYcc(payload, 3, 3, 0)
    }
    // drop rules: no full 384-byte MCU, u16 height bound (8·nMcu ≤ 65535)
    assert(JpegDctCodec.encode411(new Array[Byte](383)) === null)
    assert(JpegDctCodec.encode411(new Array[Byte](8192 * 384)) === null)
  }

  test("DRI restart markers: byte-aligned RSTn cycle, predictors reset, sums unchanged") {
    val rng = new scala.util.Random(11)
    val payload = Array.fill(384 * 5)((rng.nextInt(256)).toByte)
    val plain = JpegDctCodec.encode420(payload)
    val restarted = JpegDctCodec.encode420(payload, 2)
    // the restart stream really carries DRI and cycling RSTn markers
    def hasMarker(bs: Array[Byte], m: Int): Boolean =
      bs.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == m)
    assert(hasMarker(restarted, 0xdd), "DRI segment missing")
    assert(hasMarker(restarted, 0xd0) && hasMarker(restarted, 0xd1),
      "restart markers missing (5 MCUs at interval 2 need RST0 and RST1)")
    assert(!hasMarker(plain, 0xd0), "plain stream must carry no restarts")
    // restarts change the stream, never the samples: both decode to the
    // exact replay sums — this also proves the decoder RESETS its DC
    // predictors (without the reset, every post-restart DC would shift)
    val (sy, scb, scr) = replay420(payload)
    for (enc <- Seq(plain, restarted)) {
      val d = JpegDctCodec.decode(enc)
      assert(d.valid)
      assert((d.sumV, d.sumCb, d.sumCr) === ((sy, scb, scr)))
    }
    // a restart marker with the WRONG modulo index is a visible
    // corruption, never a resync guess
    val rst0 = restarted.indexOfSlice(Seq(0xff.toByte, 0xd0.toByte))
    assert(rst0 > 0)
    val wrongIdx = restarted.clone(); wrongIdx(rst0 + 1) = 0xd3.toByte
    assert(!JpegDctCodec.decode(wrongIdx).valid)
    // an interval longer than the MCU count writes no markers and decodes
    val sparse = JpegDctCodec.encode420(payload, 100)
    assert(!hasMarker(sparse, 0xd0))
    assert(JpegDctCodec.decode(sparse).valid)
  }

  test("JFIF/Exif metadata: round-trip, both byte orders, strict when declared") {
    val payload = Array.tabulate(128)(i => (i * 13 + 5).toByte)
    val enc = JpegDctCodec.encodeWithMeta(payload, 8)
    val d = JpegDctCodec.decode(enc)
    assert(d.valid)
    // the encoder's deterministic payload-derived metadata, parsed back
    // out of the APP0 header and the APP1 TIFF IFD0 walk
    assert(d.exifOrientation === 1L + ((payload(0) & 0xff) % 8))
    assert(d.jfifUnits === ((payload(1) & 0xff) % 3).toLong)
    assert(d.jfifXDensity === (1L + (payload(2) & 0xff)))
    assert(d.jfifYDensity === (1L + (payload(3) & 0xff)))
    // metadata changes the stream, never the samples
    val plain = JpegDctCodec.decode(JpegDctCodec.encode(payload, 8))
    assert(d.sumV === plain.sumV)
    // plain streams carry no metadata: the absent sentinel
    assert(plain.exifOrientation === -1L && plain.jfifUnits === -1L)
    // little-endian ("II") TIFF parses too — hand-built APP1
    val app1le = Array[Int](0xff, 0xe1, 0, 34, 'E', 'x', 'i', 'f', 0, 0,
      'I', 'I', 42, 0, 8, 0, 0, 0,
      1, 0,
      0x12, 0x01, 3, 0, 1, 0, 0, 0,
      6, 0, 0, 0,
      0, 0, 0, 0).map(_.toByte)
    val base = JpegDctCodec.encode(payload, 8)
    val le = base.take(2) ++ app1le ++ base.drop(2)
    val dle = JpegDctCodec.decode(le)
    assert(dle.valid && dle.exifOrientation === 6L)
    // a segment DECLARING JFIF but too short to hold the header is a
    // visible finding, never silently skipped
    val shortJfif =
      Array[Int](0xff, 0xe0, 0, 9, 'J', 'F', 'I', 'F', 0, 1, 2).map(_.toByte)
    assert(!JpegDctCodec.decode(base.take(2) ++ shortJfif ++ base.drop(2)).valid)
    // orientation outside 1..8 is corrupt per the Exif spec
    val badO = le.clone(); badO(30) = 9
    assert(!JpegDctCodec.decode(badO).valid)
    // truncated declared-Exif TIFF (header shorter than 8 bytes)
    val shortExif = Array[Int](0xff, 0xe1, 0, 12, 'E', 'x', 'i', 'f', 0, 0,
      'M', 'M', 0, 42).map(_.toByte)
    assert(!JpegDctCodec.decode(base.take(2) ++ shortExif ++ base.drop(2)).valid)
    // unknown APPn segments are still skipped, not rejected
    val app9 = Array[Int](0xff, 0xe9, 0, 4, 0x55, 0xaa).map(_.toByte)
    assert(JpegDctCodec.decode(base.take(2) ++ app9 ++ base.drop(2)).valid)
    // non-JFIF APP0 (JFXX) and non-Exif APP1 (XMP-ish) are skipped
    val jfxx = Array[Int](0xff, 0xe0, 0, 8, 'J', 'F', 'X', 'X', 0, 16)
      .map(_.toByte)
    assert(JpegDctCodec.decode(base.take(2) ++ jfxx ++ base.drop(2)).valid)
  }

  test("engine round trip on real documents matches the block replay") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 40)
    val assets = graft.ext.Multimodal.documentsAsAssets(docs)
    val stats = graft.ext.Multimodal.jpegDctStats(Barrier(
      graft.ext.Multimodal.encodeJpegDct(assets, width = 8)))
      .collect()
    assert(stats.nonEmpty)
    val raw = docs.select(col("doc_id"), col("text").cast("binary").as("p"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Array[Byte]]("p")).toMap
    stats.foreach { r =>
      assert(r.getAs[Boolean]("is_valid"))
      val p = raw(r.getAs[Long]("asset_id"))
      val nb = p.length / 64
      assert(r.getAs[Long]("n_blocks") === nb.toLong)
      assert(r.getAs[Long]("n_pixels") === 64L * nb)
      assert(r.getAs[Long]("sum_v") === replaySum(p.take(nb * 64)))
    }
  }
}
