package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Barrier

/** PNG codec conformance (E226) — the first entropy-coded format decoded
  * in-engine. The filter math is pinned per filter type on hand-built
  * scanlines (JVM-side, independent of the encoder), then the engine
  * round-trip is proven on real documents, and the reject paths (bad CRC,
  * forged IHDR, trailing garbage, unsupported features) are each
  * exercised — a forged header must fail FAST, without allocating.
  */
class PngCodecSpec extends SparkSpec {

  private def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
    ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val body = typ.getBytes("US-ASCII") ++ data
    val crc = new java.util.zip.CRC32
    crc.update(body)
    be32(data.length.toLong) ++ body ++ be32(crc.getValue)
  }

  private val sig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Hand-build a PNG from raw (already-filtered) scanlines — independent
    * of PngCodec.encode, so an encode/decode bug pair cannot self-cancel.
    */
  private def pngOf(w: Int, h: Int, colorType: Int,
      scanlines: Array[Byte], extra: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(scanlines); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    sig ++
      chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
        Array[Byte](8, colorType.toByte, 0, 0, 0)) ++
      extra.flatten ++
      chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  test("each filter type unfilters per spec on a hand-built two-row image") {
    // 2x2 RGB; row 0 filter Sub, row 1 filter Paeth — filtered bytes
    // hand-derived from the spec's reconstruction functions.
    // Row 0 pixels: (10,20,30) (15,25,35); Sub: first pixel raw, second
    // minus left = (5,5,5).
    // Row 1 pixels: (20,20,20) (100,0,200); Paeth with a=left, b=up,
    // c=up-left: first pixel pred=up=(10,20,30) -> (10,0,-10)&0xff;
    // second: a=(20,20,20) b=(15,25,35) c=(10,20,30), p=a+b-c=(25,25,25),
    // per channel pred: ch0 pa=5<pb=10 -> a=20; ch1 pb=0 wins -> b=25;
    // ch2 pa=5<=pc=5 -> a=20 => filtered (80,-25,180)&0xff.
    val rows = Array[Byte](
      1, 10, 20, 30, 5, 5, 5,
      4, 10, 0, (-10 & 0xff).toByte, 80, (-25 & 0xff).toByte, (180 - 256).toByte)
    val d = PngCodec.decode(pngOf(2, 2, 2, rows))
    assert(d.valid)
    assert((d.width, d.height, d.nPixels) === (2L, 2L, 4L))
    assert(d.sumR === 10L + 15 + 20 + 100)
    assert(d.sumG === 20L + 25 + 20 + 0)
    assert(d.sumB === 30L + 35 + 20 + 200)
  }

  test("average and up filters, and RGBA color type") {
    // 2x2 RGBA; row 0 filter Up (b=0 for the first row -> raw), row 1
    // filter Average: pred = floor((a+b)/2), a=0 for the first pixel.
    // Row 0 pixels: (8,16,24,255) (32,40,48,255)
    // Row 1 pixels: (10,10,10,255) (20,20,20,255)
    //  first: pred=floor((0+up)/2)=(4,8,12,127) -> (6,2,-2,128)&0xff
    //  second: a=(10,10,10,255) b=(32,40,48,255) -> pred=(21,25,29,255)
    //          -> (-1,-5,-9,0)&0xff
    val rows = Array[Byte](
      2, 8, 16, 24, -1, 32, 40, 48, -1,
      3, 6, 2, (-2 & 0xff).toByte, 128.toByte,
      (-1 & 0xff).toByte, (-5 & 0xff).toByte, (-9 & 0xff).toByte, 0)
    val d = PngCodec.decode(pngOf(2, 2, 6, rows))
    assert(d.valid)
    assert(d.colorType === 6L)
    assert(d.sumR === 8L + 32 + 10 + 20)
    assert(d.sumG === 16L + 40 + 10 + 20)
    assert(d.sumB === 24L + 48 + 10 + 20)
  }

  test("encode exercises all five filters and decode round-trips exactly") {
    val payload = (0 until 3 * 4 * 7).map(i =>
      ((i * 37 + (i * i) % 251) % 256).toByte).toArray // 4 wide, 7 rows
    val enc = PngCodec.encode(payload, 4)
    // encoder cycles filters y%5: 7 rows cover None..Paeth at least once
    val d = PngCodec.decode(enc)
    assert(d.valid)
    assert((d.width, d.height) === (4L, 7L))
    val px = payload.take(3 * 4 * 7).map(_ & 0xff)
    def ch(o: Int) = px.indices.filter(_ % 3 == o).map(px(_).toLong).sum
    assert((d.sumR, d.sumG, d.sumB) === ((ch(0), ch(1), ch(2))))
    assert(d.nIdatChunks === 1L)
    assert(d.idatBytes > 0L)
  }

  test("multi-IDAT streams decode; non-consecutive IDAT is rejected") {
    // split the deflate stream across two IDAT chunks at an arbitrary cut
    val payload = (0 until 3 * 4 * 5).map(_.toByte).toArray
    val whole = PngCodec.encode(payload, 4)
    val expected = PngCodec.decode(whole)
    // rebuild with the IDAT payload split in two, extracting the IDAT
    // data straight from the encoded stream
    def be32At(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    val ihdrLen = be32At(whole, 8).toInt
    val idatOff = 8 + 12 + ihdrLen
    val idatLen = be32At(whole, idatOff).toInt
    val idat = whole.slice(idatOff + 8, idatOff + 8 + idatLen)
    val ihdr = whole.slice(8, 8 + 12 + ihdrLen)
    val cut = idatLen / 2
    val split = sig ++ ihdr ++ chunk("IDAT", idat.take(cut)) ++
      chunk("IDAT", idat.drop(cut)) ++ chunk("IEND", Array.empty[Byte])
    val d = PngCodec.decode(split)
    assert(d.valid)
    assert((d.sumR, d.sumG, d.sumB) ===
      ((expected.sumR, expected.sumG, expected.sumB)))
    assert(d.nIdatChunks === 2L)
    // trailer-only tail chunk: all pixel output completes in part 1 and
    // ONLY the zlib adler32 trailer sits in part 2 — the inflater must
    // still be fed the later parts after the output buffer is full
    // (IDAT boundaries are arbitrary per the spec)
    val tailSplit = sig ++ ihdr ++ chunk("IDAT", idat.dropRight(4)) ++
      chunk("IDAT", idat.takeRight(4)) ++ chunk("IEND", Array.empty[Byte])
    val dt = PngCodec.decode(tailSplit)
    assert(dt.valid, "trailer-only IDAT chunk must decode")
    assert((dt.sumR, dt.sumG, dt.sumB) ===
      ((expected.sumR, expected.sumG, expected.sumB)))
    // an ancillary chunk BETWEEN the IDATs breaks consecutiveness: reject
    val broken = sig ++ ihdr ++ chunk("IDAT", idat.take(cut)) ++
      chunk("tEXt", "k\u0000v".getBytes("US-ASCII")) ++
      chunk("IDAT", idat.drop(cut)) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(broken).valid)
  }

  test("unconsumed IDAT payload is rejected (garbage inside the framing)") {
    val payload = (0 until 3 * 4 * 5).map(_.toByte).toArray
    val whole = PngCodec.encode(payload, 4)
    assert(PngCodec.decode(whole).valid)
    def be32At(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    val ihdrLen = be32At(whole, 8).toInt
    val idatOff = 8 + 12 + ihdrLen
    val idatLen = be32At(whole, idatOff).toInt
    val idat = whole.slice(idatOff + 8, idatOff + 8 + idatLen)
    val ihdr = whole.slice(8, 8 + 12 + ihdrLen)
    // garbage appended INSIDE the last IDAT chunk, after the zlib trailer:
    // the chunk CRC is valid (recomputed by chunk()), so only the
    // every-IDAT-byte-consumed check can catch it — same stance as
    // post-IEND trailing bytes
    val padded = sig ++ ihdr ++ chunk("IDAT", idat ++ Array[Byte](7, 7)) ++
      chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(padded).valid,
      "trailing bytes inside the last IDAT must invalidate the stream")
    // a whole extra NON-EMPTY IDAT chunk after the stream completed is
    // equally dead
    val extraChunk = sig ++ ihdr ++ chunk("IDAT", idat) ++
      chunk("IDAT", Array[Byte](9)) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(extraChunk).valid,
      "an unconsumed later IDAT part must invalidate the stream")
    // ...but a ZERO-length IDAT chunk carries no bytes and is legal
    // anywhere in the chain per the PNG spec: trailing empty chunks (and
    // empty chunks mid-chain) must decode, not false-invalidate
    val emptyTail = sig ++ ihdr ++ chunk("IDAT", idat) ++
      chunk("IDAT", Array.empty[Byte]) ++ chunk("IEND", Array.empty[Byte])
    assert(PngCodec.decode(emptyTail).valid,
      "a trailing zero-length IDAT chunk is conformant and must decode")
    val emptyMid = sig ++ ihdr ++ chunk("IDAT", Array.empty[Byte]) ++
      chunk("IDAT", idat) ++ chunk("IEND", Array.empty[Byte])
    assert(PngCodec.decode(emptyMid).valid,
      "a leading zero-length IDAT chunk is conformant and must decode")
  }

  test("reject paths: CRC, forged IHDR, truncation, unsupported, garbage") {
    val good = PngCodec.encode((0 until 36).map(_.toByte).toArray, 4)
    assert(PngCodec.decode(good).valid)
    // flipped bit in the IDAT data -> CRC mismatch
    val badCrc = good.clone()
    badCrc(8 + 12 + 13 + 8 + 2) = (badCrc(8 + 12 + 13 + 8 + 2) ^ 1).toByte
    assert(!PngCodec.decode(badCrc).valid)
    // forged IHDR: 2^31-pixel claim on a tiny stream must fail fast
    // (CRC of the forged IHDR recomputed so the walk reaches the bound)
    val forged = sig ++ chunk("IHDR",
      be32(1000000L) ++ be32(1000000L) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](1, 2, 3)) ++ chunk("IEND", Array.empty[Byte])
    val t0 = System.nanoTime()
    assert(!PngCodec.decode(forged).valid)
    assert(System.nanoTime() - t0 < 1e9, "forged IHDR must not allocate/loop")
    // truncation mid-chunk
    assert(!PngCodec.decode(good.take(good.length - 7)).valid)
    // trailing garbage after IEND
    assert(!PngCodec.decode(good ++ Array[Byte](0)).valid)
    // unsupported: 16-bit depth
    val deep = sig ++ chunk("IHDR",
      be32(2) ++ be32(2) ++ Array[Byte](16, 2, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](1)) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(deep).valid)
    // unknown CRITICAL chunk is rejected; ancillary (tEXt) is skipped
    val payload5 = (0 until 3 * 4 * 5).map(_.toByte).toArray
    val base = PngCodec.encode(payload5, 4)
    def ihdrOf(b: Array[Byte]) = b.slice(8, 8 + 12 + 13)
    def idatOf(b: Array[Byte]) = {
      val off = 8 + 12 + 13
      val len = ((b(off) & 0xffL) << 24 | (b(off + 1) & 0xffL) << 16 |
        (b(off + 2) & 0xffL) << 8 | (b(off + 3) & 0xffL)).toInt
      b.slice(off, off + 12 + len)
    }
    val withText = sig ++ ihdrOf(base) ++
      chunk("tEXt", "comment".getBytes("US-ASCII")) ++ idatOf(base) ++
      chunk("IEND", Array.empty[Byte])
    assert(PngCodec.decode(withText).valid)
    val withCritical = sig ++ ihdrOf(base) ++
      chunk("CTRX", Array[Byte](1)) ++ idatOf(base) ++
      chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(withCritical).valid)
  }

  test("palette and gray color types resolve per spec (E281)") {
    val plte = new Array[Byte](768)
    for (i <- 0 until 256) {
      plte(3 * i) = PngCodec.palR(i).toByte
      plte(3 * i + 1) = PngCodec.palG(i).toByte
      plte(3 * i + 2) = PngCodec.palB(i).toByte
    }
    // hand-built 4x2 palette image, filter 0 rows — independent of encode
    val idx = Array(3, 250, 12, 40, 7, 99, 200, 1)
    val scan = Array[Byte](0, idx(0).toByte, idx(1).toByte, idx(2).toByte,
      idx(3).toByte, 0, idx(4).toByte, idx(5).toByte, idx(6).toByte,
      idx(7).toByte)
    val d = PngCodec.decode(pngOf(4, 2, 3, scan, Seq(chunk("PLTE", plte))))
    assert(d.valid && d.colorType === 3L)
    assert(d.sumR === idx.map(PngCodec.palR(_).toLong).sum)
    assert(d.sumG === idx.map(PngCodec.palG(_).toLong).sum)
    assert(d.sumB === idx.map(PngCodec.palB(_).toLong).sum,
      "palette pixels must resolve through the PLTE, not pass through")
    // an index past the palette is a forged pixel — visible reject
    val small3 = chunk("PLTE", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    assert(!PngCodec.decode(
      pngOf(2, 1, 3, Array[Byte](0, 0, 3), Seq(small3))).valid)
    // ...while the same wire with in-bounds indices decodes (sub-256
    // palettes are spec-legal)
    val okSmall = PngCodec.decode(
      pngOf(2, 1, 3, Array[Byte](0, 0, 2), Seq(small3)))
    assert(okSmall.valid && okSmall.sumR === 1L + 7L)
    // PLTE is REQUIRED for color type 3 and FORBIDDEN for grayscale
    assert(!PngCodec.decode(pngOf(2, 1, 3, Array[Byte](0, 0, 1))).valid)
    assert(!PngCodec.decode(
      pngOf(2, 1, 0, Array[Byte](0, 5, 9), Seq(chunk("PLTE", plte)))).valid)
    // PLTE after IDAT is out of order (it defines pixel meaning)
    val late = sig ++
      chunk("IHDR", be32(2) ++ be32(1) ++ Array[Byte](8, 3, 0, 0, 0)) ++
      {
        val defl = new java.util.zip.Deflater()
        defl.setInput(Array[Byte](0, 0, 1)); defl.finish()
        val o = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](256)
        while (!defl.finished()) o.write(b, 0, defl.deflate(b))
        defl.end()
        chunk("IDAT", o.toByteArray)
      } ++ chunk("PLTE", plte) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(late).valid)
    // grayscale: one byte per pixel, r = g = b
    val g = PngCodec.decode(pngOf(2, 1, 0, Array[Byte](0, 5, 9)))
    assert(g.valid && g.colorType === 0L)
    assert((g.sumR, g.sumG, g.sumB) === ((14L, 14L, 14L)))
    assert(g.sumColV === 3L * 9L, "col weighting pins placement")
    // encoder surface round-trips both types
    val pay = (0 until 200).map(i => ((i * 37) % 256).toByte).toArray
    val pd = PngCodec.decode(PngCodec.encode(pay, 40, colorType = 3))
    assert(pd.valid &&
      pd.sumR === pay.map(b => PngCodec.palR(b & 0xff).toLong).sum)
    val gd = PngCodec.decode(PngCodec.encode(pay, 40, colorType = 0))
    assert(gd.valid && gd.sumR === pay.map(b => (b & 0xff).toLong).sum)
  }

  test("Adam7 deinterlacing is the placement identity (E282)") {
    val rng = new scala.util.Random(91)
    val payload = Array.fill(3 * 6 * 23)((rng.nextInt(256) - 128).toByte)
    val plain = PngCodec.decode(PngCodec.encode(payload, 6))
    val ilaced = PngCodec.decode(
      PngCodec.encode(payload, 6, colorType = 2, interlaced = true))
    assert(ilaced.valid && ilaced.interlaced === 1L)
    // the seven passes must recompose to the SAME image — sums AND the
    // row/col-weighted placement stats (a mis-placed pass matches the
    // former but not the latter)
    assert((ilaced.width, ilaced.height, ilaced.nPixels) ===
      ((plain.width, plain.height, plain.nPixels)))
    assert((ilaced.sumR, ilaced.sumG, ilaced.sumB) ===
      ((plain.sumR, plain.sumG, plain.sumB)))
    assert(ilaced.meanLumaMilli === plain.meanLumaMilli)
    assert((ilaced.sumRowV, ilaced.sumColV) ===
      ((plain.sumRowV, plain.sumColV)),
      "deinterlacing must place every pass pixel at its global (x, y)")
    // palette composes with Adam7 on one wire
    val idxPay = Array.fill(5 * 9)((rng.nextInt(256) - 128).toByte)
    val pp = PngCodec.decode(PngCodec.encode(idxPay, 5, colorType = 3))
    val pi = PngCodec.decode(
      PngCodec.encode(idxPay, 5, colorType = 3, interlaced = true))
    assert(pi.valid && (pi.sumRowV, pi.sumColV, pi.sumR) ===
      ((pp.sumRowV, pp.sumColV, pp.sumR)))
    // degenerate geometries: most passes EMPTY (omitted entirely per
    // spec, not emitted as zero-size scanlines)
    for ((w, h) <- Seq((1, 1), (2, 2), (1, 5), (8, 1))) {
      val tiny = Array.fill(3 * w * h)((rng.nextInt(256) - 128).toByte)
      val t = PngCodec.decode(
        PngCodec.encode(tiny, w, colorType = 2, interlaced = true))
      val tp = PngCodec.decode(PngCodec.encode(tiny, w))
      assert(t.valid && t.nPixels === (w * h).toLong, s"($w, $h)")
      assert((t.sumR, t.sumRowV, t.sumColV) ===
        ((tp.sumR, tp.sumRowV, tp.sumColV)), s"($w, $h)")
    }
    // a truncated interlaced stream (one pass short) is visible
    assert(!PngCodec.decode(PngCodec.encode(payload, 6, 2, true)
      .dropRight(13)).valid)
  }

  test("16-bit and gray+alpha wires (E285): BE samples, alpha is coverage") {
    val rng = new scala.util.Random(92)
    // gray16: big-endian pairs; sums are over 0..65535 sample VALUES
    val g16 = Array.fill(2 * 20 * 9)((rng.nextInt(256) - 128).toByte)
    val d = PngCodec.decode(PngCodec.encode(g16, 20, colorType = 0,
      depth = 16))
    assert(d.valid && (d.width, d.height) === ((20L, 9L)))
    val samples = (0 until 20 * 9).map(i =>
      ((g16(2 * i) & 0xff) << 8 | (g16(2 * i + 1) & 0xff)).toLong)
    assert(d.sumR === samples.sum && d.sumG === samples.sum)
    assert(d.sumRowV ===
      samples.zipWithIndex.map { case (v, i) => (i / 20) * 3 * v }.sum,
      "16-bit placement weights ride the decoded VALUES")
    // rgb16: three BE pairs per pixel
    val rgb16 = Array.fill(6 * 4 * 7)((rng.nextInt(256) - 128).toByte)
    val r16 = PngCodec.decode(PngCodec.encode(rgb16, 4, colorType = 2,
      depth = 16))
    def ch16(o: Int) = (0 until 4 * 7).map(i =>
      ((rgb16(6 * i + 2 * o) & 0xff) << 8 |
        (rgb16(6 * i + 2 * o + 1) & 0xff)).toLong).sum
    assert(r16.valid && (r16.sumR, r16.sumG, r16.sumB) ===
      ((ch16(0), ch16(1), ch16(2))))
    // 16-bit composes with Adam7: the placement identity again
    val i16 = PngCodec.decode(PngCodec.encode(g16, 20, colorType = 0,
      interlaced = true, depth = 16))
    assert(i16.valid && (i16.sumR, i16.sumRowV, i16.sumColV) ===
      ((d.sumR, d.sumRowV, d.sumColV)))
    // gray+alpha: the gray sample carries the stats; flipping every
    // ALPHA byte must not move a single sum
    val ga = Array.fill(2 * 20 * 6)((rng.nextInt(256) - 128).toByte)
    val gaFlipped = ga.clone()
    for (i <- gaFlipped.indices if i % 2 == 1)
      gaFlipped(i) = (gaFlipped(i) ^ 0xff).toByte
    val a1 = PngCodec.decode(PngCodec.encode(ga, 20, colorType = 4))
    val a2 = PngCodec.decode(PngCodec.encode(gaFlipped, 20, colorType = 4))
    assert(a1.valid && a2.valid)
    assert((a1.sumR, a1.sumRowV, a1.sumColV) ===
      ((a2.sumR, a2.sumRowV, a2.sumColV)),
      "alpha is coverage, not color — it must never reach the stats")
    assert(a1.sumR === (0 until 20 * 6).map(i => (ga(2 * i) & 0xff).toLong).sum)
    // 16-bit palette cannot exist (spec); 16-bit gray+alpha stays fenced
    val deep3 = sig ++ chunk("IHDR",
      be32(2) ++ be32(1) ++ Array[Byte](16, 3, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](1)) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(deep3).valid)
    val deep4 = sig ++ chunk("IHDR",
      be32(2) ++ be32(1) ++ Array[Byte](16, 4, 0, 0, 0)) ++
      chunk("IDAT", Array[Byte](1)) ++ chunk("IEND", Array.empty[Byte])
    assert(!PngCodec.decode(deep4).valid)
    // PLTE on a gray+alpha image is forbidden (gray family rule)
    assert(!PngCodec.decode(pngOf(2, 1, 4,
      Array[Byte](0, 5, 9, 7, 3),
      Seq(chunk("PLTE", Array[Byte](1, 2, 3))))).valid)
  }

  test("packed sub-byte depths decode MSB-first (E290)") {
    // hand-built wires, independent of the encoder, pin the BIT order
    def pngD(w: Int, h: Int, colorType: Int, depth: Int,
        scanlines: Array[Byte], extra: Seq[Array[Byte]] = Nil): Array[Byte] = {
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(scanlines); deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      sig ++
        chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
          Array[Byte](depth.toByte, colorType.toByte, 0, 0, 0)) ++
        extra.flatten ++
        chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.empty[Byte])
    }
    // depth 4 gray, width 3: row 0xAB 0xC0 -> pixels 10, 11, 12 — the
    // padding nibble never reaches a pixel
    val d4 = PngCodec.decode(pngD(3, 1, 0, 4,
      Array[Byte](0, 0xAB.toByte, 0xC0.toByte)))
    assert(d4.valid && d4.sumR === 33L)
    assert(d4.sumColV === 3L * (0 * 10 + 1 * 11 + 2 * 12))
    // depth 1 gray, width 10: 0b11000101, 0b11(pad 0) -> six set bits
    val d1 = PngCodec.decode(pngD(10, 1, 0, 1,
      Array[Byte](0, 0xC5.toByte, 0xC0.toByte)))
    assert(d1.valid && d1.sumR === 6L)
    assert(d1.sumColV === 3L * (0 + 1 + 5 + 7 + 8 + 9))
    // depth 2 palette: pixels (3, 1, 0, 2) pack to 0b11_01_00_10
    val plte4 = chunk("PLTE",
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    val d2 = PngCodec.decode(pngD(4, 1, 3, 2,
      Array[Byte](0, 0xD2.toByte), Seq(plte4)))
    assert(d2.valid && d2.sumR === (10L + 4L + 1L + 7L),
      "packed indices must resolve through the PLTE, MSB-first")
    // pixel 3 on a THREE-entry palette is a forged pixel
    val plte3 = chunk("PLTE", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    assert(!PngCodec.decode(pngD(4, 1, 3, 2,
      Array[Byte](0, 0xD2.toByte), Seq(plte3))).valid)
    // a palette LARGER than 2^depth declares unaddressable entries
    val plte5 = chunk("PLTE", Array.fill[Byte](15)(1))
    assert(!PngCodec.decode(pngD(4, 1, 3, 2,
      Array[Byte](0, 0x12), Seq(plte5))).valid)
    // sub-byte RGB stays impossible (type 2 requires depth >= 8)
    assert(!PngCodec.decode(pngD(3, 1, 2, 4,
      Array[Byte](0, 0xAB.toByte, 0xC0.toByte))).valid)
    // encoder round trip across depths x color types x interlace; the
    // filter cycle runs on the PACKED bytes (bpp = 1) per spec §9.2
    val rng = new scala.util.Random(29)
    val payload = Array.fill(13 * 7)((rng.nextInt(256) - 128).toByte)
    for (depth <- Seq(1, 2, 4); ct <- Seq(0, 3); il <- Seq(false, true)) {
      val png = PngCodec.encode(payload, 13, ct, il, depth)
      assert(png !== null)
      val d = PngCodec.decode(png)
      assert(d.valid, s"depth=$depth ct=$ct il=$il")
      val mask = (1 << depth) - 1
      val vs = payload.map(_ & 0xff).map(_ & mask)
      if (ct == 0) {
        assert(d.sumR === vs.map(_.toLong).sum, s"depth=$depth il=$il")
        assert(d.sumG === d.sumR && d.sumB === d.sumR)
      } else {
        assert(d.sumR === vs.map(i => PngCodec.palR(i).toLong).sum)
        assert(d.sumG === vs.map(i => PngCodec.palG(i).toLong).sum)
        assert(d.sumB === vs.map(i => PngCodec.palB(i).toLong).sum,
          s"depth=$depth il=$il")
      }
      if (il) {
        // placement: Adam7 must match the plain wire's weighted sums
        val dp = PngCodec.decode(PngCodec.encode(payload, 13, ct,
          interlaced = false, depth))
        assert(d.sumRowV === dp.sumRowV && d.sumColV === dp.sumColV,
          s"depth=$depth ct=$ct: sub-byte packing must compose with Adam7")
      }
    }
  }

  test("engine round trip on real documents matches raw-payload channel sums") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 40)
    val assets = graft.ext.Multimodal.documentsAsAssets(docs)
    val stats = graft.ext.Multimodal.pngStats(Barrier(
      graft.ext.Multimodal.encodePng(assets, width = 6)))
      .collect()
    assert(stats.nonEmpty)
    val raw = docs.select(col("doc_id"), col("text").cast("binary").as("p"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Array[Byte]]("p")).toMap
    stats.foreach { r =>
      assert(r.getAs[Boolean]("is_valid"))
      val p = raw(r.getAs[Long]("asset_id"))
      val h = p.length / 18
      val px = p.take(18 * h).map(_ & 0xff)
      def ch(o: Int) = px.indices.filter(_ % 3 == o).map(px(_).toLong).sum
      assert(r.getAs[Long]("sum_r") === ch(0))
      assert(r.getAs[Long]("sum_g") === ch(1))
      assert(r.getAs[Long]("sum_b") === ch(2))
      assert(r.getAs[Long]("n_pixels") === 6L * h)
    }
  }
}
