package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Barrier

/** Perceptual image dedup (E220/E221): dHash grid math pinned on
  * hand-built images, then the LSH band join proven equal to brute force.
  */
class ImageDHashSpec extends SparkSpec {

  /** A 9x8 image, one pixel per dHash cell, as an encodeBmp(width=9)
    * payload: stride = ceil(27/4)*4 = 28, so each row is 27 pixel bytes
    * (BGR, all channels = lum(x)) plus one pad byte the reader skips.
    */
  private def gridPayload(lum: Int => Int): Array[Byte] = {
    val out = new Array[Byte](8 * 28)
    for (y <- 0 until 8; x <- 0 until 9; ch <- 0 until 3)
      out(y * 28 + x * 3 + ch) = lum(x).toByte
    out
  }

  private def assetsOf(rows: (Long, Array[Byte])*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.toSeq.toDF("asset_id", "payload")
      .select(col("asset_id"), lit("image").as("kind"),
        col("payload").as("bytes"),
        struct(lit("test").as("source"), lit("bin").as("mime")).as("meta"))
  }

  /** encodeBmp behind the Barrier Multimodal's composition note
    * prescribes for synthesized-bytes inputs.
    */
  private def encodedBmp(assets: org.apache.spark.sql.DataFrame, width: Int) =
    Barrier(Multimodal.encodeBmp(assets, width))

  test("dhash grid math: monotone gradient sets every bit, reverse sets none") {
    val assets = assetsOf(
      1L -> gridPayload(x => x * 10), // brighter to the right: all bits 1
      2L -> gridPayload(x => 80 - x * 10), // darker to the right: all 0
      3L -> gridPayload(_ => 7)) // flat: ties are 0 (strict >)
    val dh = Multimodal.bmpDHash(encodedBmp(assets, width = 9))
      .collect().map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Long]("dhash_lo"), r.getAs[Long]("dhash_hi"))).toMap
    assert(dh(1L) === (4294967295L, 4294967295L))
    assert(dh(2L) === (0L, 0L))
    assert(dh(3L) === (0L, 0L))
  }

  test("top-down and bottom-up storage of the same image hash identically") {
    // checkerboard with row-dependent PHASE: row y's horizontal bit
    // pattern is 1010... or 0101... by y parity, so reversing row order
    // genuinely changes the hash — a flip-invariant image (e.g. a pure
    // horizontal gradient) would make this test pass vacuously
    val payload = new Array[Byte](8 * 28)
    for (y <- 0 until 8; x <- 0 until 9; ch <- 0 until 3)
      payload(y * 28 + x * 3 + ch) = (((x + y) % 2) * 100 + 2 * x).toByte
    val bottomUp = Multimodal.encodeBmp(assetsOf(1L -> payload), width = 9)
      .select("bytes").head.getAs[Array[Byte]]("bytes")
    // hand-flip to top-down storage: height := -8 (two's complement LE at
    // offset 22) and the 8 pixel rows reversed — the same logical image
    val topDown = bottomUp.clone()
    topDown(22) = 0xf8.toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    for (r <- 0 until 8; b <- 0 until 28)
      topDown(54 + r * 28 + b) = bottomUp(54 + (7 - r) * 28 + b)
    val spark2 = spark
    import spark2.implicits._
    val both = Seq(10L -> bottomUp, 20L -> topDown).toDF("asset_id", "payload")
      .select(col("asset_id"), lit("image").as("kind"),
        col("payload").as("bytes"),
        struct(lit("t").as("source"), lit("bmp").as("mime")).as("meta"))
    val dh = Multimodal.bmpDHash(both)
      .collect().map(r => r.getAs[Long]("asset_id") ->
        (r.getAs[Long]("dhash_lo"), r.getAs[Long]("dhash_hi"))).toMap
    assert(dh(10L) === dh(20L),
      "storage row order must not change the perceptual hash")
    // adjacent grid rows carry OPPOSITE bit phases, so a row-order bug
    // could not have produced equal hashes by accident
    assert((dh(10L)._1 & 0xffL) === (~(dh(10L)._1 >> 8) & 0xffL))
  }

  test("dhash undefined below the 9x8 grid: small assets are dropped") {
    // width=6 BMP can never reach 9 grid columns
    val assets = Multimodal.documentsAsAssets(
      Tables.documents(spark, sf0001).filter(col("doc_id") < 10))
    val dh = Multimodal.bmpDHash(encodedBmp(assets, width = 6))
    assert(dh.count() === 0)
  }

  /** A 9x9 image, one pixel per cell of BOTH grid orientations, addressed
    * by IMAGE row (encodeBmp stores bottom-up: stored row y_s holds image
    * row 8 - y_s). Stride = 28 as in [[gridPayload]].
    */
  private def gridPayload9(lum: (Int, Int) => Int): Array[Byte] = {
    val out = new Array[Byte](9 * 28)
    for (ys <- 0 until 9; x <- 0 until 9; ch <- 0 until 3)
      out(ys * 28 + x * 3 + ch) = lum(x, 8 - ys).toByte
    out
  }

  test("128-bit grid math: gradients light exactly one orientation's words") {
    val assets = assetsOf(
      1L -> gridPayload9((x, _) => x * 10),      // brighter rightward
      2L -> gridPayload9((_, r) => r * 10),      // brighter downward (image rows)
      3L -> gridPayload9((x, r) => x * 10 + r * 10)) // both gradients
    val dh = Multimodal.bmpDHash128(encodedBmp(assets, width = 9))
      .collect().map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Long]("d0"), r.getAs[Long]("d1"),
          r.getAs[Long]("d2"), r.getAs[Long]("d3")))).toMap
    val all = 4294967295L
    assert(dh(1L) === ((all, all, 0L, 0L)),
      "horizontal gradient must set every row bit and no column bit")
    assert(dh(2L) === ((0L, 0L, all, all)),
      "vertical gradient must set every column bit and no row bit")
    assert(dh(3L) === ((all, all, all, all)))
    // below the 9-row column grid: bmpDHash128 drops what bmpDHash keeps
    val eightRows = assetsOf(9L -> gridPayload(x => x * 10))
    assert(Multimodal.bmpDHash(encodedBmp(eightRows, width = 9)).count() === 1)
    assert(Multimodal.bmpDHash128(encodedBmp(eightRows, width = 9)).count() === 0)
  }

  test("d0/d1 of the 128-bit walk are bit-identical to bmpDHash") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 60)
    val enc = encodedBmp(Multimodal.documentsAsAssets(docs), width = 16)
    val wide = Multimodal.bmpDHash128(enc).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Long]("d0"), r.getAs[Long]("d1")))).toMap
    val narrow = Multimodal.bmpDHash(enc).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Long]("dhash_lo"), r.getAs[Long]("dhash_hi")))).toMap
    assert(wide.nonEmpty)
    wide.foreach { case (id, d01) => assert(narrow(id) === d01) }
  }

  test("near-identical images land within a few bits; exact twins at 0") {
    val base = gridPayload9((x, r) => ((x + r) % 2) * 60 + x * 5)
    val oneCell = base.clone()
    // brighten one interior pixel by 2: at most the two row comparisons
    // and two column comparisons touching that cell can flip
    oneCell(2 * 28 + 4 * 3) = (oneCell(2 * 28 + 4 * 3) + 2).toByte
    val assets = assetsOf(1L -> base, 2L -> base.clone(), 3L -> oneCell)
    val pairs = Multimodal.dhashNearDup(
      Multimodal.bmpDHash128(encodedBmp(assets, width = 9)),
      maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs((1L, 3L)) <= 4L)
    assert(pairs((2L, 3L)) === pairs((1L, 3L)))
  }

  test("128-bit band join equals brute force (lossless candidates at tau <= 7)") {
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 80)
      .select(col("doc_id"), col("text"), col("source"))
    val variants = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" " * 9)).as("text"), col("source"))
    val hashes = Multimodal.bmpDHash128(encodedBmp(
      Multimodal.documentsAsAssets(docs.unionByName(variants)), width = 16))
      .localCheckpoint()
    val viaBands = Multimodal.dhashNearDup(hashes, maxHamming = 6)
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("hamming"))).toSet
    val h = hashes.collect()
      .map(r => (r.getAs[Long]("asset_id"),
        Seq(r.getAs[Long]("d0"), r.getAs[Long]("d1"),
          r.getAs[Long]("d2"), r.getAs[Long]("d3"))))
    val brute = (for {
      (a, wa) <- h; (b, wb) <- h if a < b
      d = wa.zip(wb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= 6
    } yield (a, b, d.toLong)).toSet
    assert(viaBands === brute)
    assert(brute.nonEmpty, "fixture produced no near-dup pairs")
  }

  test("4-word fingerprints band as 8x16-bit keys (65,536-key band space)") {
    val spark2 = spark
    import spark2.implicits._
    // word j = hi_j * 65536 + lo_j with distinct halves per word
    val rows = Seq((1L, 7L * 65536 + 9, 1L * 65536 + 2, 65535L, 65536L))
    val hashes = rows.toDF("asset_id", "a", "b", "c", "d")
    val bands = Multimodal
      .fingerprintBlocked(hashes, Seq("a", "b", "c", "d"), 4096)
      .select("band_id", "band_val").collect()
      .map(r => r.getAs[Int]("band_id") -> r.getAs[Long]("band_val")).toMap
    assert(bands === Map(0 -> 9L, 1 -> 7L, 2 -> 2L, 3 -> 1L,
      4 -> 65535L, 5 -> 0L, 6 -> 0L, 7 -> 1L))
    // every band key fits the 16-bit space
    assert(bands.values.forall(v => v >= 0 && v < 65536))
  }

  test("cross-multiplied mean compare is exact past the 64-bit product") {
    import graft.functions.MediaWalks.prodGreater
    // small values: plain-long behavior
    assert(prodGreater(3, 5, 2, 7))      // 15 > 14
    assert(!prodGreater(2, 7, 3, 5))
    assert(!prodGreater(3, 5, 5, 3))     // ties are false (strict >)
    // gigapixel-class cell sums overflow the 64-bit product; the compare
    // inverts exactly when the two wrapped products straddle the sign
    // boundary — pin such a pair: a*b ~ 9.3e18 (wraps negative) vs
    // c*d = 9.0e18 (stays positive), truly a*b > c*d
    val (a, b) = (3000000000L, 3100000000L)
    val (c, d) = (3000000000L, 3000000000L)
    assert(prodGreater(a, b, c, d))
    assert(!prodGreater(c, d, a, b))
    assert(!prodGreater(a, b, a, b))
    // and the plain wrapped-long compare gets exactly this pair wrong:
    assert(a * b < c * d,
      "fixture must actually invert under wrapped longs, or it proves nothing")
  }

  test("hot band bucket is block-salted: lossless pairs, no k^2 join key") {
    // a degenerate-but-realistic corpus: hundreds of near-constant images
    // whose fingerprints are IDENTICAL (not byte-identical assets, so
    // exact dedup would pass them) — every asset lands in the same bucket
    // of every band. With a small cap the join must run per block pair
    // and still return every pair.
    val spark2 = spark
    import spark2.implicits._
    val n = 600
    val cap = 64
    val hashes = (0 until n).map(i => (i.toLong, 12345L, 67890L))
      .toDF("asset_id", "dhash_lo", "dhash_hi")
    // block geometry: every band bucket holds all n assets, so each must
    // split into ceil(n/cap) blocks, and no block may exceed the cap by
    // more than hash-skew slack (3x is generous for xxhash64 on 600 keys)
    val blocked = Multimodal
      .fingerprintBlocked(hashes, Seq("dhash_lo", "dhash_hi"), cap)
      .localCheckpoint()
    val expectBlocks = (n + cap - 1) / cap
    val geom = blocked.groupBy("band_id", "band_val", "blk")
      .count().collect()
    assert(geom.map(_.getAs[Int]("blk")).distinct.length === expectBlocks,
      "hot bucket did not split into the expected block count")
    assert(geom.map(_.getAs[Long]("count")).max <= 3L * cap,
      "a single block carries far more than the cap")
    assert(blocked.select(col("nblocks")).distinct().head.getInt(0)
      === expectBlocks)
    // losslessness under blocking: every pair of the n identical
    // fingerprints is returned exactly once, at hamming 0
    val pairs = Multimodal.fingerprintNearDup(
      hashes, "dhash_lo", "dhash_hi", maxHamming = 6, bucketCap = cap)
    val agg = pairs.agg(count(lit(1)), sum(col("hamming")),
      countDistinct(col("asset_a"), col("asset_b"))).head
    assert(agg.getLong(0) === n.toLong * (n - 1) / 2)
    assert(agg.getLong(1) === 0L)
    assert(agg.getLong(2) === n.toLong * (n - 1) / 2)
  }

  test("block-salted join matches the uncapped result on a mixed corpus") {
    val spark2 = spark
    import spark2.implicits._
    // a hot clump (same fingerprint), a warm clump (1 bit off), and
    // scattered singletons — capped at 8 so both clumps split
    val rows =
      (0L until 100L).map(i => (i, 1000L, 2000L)) ++
      (100L until 160L).map(i => (i, 1001L, 2000L)) ++
      (160L until 200L).map(i => (i, i * 7919L % 4294967296L,
        i * 104729L % 4294967296L))
    val hashes = rows.toDF("asset_id", "dhash_lo", "dhash_hi")
      .localCheckpoint()
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("hamming"))).toSet
    val capped = asSet(Multimodal.fingerprintNearDup(
      hashes, "dhash_lo", "dhash_hi", maxHamming = 6, bucketCap = 8))
    val uncapped = asSet(Multimodal.fingerprintNearDup(
      hashes, "dhash_lo", "dhash_hi", maxHamming = 6,
      bucketCap = Int.MaxValue))
    assert(capped === uncapped)
    assert(capped.size >= 100 * 99 / 2 + 60 * 59 / 2 + 100 * 60,
      "fixture must exercise both clumps and the cross-clump pairs")
  }
}
