package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling-exponent harness: measures how the heaviest queries'
  * wall time grows on 1×/2×/4×/8× synthesized corpora and fits the log-log
  * slope, turning each operator's "Scale:" doc comment from a claim into a
  * checkable number (committed as SCALING.md + bench/scaling_latest.json).
  *
  * Two growth models, because "2× the data" is ambiguous for pair-mining:
  *
  *  - UNIFORM: replica r's keys are salted (`key·k + r`) AND its content is
  *    made disjoint (documents: a per-replica letter-substitution cipher
  *    plus a replica marker on every token — token- AND pixel-disjoint;
  *    embeddings: per-replica sign-flip masks — cosine-structure-preserving
  *    within a replica, decorrelated across replicas). Duplicate/pair
  *    STRUCTURE per replica matches the base corpus, so pair mass grows
  *    k× — this measures the ENGINE's growth (shuffles, windows, explodes)
  *    at a fixed data distribution: the "would this hold at 100 TB" axis.
  *    Expected exponents ≈ 1 (linear) for everything candidate-scoped.
  *
  *  - DUPHEAVY: replicas are verbatim copies under salted ids — every doc
  *    becomes an exact-dup cluster of size k, so pair mass grows k². This
  *    measures cost tracking its documented DRIVER (pair mass for the
  *    similarity joins, Σcell² for semantic dedup): the exponent must stay
  *    ≤ the driver's own growth (2), proving cost never exceeds the
  *    declared bound even under adversarial duplication.
  *
  * Timing discipline is Bench's: noop sink (count-pruning would delete the
  * work under test), interleaved passes, per-point min.
  *
  * Usage: `runMain graft.ScaleBench [workDir]` with SPARK_GRAFT_SF_DIR as
  * the base corpus (default sf0.1). Synthesized corpora land under workDir
  * (default /tmp/graft_scale_v2 — the suffix versions the replica
  * TRANSFORM: the _SUCCESS-based reuse can never distinguish corpora
  * synthesized by an older transform, so a transform change must move
  * the directory) and are reused if already present.
  */
object ScaleBench {

  /** (query, uniform bound, dupheavy bound, documented cost driver).
    * Bounds are the exponents the operator's scale note promises; the fit
    * must come in at or under them (+0.15 fit tolerance in the report).
    */
  val targets: Seq[(String, Double, Double, String)] = Seq(
    ("q190_yield_curve", 1.35, 2.0, "pair mass of the tau>=0.5 set-sim join"),
    ("q187_threshold_sweep", 1.35, 2.0, "pair mass of the tau>=0.5 PPJoin candidates"),
    ("q177_setsim_join", 1.35, 2.0, "pair mass (lossless prefix filter)"),
    ("q139_functional_deps", 1.35, 1.35, "rows x fixed Expand width"),
    ("q123_composite_keys", 1.35, 1.35, "rows x fixed Expand width"),
    ("q93_semantic_dedup", 1.6, 2.0, "sum of cell^2 with hot-cell splitting"),
    ("q51_embedding_dedup_clusters", 1.6, 2.0, "LSH block pairs under bucket caps"),
    ("q226_pq_curve", 1.35, 1.35, "rows x fixed codebook iterations"),
    ("q16_datatest_metrics", 1.35, 1.35, "per-edge scans + FK equi-joins"),
    ("q189_rank_auc", 1.6, 2.0, "near-dup pair set + distinct-value ranks"),
    // media growth: the uniform model's substitution cipher + token
    // markers make replica payload bytes pixel-disjoint, so replicas
    // decode as distinct assets with the base corpus's per-asset
    // geometry preserved
    ("q269_dhash_scale", 1.35, 2.0,
      "uniform: 65,536-key 16-bit bands keep candidate mass near-linear " +
        "on content-disjoint growth (the 128-bit fingerprint removed the " +
        "256-key saturation ceiling); the corpus's tie-flat-fingerprint " +
        "cluster still yields quadratic pair OUTPUT but stays a small " +
        "fraction of the banded-frame shuffle mass in the 1-8x range; " +
        "dupheavy: verbatim replicas share one fingerprint, pair mass " +
        "k^2 is the documented driver (block-salted for task balance)"),
    ("q270_y4m_scale", 1.35, 1.35,
      "pixel mass: one native frame walk per asset, no pair stage"),
    ("q273_audio_neardup_scale", 1.35, 2.0,
      "uniform: 16-bit-band buckets over the 128-bit audio fingerprint " +
        "grow with the corpus, candidate mass near-linear; dupheavy: " +
        "verbatim replicas share one fingerprint, pair mass k^2 is the " +
        "documented driver (block-salted for task balance)"),
    ("q274_png_scale", 1.35, 1.35,
      "byte mass: one native chunk-walk + inflate + unfilter pass per " +
        "asset, no pair stage"),
    ("q287_gif_scale", 1.35, 1.35,
      "byte mass: one native LZW pass per asset, O(4096) dictionary " +
        "state, no pair stage"),
    ("q284_mjpeg_scale", 1.35, 1.35,
      "container byte mass: one RIFF walk + per-frame entropy decode " +
        "per asset, no pair stage"),
    ("q281_jpegdct_scale", 1.35, 1.35,
      "byte mass: one native DCT entropy-decode + fixed-point-IDCT pass " +
        "per asset (O(64) block state), no pair stage"),
    ("q293_warc_scale", 1.35, 1.35,
      "archive byte mass: one record-grammar walk per archive, O(record) " +
        "state, no pair stage"),
    ("q300_tiff_scale", 1.35, 1.35,
      "byte mass: one IFD walk + strip decode per asset, O(row) state, " +
        "no pair stage"),
    ("q301_flac_scale", 1.35, 1.35,
      "sample mass: one Rice-decode + fixed-predictor + MD5 pass per " +
        "asset, O(blockSize) state, no pair stage"),
    ("q313_wet_scale", 1.35, 1.35,
      "archive byte mass: one record walk + HTTP parse per archive, " +
        "then one regex clean per 200-response row — map-only both " +
        "sides of the explode, no pair stage"),
    ("q323_tar_scale", 1.35, 1.35,
      "shard byte mass: one whole-stream inflate + ustar header walk " +
        "per shard, O(1) state beyond the current header, no pair " +
        "stage"),
    ("q328_wat_scale", 1.35, 1.35,
      "archive byte mass: one record walk + HTTP parse per archive, " +
        "then two regex extractions per response row — map-only both " +
        "sides of the explode, no pair stage"),
    ("q355_lz4_scale", 1.35, 1.35,
      "shard byte mass: one from-scratch LZ4 frame walk (sequence " +
        "decode + 64 KiB window) + ustar header walk per shard, " +
        "O(window) state, no pair stage"))

  private val uniformScales = Seq(1, 2, 4, 8)
  private val dupheavyScales = Seq(1, 2, 4)
  // only these read documents/embeddings exclusively — the dup-heavy model
  // is about content duplication, so TPC-H-shaped targets are uniform-only
  private val dupheavyQueries = Set("q190_yield_curve", "q187_threshold_sweep",
    "q177_setsim_join", "q93_semantic_dedup", "q51_embedding_dedup_clusters",
    // verbatim replicas share one fingerprint -> exact-dup clusters of
    // size k in every band bucket: pair mass k^2, the declared driver
    "q269_dhash_scale", "q273_audio_neardup_scale")

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  /** Key columns salted `key·k + r` so replicas stay join-consistent and
    * key cardinality grows k× (the LSH/bucket cardinality axis).
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def replica(base: DataFrame, table: String, k: Int, r: Int,
      uniform: Boolean): DataFrame = {
    var df = base
    keyCols(table).foreach(c =>
      df = df.withColumn(c, col(c) * k + r))
    if (uniform && r > 0 && table == "documents") {
      // disjoint token space per replica: same length/gram structure, zero
      // cross-replica collisions (the fixed-dup-rate growth model). The
      // token markers alone make replicas TOKEN-disjoint but leave them
      // nearly PIXEL-identical -- a replica's bytes differ from the base's
      // by one marker char per token, so perceptual-hash queries (q269)
      // saw every replica set as a genuine near-dup image cluster and
      // their "uniform" pair mass grew ~k^2 by fixture construction, not
      // by plan. A per-replica letter-substitution cipher (deterministic
      // seeded permutation -- a bijection, so within-replica equality
      // structure and all lengths/token boundaries are preserved exactly)
      // makes the byte streams pixel-disjoint across replicas too, so the
      // uniform model measures engine growth for EVERY modality hashed.
      val lower = ('a' to 'z').mkString
      val upper = ('A' to 'Z').mkString
      val rng = new scala.util.Random(0xC0FFEE + r)
      val perm = rng.shuffle(lower.toList).mkString +
        rng.shuffle(upper.toList).mkString
      df = df
        .withColumn("text", translate(col("text"), lower + upper, perm))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("\u0001" + r.toString))), " "))
        .withColumn("n_chars", length(col("text")))
    }
    if (uniform && r > 0 && table == "embeddings") {
      // deterministic per-replica SIGN-FLIP pattern: cos(s∘x, s∘y) =
      // cos(x, y) exactly, so each replica's internal pair/cluster
      // structure matches the base corpus bit-for-bit, while cross-replica
      // cosines decorrelate (balanced ±1 masks) — additive noise would do
      // the OPPOSITE (each replica a near-dup of its base vector, pair
      // mass k², the dupheavy model by accident)
      df = df.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(pmod(hash(i, lit(r)), lit(2)) === 0, x).otherwise(-x)))
    }
    df
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Repair-or-reuse synthesis. Per-table `_SUCCESS` is the ONLY
    * completeness signal — there is deliberately no directory-level "done"
    * marker (an aggregate marker written after a partial table would
    * certify a truncated corpus forever, and a legacy marker would mask
    * the repair). Incomplete dirs are deleted and rewritten — safe because
    * a sweep OWNS its workDir: running two sweeps against the same workDir
    * concurrently is unsupported (B would delete A's in-progress table).
    */
  private[graft] def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      k: Int, uniform: Boolean): Unit = {
    allTables.foreach { t =>
      val tableDir = new java.io.File(s"$outDir/$t.parquet")
      if (!new java.io.File(tableDir, "_SUCCESS").exists()) {
        if (tableDir.exists()) {
          deleteRecursively(tableDir)
          require(!tableDir.exists(),
            s"cannot repair partial synthesis output at $tableDir (undeletable)")
        }
        val base = spark.read.parquet(s"$baseDir/$t.parquet")
        val out = (0 until k).map(r => replica(base, t, k, r, uniform))
          .reduce(_.union(_))
        out.write.mode(SaveMode.ErrorIfExists).parquet(tableDir.getPath)
      }
    }
  }

  /** One timed noop-sink run under a cancellation watchdog: a point that
    * exceeds `timeoutSec` is cancelled via its job group and recorded as
    * failed — one pathological point must not wedge the whole sweep.
    * Returns (wall seconds, shuffle bytes read+written) — the byte figure
    * comes from job-group-attributed task metrics and is LOAD-INVARIANT,
    * so the byte-exponent fit is immune to the wall-clock noise the wall
    * fit has to tolerate. (-1, -1) on failure.
    */
  private def timeOnce(spark: SparkSession, metrics: QueryTaskMetricsListener,
      name: String, dir: String, pass: Int, timeoutSec: Int = 600): (Double, Double) = {
    // pass-scoped group (Bench's "#$pass" discipline): straggler task-end
    // events from a cancelled earlier pass must not fold into this pass
    val group = s"scale:$name:$dir#$pass"
    metrics.reset(group)
    val watchdog = new java.util.Timer(true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit = {
        System.err.println(s"[scale] TIMEOUT ($timeoutSec s): cancelling $name @ $dir")
        spark.sparkContext.cancelJobGroup(group)
      }
    }, timeoutSec * 1000L)
    try {
      val wall = Bench.timeNoop(spark, group, name, interruptOnCancel = true)(
        SparkEntry.queries(name)(spark, dir)).fold(e => throw e, identity)
      org.apache.spark.graftshim.ListenerFlush.waitUntilEmpty(spark.sparkContext)
      // a MISSING snapshot is unknown (-1), never "zero shuffle" — zero
      // would silently disable the byte gate for a shuffle-heavy query
      val bytes = metrics.snapshot(group)
        .map(a => (a.shuffleRead + a.shuffleWrite).toDouble).getOrElse(-1.0)
      (wall, bytes)
    } catch { case e: Throwable =>
      System.err.println(s"[scale] $name @ $dir failed: $e"); (-1.0, -1.0)
    } finally {
      watchdog.cancel()
      metrics.reset(group)
    }
  }

  /** Least-squares slope of ln t on ln k. */
  def fitSlope(points: Seq[(Int, Double)]): Double = {
    val xs = points.map(p => math.log(p._1.toDouble))
    val ys = points.map(p => math.log(math.max(p._2, 1e-3)))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    num / den
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = args.headOption.getOrElse("/tmp/graft_scale_v2")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new QueryTaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    Bench.warmUp(spark, baseDir)

    // ---- synthesis (reused per table via _SUCCESS, repaired if partial) ----
    for (k <- uniformScales)
      synthesize(spark, baseDir, s"$workDir/uniform_x$k", k, uniform = true)
    for (k <- dupheavyScales)
      synthesize(spark, baseDir, s"$workDir/dupheavy_x$k", k, uniform = false)

    // ---- measurement: interleaved passes, per-point min wall; shuffle
    // bytes are deterministic per point (last successful pass kept) ----
    val points = collection.mutable.LinkedHashMap[(String, String, Int), Double]()
    val bytesPts = collection.mutable.LinkedHashMap[(String, String, Int), Double]()
    val work: Seq[(String, String, Int)] =
      (for (k <- uniformScales; (q, _, _, _) <- targets)
        yield (q, "uniform", k)) ++
      (for (k <- dupheavyScales; (q, _, _, _) <- targets
            if dupheavyQueries(q))
        yield (q, "dupheavy", k))
    val passes = 2
    for (p <- 1 to passes; (q, model, k) <- work) {
      val (t, b) = timeOnce(spark, metrics, q, s"$workDir/${model}_x$k", p)
      val key = (q, model, k)
      if (points.get(key).forall(prev => prev < 0 || (t >= 0 && t < prev))) points(key) = t
      if (b >= 0) bytesPts(key) = b
      // b < 0 is the "metrics missing" sentinel — don't print it as -0.0 MB
      val mb = if (b >= 0) f"${b / 1e6}%.1f MB shuffled" else "shuffle bytes unknown"
      if (p == 1) println(f"[scale] pass1 $model x$k $q%-30s ${t}%.2f s $mb")
    }

    // ---- fit + report ----
    val (commit, dirty) = Bench.gitProvenance()
    val ts = java.time.Instant.now().toString
    val tol = 0.15

    case class Fit(q: String, model: String, slope: Double,
        byteSlope: Option[Double], byteMissing: Boolean, bound: Double,
        driver: String, pts: Seq[(Int, Double)]) {
      def ok: Boolean = slope <= bound + tol
      // the byte exponent is load-invariant, so it gets NO noise tolerance
      def bytesOk: Boolean = byteSlope.forall(_ <= bound + 0.05)
    }
    // every attempted (query, model) sweep is accounted for: sweeps with
    // <3 valid points (timeouts/failures) become DROPPED rows, never a
    // silent absence that would let the all-clear line below lie
    val attempts: Seq[(String, String, Double, String, Seq[(Int, Double)])] =
      targets.flatMap { case (q, ub, db, driver) =>
        def pts(model: String, scales: Seq[Int]) = scales.flatMap(k =>
          points.get((q, model, k)).filter(_ >= 0).map(k -> _))
        Seq((q, "uniform", ub, driver, pts("uniform", uniformScales))) ++
          (if (dupheavyQueries(q))
            Seq((q, "dupheavy", db, driver, pts("dupheavy", dupheavyScales)))
          else Nil)
      }
    // three byte-exponent states: Some(slope) = fit; None+byteMissing=false
    // = genuinely map-only (bytes tiny at every scale); byteMissing=true =
    // metric attribution failed — reported, never silently passed
    def byteSlopeOf(q: String, m: String): (Option[Double], Boolean) = {
      val scales = if (m == "uniform") uniformScales else dupheavyScales
      val bp = scales.flatMap(k =>
        bytesPts.get((q, m, k)).filter(_ >= 0.0).map(k -> _))
      if (bp.size < 3) (None, true)
      else if (bp.forall(_._2 > 65536.0)) (Some(fitSlope(bp)), false)
      // map-only ONLY when every point sits at the noise floor — a query
      // that shuffles at larger scales but not smaller ones (mixed case)
      // must surface as "metrics missing"/wall-gate-only, not as a clean
      // map-only '-' that silently drops its load-invariant byte gate
      else if (bp.forall(_._2 <= 65536.0)) (None, false)
      else (None, true)
    }
    val fits = attempts.collect { case (q, m, b, d, pts) if pts.size >= 3 =>
      val (bs, missing) = byteSlopeOf(q, m)
      Fit(q, m, fitSlope(pts), bs, missing, b, d, pts)
    }
    val dropped = attempts.filter(_._5.size < 3)

    val md = new StringBuilder
    md.append("# SCALING — measured growth exponents\n\n")
    md.append(s"Base corpus: `$baseDir`; synthesized 2x/4x/8x under `$workDir`.\n")
    md.append(s"Commit `$commit` (dirty: $dirty), $ts. Method: per-(query, scale) min over\n")
    md.append(s"$passes interleaved noop-sink passes; exponent = least-squares\n")
    md.append("slope of ln(wall) on ln(scale). Growth models:\n\n")
    md.append("- **uniform** — salted keys + disjoint content per replica\n")
    md.append("  (token markers / embedding sign-flip masks): pair mass grows kx;\n")
    md.append("  measures ENGINE growth at a fixed data distribution. The\n")
    md.append("  100 TB axis; bound is each operator's documented complexity.\n")
    md.append("- **dupheavy** — verbatim copies under salted ids: every doc an\n")
    md.append("  exact-dup cluster of size k, pair mass k^2; cost must track its\n")
    md.append("  documented driver, never exceed it.\n\n")
    md.append(s"PASS = wall slope <= bound + $tol fit tolerance. The shuffle-byte\n")
    md.append("exponent (job-group task metrics, LOAD-INVARIANT, 0.05 tolerance)\n")
    md.append("measures a DIFFERENT resource: traffic over the cluster wire. The two\n")
    md.append("legitimately diverge — pair-mining queries shuffle the gram/signature\n")
    md.append("stream (linear in corpus mass) and explode pairs INSIDE the join\n")
    md.append("after the exchange, so under dup-heavy growth wall tracks pair mass\n")
    md.append("while bytes stay ~linear: the wire never carries the k^2 blow-up.\n")
    md.append("Map-only queries (no shuffle at any scale) show `-`.\n\n")
    md.append("| query | model | wall exponent | shuffle-byte exponent | bound | verdict | seconds at 1x/2x/4x/8x | documented cost driver |\n")
    md.append("|---|---|---|---|---|---|---|---|\n")
    fits.foreach { f =>
      val secs = f.pts.map(p => f"${p._2}%.2f").mkString(" / ")
      val bs = f.byteSlope.map(v => f"$v%.2f")
        .getOrElse(if (f.byteMissing) "? (metrics missing)" else "-")
      // a missing byte gate is NOT a clean pass: say so in the verdict
      // cell itself, not only in the tracked-items list below
      val verdict =
        if (!(f.ok && f.bytesOk)) "**EXCEEDED**"
        else if (f.byteMissing) "PASS (wall gate only)"
        else "PASS"
      md.append(f"| ${f.q} | ${f.model} | ${f.slope}%.2f | " +
        s"$bs | ${f.bound} | $verdict | $secs | ${f.driver} |\n")
    }
    dropped.foreach { case (q, m, b, d, pts) =>
      md.append(s"| $q | $m | **NOT MEASURED** (${pts.size} valid points) | - | $b | " +
        s"**DROPPED** | ${pts.map(p => f"${p._2}%.2f").mkString(" / ")} | $d |\n")
    }
    val exceeded = fits.filterNot(f => f.ok && f.bytesOk)
    md.append("\n")
    if (exceeded.isEmpty && dropped.isEmpty && !fits.exists(_.byteMissing))
      md.append("All measured exponents within their documented bounds.\n")
    else {
      md.append("## Exceeded, unmeasured, or metric-less (tracked items)\n\n")
      exceeded.foreach { f =>
        if (!f.ok)
          md.append(f"- ${f.q} (${f.model}): WALL exponent ${f.slope}%.2f > bound ${f.bound} + $tol — investigate.\n")
        f.byteSlope.filter(_ > f.bound + 0.05).foreach(v =>
          md.append(f"- ${f.q} (${f.model}): SHUFFLE-BYTE exponent $v%.2f > bound ${f.bound} + 0.05 — investigate.\n"))
      }
      fits.filter(_.byteMissing).foreach(f =>
        md.append(s"- ${f.q} (${f.model}): byte gate not fittable (metric attribution failed, or mixed above/below-noise-floor points) — wall gate only.\n"))
      dropped.foreach { case (q, m, _, _, pts) =>
        md.append(s"- $q ($m): only ${pts.size} valid points (timeout/failure) — " +
          "the sweep did NOT measure this target; re-run before trusting the table.\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALING.md"),
      md.toString)

    val ptsJson = points.map { case ((q, m, k), t) =>
      val b = bytesPts.get((q, m, k)).map(_.toLong).getOrElse(-1L)
      s"""{"query":"$q","model":"$m","scale":$k,"sec":$t,"shuffle_bytes":$b}"""
    }.mkString("[", ",", "]")
    // ok means "every gate RAN and passed" — a fit whose byte gate could
    // not run (byte_missing) must not certify as ok, or tooling that keys
    // on this field alone silently loses the load-invariant gate
    val fitsJson = fits.map(f =>
      f"""{"query":"${f.q}","model":"${f.model}","slope":${f.slope}%.3f,""" +
        s""""byte_slope":${f.byteSlope.map(v => f"$v%.3f").getOrElse("null")},""" +
        s""""byte_missing":${f.byteMissing},""" +
        s""""bound":${f.bound},"ok":${f.ok && f.bytesOk && !f.byteMissing}}""")
      .mkString("[", ",", "]")
    val droppedJson = dropped.map { case (q, m, _, _, pts) =>
      s"""{"query":"$q","model":"$m","n_valid_points":${pts.size}}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"scaling","commit":"$commit","dirty":$dirty,"timestamp":"$ts",""" +
        s""""base":"$baseDir","fits":$fitsJson,"dropped":$droppedJson,""" +
        s""""points":$ptsJson}"""
    println(line)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench", "scaling_latest.json"), line + "\n")
    } catch { case e: Exception =>
      System.err.println(s"scaling summary write failed: $e")
    }
    spark.stop()
  }
}
