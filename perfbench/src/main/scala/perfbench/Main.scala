package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * time base as the epoch-millisecond times Spark stamps on job events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final class StepRun(val step: Step, val key: String, val startMs: Double, val endMs: Double,
    var digest: Option[Digest], var error: Option[String])

final class PassRun(val label: String, val startMs: Double, val endMs: Double,
    val steps: Seq[StepRun], val totals: TaskTotals, val compiles: Long) {
  def wallS: Double = (endMs - startMs) / 1e3
}

object Harness {
  /** Digest of `df` by one aggregate action (used outside timed steps). */
  def digestNow(df: DataFrame): Digest = {
    val aggs = OutputHash.aggregates(df)
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Run a step's output to completion and digest it. A frame goes through
    * the noop sink, never count(): count lets Catalyst prune the columns,
    * and with them most of the work, out of the plan.
    */
  def materialize(out: Out): Digest = out match {
    case Records(rs) => OutputHash.ofRecords(rs)
    case Frame(df, volatile) =>
      val obs = Observation()
      val aggs = OutputHash.aggregates(df, volatile)
      df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
      OutputHash.fromRow(obs.get)
  }
}

/** Benchmark driver. One process runs one workload:
  *  1. set-up: session, seeded inputs (three times, median kept), warm pass;
  *  2. untraced timed passes until `--seconds` have elapsed;
  *  3. with `--trace 1`, one more pass with spans recorded.
  * Every pass is checked against the expected digests; the last stdout line
  * is the result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, base: String, work: String, expected: String, spans: String,
      record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w (have ${Workloads.Names.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("base"), need("work"), need("expected"), need("spans"),
      m.get("record").contains("1"))
  }

  /** Session configs that shape timing: the ones graft.Bench uses, at the
    * machine's core count.
    */
  def sessionConfigs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "65536",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def main(argv: Array[String]): Unit = {
    val mainStartMs = Clock.nowMs
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val args = parse(argv)
    val work = new File(args.work).getAbsoluteFile
    FileUtils.deleteDirectory(work)
    work.mkdirs()

    val t0 = Clock.nowMs
    val spark = sessionConfigs(args.cores, work.getPath)
      .foldLeft(SparkSession.builder().appName("perfbench")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val sessionS = (Clock.nowMs - t0) / 1e3

    def flush(): Unit = org.apache.spark.graftshim.ListenerFlush.waitUntilEmpty(spark.sparkContext)

    val inputs = new File(work, "inputs")
    def genInputs(seed: Long): Double = {
      val g0 = Clock.nowMs
      Inputs.write(args.base, inputs.getPath, seed)
      (Clock.nowMs - g0) / 1e3
    }

    var passNo = 0
    def runPass(label: String, traced: Boolean): PassRun = {
      flush()
      if (traced) listener.clearSpans()
      listener.traced = traced
      val totals = listener.newPass()
      passNo += 1
      val dir = new File(work, s"pass-$passNo")
      val out = new File(dir, "out")
      out.mkdirs()
      // a fresh path to the same inputs, so path-keyed footer memos start cold
      val lake = Files.createSymbolicLink(dir.toPath.resolve("lake"), inputs.toPath).toString
      val steps = Workloads.steps(args.workload, Ctx(spark, lake, out.getPath))
      val sc = spark.sparkContext
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val start = Clock.nowMs
      val runs = steps.map { s =>
        val key = s"$passNo/${s.name}"
        sc.setLocalProperty(BenchListener.StepKey, key)
        val s0 = Clock.nowMs
        val res = try Right(Harness.materialize(s.run()))
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val s1 = Clock.nowMs
        sc.setLocalProperty(BenchListener.StepKey, null)
        new StepRun(s, key, s0, s1, res.toOption, res.left.toOption)
      }
      val end = Clock.nowMs
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      flush()
      listener.traced = false
      runs.foreach { r =>
        for (check <- r.step.check if r.error.isEmpty)
          try r.digest = Some(Harness.materialize(check()))
          catch { case e: Throwable => r.error = Some(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      FileUtils.deleteDirectory(dir)
      new PassRun(label, start, end, runs, totals.snapshot, compiles)
    }

    val expectedPath = Paths.get(args.expected, s"${args.workload}.tsv")
    if (args.record) {
      record(args, expectedPath, seed => { genInputs(seed); runPass(s"record-$seed", traced = false) })
      spark.stop()
      FileUtils.deleteDirectory(work)
      return
    }
    val expected = Expected.load(expectedPath)

    val genTimes = (1 to 3).map(_ => genInputs(args.seed))
    val warm = runPass("warm", traced = false)
    val warmEndMs = Clock.nowMs
    // Set-up runs once per process because the codegen cache and the JIT are
    // process-wide; only input generation repeats, and its median counts.
    val setupS = (warmEndMs - jvmStartMs) / 1e3 - genTimes.sum + median(genTimes)

    val timed = mutable.ArrayBuffer[PassRun]()
    val deadline = Clock.nowMs + args.seconds * 1e3
    do timed += runPass(s"timed-${timed.size + 1}", traced = false)
    while (Clock.nowMs < deadline)
    val tracedPass = if (args.trace) Some(runPass("traced", traced = true)) else None

    val all = Seq(warm) ++ timed ++ tracedPass
    val failures = all.flatMap(p => p.steps.flatMap(r => Expected.failure(expected, r).map(p.label + " " + _)))
    val attempted = all.map(_.steps.size).sum

    val wallS = median(timed.map(_.wallS).toSeq)
    val metrics: Seq[(String, Double, String)] = tracedPass match {
      case None => Seq(
        ("wall_s", wallS, "s"),
        ("cpu_s", median(timed.map(_.totals.cpuNs / 1e9).toSeq), "s"),
        ("shuffle_mb", median(timed.map(_.totals.shuffleBytes / 1e6).toSeq), "MB"),
        ("peak_task_mem_mb", median(timed.map(_.totals.peakMem / 1e6).toSeq), "MB"),
        ("setup_s", setupS, "s"))
      case Some(tp) => Report.perLayer(tp, listener, args.cores, wallS) :+
        (("steps.failed_frac", failures.size.toDouble / attempted, "ratio"))
    }

    tracedPass.foreach(tp => Report.writeSpans(Paths.get(args.spans), args.workload, all, tp, listener))
    val info = Report.obj(Seq(
      "workload" -> Report.str(args.workload), "seed" -> args.seed.toString,
      "nproc" -> args.cores.toString,
      "session_configs" -> Report.obj(sessionConfigs(args.cores, work.getPath)
        .filterNot(_._1.endsWith(".dir")).map { case (k, v) => k -> Report.str(v) }),
      "steps" -> warm.steps.size.toString,
      "session_start_s" -> f"$sessionS%.4f",
      "input_gen_s" -> genTimes.map(t => f"$t%.4f").mkString("[", ",", "]"),
      "main_entered_s" -> f"${(mainStartMs - jvmStartMs) / 1e3}%.4f",
      "warm_pass_s" -> f"${warm.wallS}%.4f",
      "timed_pass_s" -> timed.map(p => f"${p.wallS}%.4f").mkString("[", ",", "]"),
      "failed_frac" -> f"${failures.size.toDouble / attempted}%.4f",
      "failures" -> failures.map(Report.str).mkString("[", ",", "]")))
    println(info)
    val result = Report.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "metrics" -> Report.obj(metrics.map { case (n, v, u) =>
        n -> Report.obj(Seq("value" -> Report.num(v), "unit" -> Report.str(u)))
      })))
    spark.stop()
    FileUtils.deleteDirectory(work)
    println(result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Expected digests come from two seeds; a step whose digest differs
    * between them depends on input row order and is reported as a defect.
    */
  private def record(args: Args, path: Path, pass: Long => PassRun): Unit = {
    val a = pass(1L)
    val b = pass(2L)
    val lines = a.steps.zip(b.steps).map { case (x, y) =>
      require(x.error.isEmpty && y.error.isEmpty,
        s"step ${x.step.name} failed while recording: ${x.error.orElse(y.error).get}")
      val dx = x.digest.get
      val dy = y.digest.get
      if (dx != dy) System.err.println(s"order-dependent: ${args.workload}/${x.step.name} $dx vs $dy")
      s"${x.step.name}\t${dx.rows}\t${if (dx == dy) dx.hash else Expected.OrderDependent}"
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} expected digests to $path")
  }
}

/** Expected (rows, digest) per step, one `step<TAB>rows<TAB>hash` line each. */
object Expected {
  val OrderDependent = "order-dependent"

  def load(path: Path): Map[String, (Long, String)] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.filter(_.nonEmpty).map { l =>
      val Array(step, rows, hash) = l.split("\t")
      step -> (rows.toLong, hash)
    }.toMap

  /** Why a step run failed its check, if it did. A step recorded as
    * order-dependent is still checked for its row count.
    */
  def failure(expected: Map[String, (Long, String)], r: StepRun): Option[String] =
    r.error.map(e => s"${r.step.name}: $e").orElse {
      val d = r.digest.get
      expected.get(r.step.name) match {
        case None => Some(s"${r.step.name}: no expected digest")
        case Some((rows, _)) if rows != d.rows => Some(s"${r.step.name}: rows ${d.rows} != $rows")
        case Some((_, h)) if h != OrderDependent && h != d.hash =>
          Some(s"${r.step.name}: digest ${d.hash} != $h")
        case _ => None
      }
    }
}

/** Seeded inputs: a row permutation of every committed base table, written
  * one file per table as the engine's loaders expect. The content and the
  * parquet schema are the same for every seed; only the row order, and with
  * it the order every operator sees its rows in, changes. Written with the
  * parquet library directly, so generating inputs runs no Spark job.
  */
object Inputs {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}

  def write(base: String, dest: String, seed: Long): Unit = {
    val d = new File(dest)
    FileUtils.deleteDirectory(d)
    d.mkdirs()
    new File(base).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        val reader = ParquetFileReader.open(new LocalInputFile(f.toPath))
        val schema = reader.getFooter.getFileMetaData.getSchema
        val rows = new java.util.ArrayList[Group]()
        try {
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val rr = new ColumnIOFactory().getColumnIO(schema)
              .getRecordReader(pages, new GroupRecordConverter(schema))
            var i = 0L
            while (i < pages.getRowCount) { rows.add(rr.read()); i += 1 }
            pages = reader.readNextRowGroup()
          }
        } finally reader.close()
        java.util.Collections.shuffle(rows, new java.util.Random(seed))
        val writer = ExampleParquetWriter
          .builder(new LocalOutputFile(new File(d, f.getName).toPath))
          .withType(schema)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
          .build()
        try rows.forEach(r => writer.write(r)) finally writer.close()
      }
  }
}
