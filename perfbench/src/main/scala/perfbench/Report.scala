package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced pass, the span file, and JSON output. */
object Report {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Job spans of each step of the pass, as (start, end) in epoch ms. A job
    * whose end never arrived is taken to last to the end of its step.
    */
  private def jobSpans(pass: PassRun, l: BenchListener): Map[String, Seq[(Double, Double)]] = {
    val ends = pass.steps.map(r => r.key -> r.endMs).toMap
    l.jobs.values.asScala.toSeq.filter(j => ends.contains(j.step)).groupBy(_.step).map {
      case (step, js) => step -> js.map(j =>
        (j.startMs.toDouble, if (j.endMs < 0) ends(step) else j.endMs.toDouble))
    }
  }

  /** Every per-layer metric, zero for a layer the workload does not call.
    * `untracedWallS` is the median untraced pass, for the tracing overhead.
    */
  def perLayer(pass: PassRun, l: BenchListener, cores: Int,
      untracedWallS: Double): Seq[(String, Double, String)] = {
    val jobs = jobSpans(pass, l)
    val byLayer = pass.steps.groupBy(_.step.layer)
    val layerMetrics = Workloads.Layers.flatMap { layer =>
      val runs = byLayer.getOrElse(layer, Nil)
      val totals = runs.flatMap(r => Option(l.stepTotals.get(r.key)))
      def sum(f: TaskTotals => Double) = totals.map(f).sum
      Seq(
        (s"$layer.wall_s", runs.map(r => (r.endMs - r.startMs) / 1e3).sum, "s"),
        (s"$layer.driver_s", runs.map(r =>
          Intervals.selfTime(r.startMs, r.endMs, jobs.getOrElse(r.key, Nil)) / 1e3).sum, "s"),
        (s"$layer.cpu_s", sum(_.cpuNs / 1e9), "s"),
        (s"$layer.jobs", runs.map(r => jobs.getOrElse(r.key, Nil).size).sum.toDouble, "count"),
        (s"$layer.tasks", sum(_.tasks.toDouble), "count"),
        (s"$layer.shuffle_mb", sum(_.shuffleBytes / 1e6), "MB"),
        (s"$layer.rows_out", runs.flatMap(_.digest).map(_.rows.toDouble).sum, "count"))
    }
    def rows(step: String) = pass.steps.find(_.step.name == step).flatMap(_.digest).map(_.rows)
    val verified = (rows("near_duplicates"), rows("minhash_candidates")) match {
      case (Some(v), Some(c)) if c > 0 => v.toDouble / c
      case _ => 0.0
    }
    val stepsS = pass.steps.map(r => (r.endMs - r.startMs) / 1e3).sum
    layerMetrics ++ Seq(
      ("exec.task_util", pass.totals.runMs / 1e3 / (pass.wallS * cores), "ratio"),
      ("plans.planning_s", l.planningMs / 1e3, "s"),
      ("codegen.compiles", pass.compiles.toDouble, "count"),
      ("ext.Dedup.verified_per_candidate", verified, "ratio"),
      ("pass.wall_s", pass.wallS, "s"),
      ("pass.gap_s", pass.wallS - stepsS, "s"),
      ("trace.overhead_s", pass.wallS - untracedWallS, "s"))
  }

  /** Spans of the run: workload → pass → step for every pass, and → job →
    * stage under the traced pass. Each span has an id and its parent's id.
    */
  def writeSpans(path: Path, workload: String, passes: Seq[PassRun], traced: PassRun,
      l: BenchListener): Unit = {
    var nextId = 0L
    val out = Seq.newBuilder[String]
    def span(parent: Long, kind: String, name: String, start: Double, end: Double,
        attrs: Seq[(String, String)] = Nil): Long = {
      nextId += 1
      out += obj(Seq("id" -> nextId.toString, "parent" -> parent.toString,
        "kind" -> str(kind), "name" -> str(name), "start_ms" -> num(start),
        "end_ms" -> num(end)) ++ attrs)
      nextId
    }
    val root = span(0, "workload", workload, passes.head.startMs, passes.last.endMs)
    val jobsByStep = l.jobs.values.asScala.toSeq.groupBy(_.step)
    val stagesById = l.stages.asScala.toSeq.groupBy(_.stageId)
    passes.foreach { p =>
      val pid = span(root, "pass", p.label, p.startMs, p.endMs)
      p.steps.foreach { r =>
        val sid = span(pid, "step", r.step.name, r.startMs, r.endMs, Seq(
          "layer" -> str(r.step.layer),
          "rows_out" -> r.digest.map(_.rows.toString).getOrElse("null"),
          "error" -> r.error.map(str).getOrElse("null")))
        if (p eq traced) jobsByStep.getOrElse(r.key, Nil).sortBy(_.jobId).foreach { j =>
          val end = if (j.endMs < 0) r.endMs else j.endMs.toDouble
          val jid = span(sid, "job", s"job ${j.jobId}", j.startMs.toDouble, end)
          j.stageIds.sorted.flatMap(stagesById.getOrElse(_, Nil)).foreach { s =>
            span(jid, "stage", s"stage ${s.stageId}.${s.attempt} ${s.name}",
              s.startMs.toDouble, s.endMs.toDouble, Seq("tasks" -> s.tasks.toString))
          }
        }
      }
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, out.result().mkString("[\n", ",\n", "\n]\n"))
  }
}
