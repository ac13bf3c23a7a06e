package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Dev harness: run ONE SparkEntry query by name. Usage:
  *   runMain graft.RunOne <name> [sfDir] [rows|plan|noop|noopfinal|stages]
  *  - rows (default): show up to 50 rows, then the row count;
  *  - plan: the formatted physical plan, nothing executes;
  *  - noop: Bench's timing — noop sink, min of 3 after one warm pass;
  *  - noopfinal: the adaptive executed plan after a full noop run;
  *  - stages: per-stage profile of one timed noop run after a warm pass
  *    (tasks, wall, run and CPU seconds, input/shuffle/output records).
  */
object RunOne {

  /** One line per completed stage, in completion order. */
  final class StageLog extends SparkListener {
    val rows = mutable.ArrayBuffer[String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
      val cpu = tm.executorCpuTime / 1e9
      val run = tm.executorRunTime / 1e3
      rows += f"STAGE ${si.stageId}%3d tasks=${si.numTasks}%3d wall=$wall%.2f run=$run%.2f cpu=$cpu%.2f in=${tm.inputMetrics.recordsRead}%d sr=${tm.shuffleReadMetrics.recordsRead}%d sw=${tm.shuffleWriteMetrics.recordsWritten}%d out=${tm.outputMetrics.recordsWritten}%d  ${si.name.take(60)}"
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "rows"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    def df = SparkEntry.queries(name)(spark, sfDir)
    def noopOnce(): Double =
      Bench.timeNoop(spark, s"runone:$name", name)(df).fold(e => throw e, identity)
    mode match {
      case "plan" =>
        println(df.queryExecution.explainString(FormattedMode))
      case "noop" =>
        noopOnce()
        val ts = Seq.fill(3)(noopOnce())
        println(f"noop_min=${ts.min}%.3f noop_all=${ts.map(t => f"$t%.3f").mkString(",")}")
      case "noopfinal" =>
        // adaptive executed plan AFTER a full noop materialization (no
        // count-pruning) — what the bench actually runs
        val ndf = df
        ndf.write.format("noop").mode("overwrite").save()
        println(ndf.queryExecution.executedPlan.toString)
      case "stages" =>
        println(f"warm=${noopOnce()}%.3f")
        val log = new StageLog
        spark.sparkContext.addSparkListener(log)
        val t = noopOnce()
        org.apache.spark.graftshim.ListenerFlush.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(log)
        log.rows.foreach(println)
        println(f"timed=$t%.3f")
      case "rows" =>
        val rdf = df
        rdf.show(50, false)
        println(s"rows=${rdf.count()}")
      case other =>
        System.err.println(s"unknown mode $other (rows|plan|noop|noopfinal|stages)")
    }
    spark.stop()
  }
}
