package graft

/** Dev harness: dump the formatted physical plan of MANY SparkEntry queries
  * to files in one JVM (RunOne's `plan` mode costs a session per query).
  * Usage:
  *   runMain graft.PlanDump <name[,name...]> [sfDir] [outDir] [suffix]
  * writes <outDir>/<name>_<suffix>.txt for each query. Plans only — nothing
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r15"
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
