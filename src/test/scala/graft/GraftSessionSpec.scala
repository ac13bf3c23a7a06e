package graft

/** Pins the one session config every entry point shares (Bench, Verify,
  * RunOne, PlanDump, ScaleBench, ParScale, `graft.Main` and these suites).
  */
class GraftSessionSpec extends SparkSpec {

  test("shuffle partitions follow the task slots") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
  }

  test("UTC session time zone, nanosecond parquet timestamps as long, codegen cache") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "65536")
  }

  test("AQE is on by Spark's defaults, not restated by the session") {
    for (k <- Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled")) {
      assert(!spark.sparkContext.getConf.contains(k), s"$k must not be set")
      assert(spark.conf.get(k) === "true", k)
    }
  }

  test("GraftExtensions are loaded: graft_dot resolves in spark.sql") {
    assert(spark.conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    val v = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(v === 11.0)
  }
}
