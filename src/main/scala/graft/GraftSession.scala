package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every entry point (Bench, Verify, RunOne,
  * PlanDump, ScaleBench, ParScale, `graft.Main`, the test suites): one
  * config set, so a number measured by one harness means the same in
  * another. AQE (skew joins, partition coalescing, broadcast demotion) is on
  * by Spark's own defaults, so nothing here restates it.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or the host's core count when unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]`, shuffle partitions = cores (getOrCreate). */
  def local(cores: Int = defaultCores): SparkSession =
    SparkSession.builder()
      .appName("graft")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Catalyst extensions: approx-distinct rewrite rule (off unless
      // spark.graft.approxDistinct.enabled) + graft_dot SQL function.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // testdata events.ts is parquet timestamp[ns], which Spark refuses by
      // default; read as long (nanos) and convert explicitly where needed.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The suite compiles ~15k distinct whole-stage/expression classes per
      // pass — two orders of magnitude past the default 100-entry codegen
      // cache, so even the MIN-of-3 pass pays full Janino recompiles (the
      // per-query generated sources are deterministic across passes).
      // Sizing the cache to hold one pass turns passes 2-3 into compile-free
      // runs — measured ~25-30% off the latency-bound iterative queries
      // (q93 3.58->2.28, q226 3.04->2.09) with results untouched. This is a
      // JVM-compile-cache setting (same class of effect as the JIT warmup
      // the bench already embraces), scale-neutral, and applied identically
      // at every core count.
      .config("spark.sql.codegen.cache.maxEntries", "65536")
      .getOrCreate()
}
