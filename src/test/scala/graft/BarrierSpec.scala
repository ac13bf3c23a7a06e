package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Barrier

/** The codec boundary is a plan-only node: it blocks pushdown, lets column
  * pruning through, and costs no job, shuffle or materialized state.
  */
class BarrierSpec extends SparkSpec {

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get

  test("a filter above the barrier does not reach the scan's PushedFilters") {
    val orders = Tables.orders(spark, sf0001)
    val direct = scanOf(orders.filter(col("o_orderkey") > 100L))
    assert(direct.metadata("PushedFilters").contains("o_orderkey"))
    val behind = scanOf(Barrier(orders).filter(col("o_orderkey") > 100L))
    assert(behind.metadata("PushedFilters") === "[]")
  }

  test("column pruning still crosses the barrier") {
    val scan = scanOf(Barrier(Tables.orders(spark, sf0001)).select(col("o_orderkey")))
    assert(scan.requiredSchema.fieldNames.toSeq === Seq("o_orderkey"))
  }

  test("a second call registers no second strategy") {
    val orders = Tables.orders(spark, sf0001)
    Barrier(orders)
    val strategies = spark.experimental.extraStrategies
    Barrier(Barrier(orders))
    assert(spark.experimental.extraStrategies === strategies)
    assert(strategies.count(_.getClass.getName.contains("Barrier")) === 1)
  }

  test("building q241 runs no job beyond the scan's schema read; no pin, no repartition") {
    val sc = spark.sparkContext
    def jobsToBuild[T](build: => T): (Int, T) = {
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerFlush.waitUntilEmpty(sc)
      sc.addSparkListener(listener)
      try {
        val built = build
        ListenerFlush.waitUntilEmpty(sc)
        (jobs.get, built)
      } finally sc.removeSparkListener(listener)
    }
    // parquet schema inference runs a job of its own
    val (scanJobs, _) = jobsToBuild(Tables.documents(spark, sf0001))
    val (queryJobs, df) = jobsToBuild(SparkEntry.queries("q241_bmp_stats")(spark, sf0001))
    assert(queryJobs === scanJobs, "building the frame must not run a job")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("ExistingRDD"), "no localCheckpoint pin")
    // the per-asset aggregate's own exchange stays; the boundary adds none
    assert(!p.contains("REPARTITION_BY_COL"), "no repartition at the boundary")
  }
}
