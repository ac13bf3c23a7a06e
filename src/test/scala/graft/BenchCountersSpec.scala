package graft

import org.apache.spark.sql.functions._

/** The bench's load-invariant counters are certification evidence (the
  * committed summary's shuffle/rows numbers are what round-over-round
  * grading falls back to when wall time drifts), so the attribution
  * machinery itself is pinned: job-group keyed task metrics must capture a
  * query's shuffle bytes, and the Observation row count must be exact.
  */
class BenchCountersSpec extends SparkSpec {

  test("job-group attribution captures shuffle bytes; Observation rows are exact") {
    val sc = spark.sparkContext
    val listener = new QueryTaskMetricsListener
    sc.addSparkListener(listener)
    try {
      val group = "bench-counters-spec"
      sc.setJobGroup(group, "spec")
      val obs = org.apache.spark.sql.Observation("bench_counters_spec_rows")
      // a query that MUST shuffle (groupBy over a generated range)
      spark.range(0, 100000)
        .select((col("id") % 97).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      sc.clearJobGroup()
      org.apache.spark.graftshim.ListenerFlush.waitUntilEmpty(sc)
      val rows = obs.get("n").asInstanceOf[Number].longValue()
      assert(rows === 97L, "Observation must count exactly the sink rows")
      val agg = listener.snapshot(group)
      assert(agg.isDefined, "job group must have attributed task metrics")
      assert(agg.get.shuffleWrite > 0L, "the groupBy's shuffle write must be visible")
      assert(agg.get.shuffleRead > 0L, "the groupBy's shuffle read must be visible")
      assert(agg.get.tasks > 0L)
      assert(agg.get.jobs >= 1L, "the sink's job must be counted")
    } finally sc.removeSparkListener(listener)
  }

  test("metrics from other job groups never leak into a query's snapshot") {
    val sc = spark.sparkContext
    val listener = new QueryTaskMetricsListener
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("group-a", "a")
      spark.range(0, 1000).select((col("id") % 7).as("k"))
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      sc.clearJobGroup()
      org.apache.spark.graftshim.ListenerFlush.waitUntilEmpty(sc)
      assert(listener.snapshot("group-a").isDefined)
      assert(listener.snapshot("group-b").isEmpty,
        "an unused group must have no metrics")
      listener.reset("group-a")
      assert(listener.snapshot("group-a").isEmpty, "reset must clear the group")
    } finally sc.removeSparkListener(listener)
  }

  test("a timed noop run returns the exception of a frame that throws at execution") {
    val sc = spark.sparkContext
    val r = Bench.timeNoop(spark, "bench-counters-spec-throws")(
      spark.range(0, 10).select(raise_error(lit("boom"))))
    assert(r.isLeft, s"a throwing frame must not produce a wall time: $r")
    assert(r.left.exists(_.getMessage.contains("boom")))
    assert(sc.getLocalProperty("spark.jobGroup.id") === null,
      "the job group must be cleared after a failed run")
    assert(Bench.timeNoop(spark, "bench-counters-spec-ok")(spark.range(0, 10).toDF())
      .exists(_ >= 0.0))
  }

  test("byte-drift gate: counters parse, and a synthetic plan change flags") {
    // a committed query_counters line in the exact format Bench writes
    val line =
      """{"metric":"query_counters","agg":"last_pass","queries":{""" +
        """"q1_agg":{"wall_s":1.234,"output_rows":10,"shuffle_read_bytes":1000000,"shuffle_write_bytes":1000000,"input_bytes":5,"records_read":6,"peak_execution_memory":7},""" +
        """"q2_map":{"wall_s":0.5,"output_rows":3,"shuffle_read_bytes":0,"shuffle_write_bytes":0,"input_bytes":5,"records_read":6,"peak_execution_memory":7},""" +
        """"q3_missing":{"wall_s":0.5,"output_rows":3,"shuffle_read_bytes":-1,"shuffle_write_bytes":-1,"input_bytes":5,"records_read":6,"peak_execution_memory":7}},""" +
        """"commit":"abc","dirty":false}"""
    val prev = ByteDrift.parseCounters(line)
    assert(prev === Map(
      "q1_agg" -> (1000000L, 1000000L),
      "q2_map" -> (0L, 0L),
      "q3_missing" -> (-1L, -1L)))
    // a plan regression: q1's shuffle bytes grow 2x while everything else
    // is identical — the gate must flag exactly q1
    val regressed = prev.updated("q1_agg", (2000000L, 2000000L))
    val fl = ByteDrift.flagged(prev, regressed)
    assert(fl.map(_._1) === Seq("q1_agg"))
    assert(math.abs(fl.head._2 - 2.0) < 0.01)
    // identical counters: quiet
    assert(ByteDrift.flagged(prev, prev).isEmpty)
    // within-tolerance jitter on a big query: quiet
    assert(ByteDrift.flagged(prev,
      prev.updated("q1_agg", (1020000L, 1000000L))).isEmpty)
    // sub-floor wiggle on a map-only query: quiet (one-partition noise is
    // not a plan change)
    assert(ByteDrift.flagged(prev,
      prev.updated("q2_map", (40000L, 0L))).isEmpty)
    // crossing the floor by a lot IS a plan change (a map-only query that
    // starts shuffling)
    assert(ByteDrift.flagged(prev,
      prev.updated("q2_map", (300000L, 300000L))).map(_._1) === Seq("q2_map"))
    // sub-deltaFloor PER-SIDE movement inside the per-side noise band:
    // quiet — partial aggregates emit early under memory pressure, so a
    // ~150 KiB-per-side shuffle legitimately swings a few KiB run-to-run
    // with an identical plan. These are the REAL observed q08 numbers
    // (symmetric exchange: read == write, so the summed total is 330 KiB
    // — the first summed-total band missed exactly this, its own
    // calibration case)
    assert(ByteDrift.flagged(
      prev + ("q4_small" -> (152564L, 152564L)),
      prev + ("q4_small" -> (164654L, 164654L))).isEmpty)
    // the same RELATIVE drift past the delta floor still flags
    assert(ByteDrift.flagged(
      prev + ("q4_small" -> (762890L, 762890L)),
      prev + ("q4_small" -> (823270L, 823270L))).map(_._1) === Seq("q4_small"))
    // the delta floor is CONDITIONAL on the per-side noise band: a
    // sub-32-KiB-per-side movement whose sides sit past 256 KiB is a
    // real relative change (partial-agg emit noise doesn't reach that
    // size), so it must flag even though the deltas sit under the floor
    assert(ByteDrift.flagged(
      prev + ("q5_mid" -> (300000L, 300000L)),
      prev + ("q5_mid" -> (330000L, 330000L))).map(_._1) === Seq("q5_mid"))
    // -1 sentinels (metrics missing) compare nothing
    assert(ByteDrift.flagged(prev,
      prev.updated("q3_missing", (99999999L, 0L))).isEmpty)
    // added/removed queries are not drift
    assert(ByteDrift.flagged(prev, prev + ("q9_new" -> (500000L, 0L))).isEmpty)
    // a truncated committed line degrades to no baseline, never throws
    assert(ByteDrift.parseCounters("{\"metric\":\"query_counters\",\"quer")
      === Map.empty)
  }
}
