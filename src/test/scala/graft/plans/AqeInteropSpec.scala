package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQE-interplay pins: PlanSpec asserts shapes on the STATIC plan (the
  * initial plan inside AdaptiveSparkPlan); these cases execute under
  * `spark.sql.adaptive.enabled=true` (the session default — the same config
  * the bench and a production cluster run) and assert the FINAL adaptive
  * plan kept the load-bearing shape: broadcast dims stay broadcast, the
  * candidate-scoped pair joins stay equi-joins (nothing cartesian), and
  * AQE's own skew-join handling both subsumes and composes with the manual
  * salting operator on a synthesized hot key.
  */
class AqeInteropSpec extends SparkSpec {

  /** Execute `df` and return the final adaptive plan's string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("isFinalPlan=true"),
      "query must have re-planned to a final adaptive plan")
    s
  }

  test("q03 under AQE: dimension joins are broadcast in the FINAL plan") {
    val p = finalPlan(graft.SparkEntry.queries("q03_join_revenue_by_nation")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast after re-plan")
    assert(!p.contains("SortMergeJoin"), "no dim join may demote to a shuffle join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q247 under AQE: the benchmark gram set stays broadcast in the FINAL plan") {
    val p = finalPlan(graft.SparkEntry.queries("q247_contaminated_spans")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "the eval-suite-sized gram set must broadcast after re-plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q258 under AQE: shared-run mining stays candidate-scoped equi-joins") {
    val p = finalPlan(graft.SparkEntry.queries("q258_shared_runs")(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair mining must never go all-pairs, with or without AQE re-planning")
  }

  test("q263 under AQE: the dHash band join stays an equi-join on the pinned frame") {
    val p = finalPlan(graft.SparkEntry.queries("q263_dhash_near_dup")(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band-bucket candidates must never go all-pairs under AQE re-planning")
    assert(p.contains("ExistingRDD"),
      "both sides must read the pinned hash frame after re-plan")
  }

  test("q267 under AQE: scene-cut lag stays per-asset (no single-partition window)") {
    val p = finalPlan(graft.SparkEntry.queries("q267_scene_cuts")(spark, sf0001))
    assert(!p.contains("SinglePartition"),
      "the frame-stream window must stay partitioned by asset after re-plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("AQE skew-join splits a synthesized hot key; saltedEquiJoin composes hash-equal") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // force the shuffle join (no broadcast escape) and lower the skew
      // thresholds so test-scale data exhibits the production mechanism
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // one hot key carrying ~97% of rows + a spread of cold keys
      val left = spark.range(0, 60000)
        .select(when(col("id") % 30 === 0, col("id") % 1000).otherwise(lit(7L)).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 10).as("w"))
      val plain = left.join(right, "k")
      val agg = plain.groupBy().agg(count(lit(1)).as("n"),
        sum(col("v") + col("w")).as("s"))
      val p = finalPlan(agg)
      assert(p.contains("skew=true"),
        s"AQE must have split the hot key's partition:\n${p.take(2000)}")
      val Array(expected) = agg.collect()
      // the manual salting operator must stay semantically invisible under
      // the same AQE config (it pre-spreads the hot key, so AQE simply
      // finds nothing left to split)
      val salted = graft.ops.SkewJoin.saltedEquiJoin(
          left.withColumnRenamed("k", "lk"), right, "lk", "k")
        .groupBy().agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
        .collect().head
      assert(salted.getLong(0) === expected.getLong(0))
      assert(salted.getLong(1) === expected.getLong(1))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
