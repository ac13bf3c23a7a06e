package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec

/** The one local-parallelism policy for expensive per-row passes (guide
  * §2.5, "input skew: one huge unsplittable file"): one probe per operator
  * call, one width, two verbs.
  *
  * Probe ([[Spread.of]]). A parquet file splits only at row-group
  * boundaries, so a small table written as one row group arrives as ONE
  * scan partition, and costly map work stacked on it (shingling, minhash,
  * md5 sketch passes, dot products, quality regexes) runs serially on one
  * core. The operator's INPUT frame is local-tiny when it has file-scan
  * leaves and their splits × 2 ≤ `defaultParallelism`. Leaf splits, not
  * `df.rdd.getNumPartitions`: the RDD conversion reports the static
  * shuffle-partition count for any post-shuffle frame and pays a second
  * physical-plan compile. Frames with no file-scan leaves (literal/local
  * relations) are never local-tiny. At cluster scale every leaf has
  * thousands of splits, so both verbs return their frame unchanged there
  * and AQE's byte-based sizing stands. Frames derived inside the operator
  * (off a pin or an aggregate) follow the input's decision.
  *
  * Width ([[Spread#byKey]]). `min(8, defaultParallelism)` tasks, as an
  * explicit-count exchange: the spread frames' shuffle BYTES are tiny, so
  * a keyless-count repartition is folded back to one task by AQE's
  * small-shuffle coalescing and re-serializes exactly the stage it exists
  * to spread. The cap of 8: per-task CPU inflates with concurrent width on
  * one box (the winnow gram pass measured 0.75 → 9.2 CPU-s from 4 to 32
  * tasks, with no wall gain past 16). Hash by key, not round-robin: the
  * assignment is deterministic under task retry (the SPARK-38388 class)
  * and skips round-robin's sort-before-repartition. Keyed by the join or
  * window key downstream, the exchange also satisfies that operator's
  * clustering and replaces its own exchange.
  *
  * Pin ([[Spread#pin]]), for a frame reused several times within ONE
  * operator call. Local-tiny: an eager localCheckpoint, which is cheap,
  * truncates the plan, and has no executor-loss exposure on one machine.
  * At scale: NO pin. A corpus-sized localCheckpoint is executor-local
  * state with no recompute lineage (one lost executor fails the job), and
  * a CacheManager persist cannot be scoped to the call (the entry outlives
  * it and aliases identical plans across later queries and runs).
  * Re-running the map-side subtree once per consumer is the
  * fault-tolerant trade.
  */
final class Spread private (tiny: Boolean, width: Int) {
  def byKey(df: DataFrame, keys: Column*): DataFrame =
    if (tiny) df.repartition(width, keys: _*) else df

  def pin(df: DataFrame): DataFrame =
    if (tiny) df.localCheckpoint() else df
}

object Spread {
  private val MaxWidth = 8

  def of(input: DataFrame): Spread = {
    val parallelism = input.sparkSession.sparkContext.defaultParallelism
    val splits = input.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    }
    new Spread(splits.nonEmpty && splits.sum * 2 <= parallelism,
      math.min(MaxWidth, parallelism))
  }
}
