package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto front (skyline), both dimensions maximized — "show me the
  * documents where no other document is both longer AND higher quality",
  * the curation view that exposes the quality/length trade-off frontier
  * of a corpus. Dominance: `a` dominates `b` iff `a.x ≥ b.x ∧ a.y ≥ b.y`
  * with at least one strict; the front keeps every non-dominated row
  * (ties on both coordinates all survive).
  */
object Skyline {

  /** Distributed skyline in two passes, no corpus-scale sort:
    * (1) per-x-value `max(y)` — a hash aggregate whose output is
    * |distinct x| rows; (2) a prefix max over STRICTLY GREATER x on that
    * tiny table (the only window, and it runs over distinct x values,
    * never corpus rows); (3) broadcast the per-x verdicts back. A row is
    * on the front iff it carries its bucket's max y AND that max beats
    * every bucket to its right — the classic sort-scan skyline collapsed
    * onto the distinct-value table. At 100 TB the corpus is touched by
    * exactly one aggregate and one broadcast-join filter, both map-side
    * combinable.
    */
  def paretoFront(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // two consumers (the per-x maxima and the verdict join) — without the
    // local pin the caller's (often expensive) metric pipeline runs twice,
    // and the verdict join's inferred isnotnull(x) pushes the metric
    // expression into the scan filter besides
    val dd = graft.ext.Spread.of(df).pin(df)
    val perX = dd.groupBy(col(xCol)).agg(max(col(yCol)).as("__bucket_max"))
    val wGreater = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val verdicts = perX.withColumn(
      "__prefix_max", max(col("__bucket_max")).over(wGreater))
    dd.join(broadcast(verdicts), Seq(xCol))
      .filter(col(yCol) === col("__bucket_max") &&
        (col("__prefix_max").isNull || col("__bucket_max") > col("__prefix_max")))
      .drop("__bucket_max", "__prefix_max")
  }
}
