package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join (SURVEY "Partitioning & shuffle": salting for skew).
  *
  * AQE's skew-join split handles most cases at runtime
  * (`spark.sql.adaptive.skewJoin.enabled`, on by Spark default); explicit
  * salting remains the tool when one hot key dominates a shuffle so badly
  * that even split partitions overwhelm a task — e.g. a null-heavy FK or a
  * "default tenant" key at 100 TB.
  *
  * Left side gets a random salt in [0, buckets); the (smaller) right side is
  * replicated across all salt values via explode — the hot key's rows then
  * spread over `buckets` tasks instead of one.
  */
object SkewJoin {

  def saltedEquiJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      buckets: Int = 8,
      joinType: String = "inner"): DataFrame = {
    val salted = left.withColumn(
      "_salt", pmod(monotonically_increasing_id(), lit(buckets)).cast("int"))
    val replicated = right.withColumn("_salt", explode(array((0 until buckets).map(lit): _*)))
    salted
      .join(replicated, salted(leftKey) === replicated(rightKey) &&
        salted("_salt") === replicated("_salt"), joinType)
      .drop("_salt")
  }
}
