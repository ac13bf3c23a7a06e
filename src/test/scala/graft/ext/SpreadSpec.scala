package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one spread policy: the probe reads the operator input's leaf file
  * splits, `byKey` spreads to one width that AQE cannot fold back, `pin`
  * checkpoints only in local-tiny mode, frames derived inside the operator
  * follow the input's decision, and no verb changes a row set.
  */
class SpreadSpec extends SparkSpec {
  import SpreadSpec._

  private lazy val docs = fileCopy(spark,
    spark.read.parquet(s"$sf0001/documents.parquet").select(col("doc_id"), col("source")), 1)
  private lazy val manyFiles = fileCopy(spark, docs, 8)
  private def width = math.min(8, spark.sparkContext.defaultParallelism)

  test("byKey: a 1-split scan runs at min(8, parallelism) tasks") {
    val spread = Spread.of(docs).byKey(docs, col("doc_id"))
    val rows = spread.collect()
    assert(spread.queryExecution.toRdd.getNumPartitions === width,
      "the spread must survive AQE's small-shuffle coalescing")
    assert(sorted(rows) === sorted(docs.collect()))
  }

  test("byKey and pin leave a spark.range frame untouched") {
    val range = spark.range(100).toDF()
    val spread = Spread.of(range)
    assert(spread.byKey(range, col("id")) eq range)
    assert(spread.pin(range) eq range)
  }

  test("byKey and pin leave a many-file scan untouched") {
    assert(leafSplits(manyFiles) * 2 > spark.sparkContext.defaultParallelism)
    val spread = Spread.of(manyFiles)
    assert(spread.byKey(manyFiles, col("doc_id")) eq manyFiles)
    assert(spread.pin(manyFiles) eq manyFiles)
  }

  test("pin checkpoints only a local-tiny input") {
    val pinned = Spread.of(docs).pin(docs)
    assert(pinned.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    assert(sorted(pinned.collect()) === sorted(docs.collect()))
    assert(!Spread.of(manyFiles).pin(manyFiles).queryExecution.executedPlan
      .toString.contains("ExistingRDD"))
  }

  test("a frame derived from a pin follows its input's decision") {
    val spread = Spread.of(docs)
    val perSource = spread.pin(docs).groupBy(col("source")).count()
    // no file-scan leaf of its own: probed alone it is never local-tiny
    assert(Spread.of(perSource).byKey(perSource, col("source")) eq perSource)
    val spreadAgg = spread.byKey(perSource, col("source"))
    val rows = spreadAgg.collect()
    assert(spreadAgg.queryExecution.toRdd.getNumPartitions === width)
    assert(sorted(rows) === sorted(perSource.collect()))
  }
}

object SpreadSpec {
  /** `df` rewritten as `files` parquet files under a fresh path, so no
    * cache entry another suite left on the source table can alias the
    * scan. One file is one split (local-tiny at parallelism 4); 8 files
    * are more splits than the probe allows, so `Spread` takes its
    * at-scale branch.
    */
  def fileCopy(spark: SparkSession, df: DataFrame, files: Int): DataFrame = {
    val dir = Files.createTempDirectory("graft_spread").resolve("t").toString
    df.repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  def leafSplits(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions
    }.sum

  def sorted(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted
}
