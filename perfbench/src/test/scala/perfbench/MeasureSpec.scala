package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("union length counts overlapping and nested spans once") {
    assert(Intervals.unionLength(Nil, 0, 10) == 0.0)
    assert(Intervals.unionLength(Seq((1.0, 3.0), (5.0, 6.0)), 0, 10) == 3.0)
    assert(Intervals.unionLength(Seq((1.0, 4.0), (2.0, 6.0)), 0, 10) == 5.0)
    assert(Intervals.unionLength(Seq((1.0, 9.0), (2.0, 3.0), (4.0, 5.0)), 0, 10) == 8.0)
    // spans are unsorted and touch end to start
    assert(Intervals.unionLength(Seq((3.0, 5.0), (1.0, 3.0)), 0, 10) == 4.0)
  }

  test("union length clips spans to the parent") {
    assert(Intervals.unionLength(Seq((-5.0, 2.0), (8.0, 15.0)), 0, 10) == 4.0)
    assert(Intervals.unionLength(Seq((11.0, 12.0), (-3.0, -1.0)), 0, 10) == 0.0)
  }

  test("self time is the span minus the union of its children") {
    // jobs [1,3] and [2,5] overlap; [8,12] runs past the step's end
    assert(Intervals.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0))) == 4.0)
    assert(Intervals.selfTime(0, 10, Nil) == 10.0)
    assert(Intervals.selfTime(0, 10, Seq((0.0, 10.0), (3.0, 4.0))) == 0.0)
  }

  test("digest ignores order but not content or multiplicity") {
    val hs = Seq(1L, -7L, 42L, Long.MaxValue, Long.MinValue)
    val d = OutputHash.combine(hs)
    assert(d == OutputHash.combine(hs.reverse))
    assert(d.rows == 5)
    assert(d != OutputHash.combine(hs :+ 42L))
    assert(OutputHash.combine(Seq(3L, 3L)) != OutputHash.combine(Nil))
    assert(d != OutputHash.combine(hs.updated(2, 43L)))
    assert(OutputHash.ofRecords(Seq("a", "b")) == OutputHash.ofRecords(Seq("b", "a")))
    assert(OutputHash.ofRecords(Seq("a", "b")) != OutputHash.ofRecords(Seq("a", "c")))
  }

  test("frame digest matches the driver-side digest and ignores partitioning") {
    val spark = SparkSession.builder().master("local[2]").appName("MeasureSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = (1 to 200).map(i => (i % 17, s"v$i", i * 0.5, Map(s"k$i" -> i)))
        .toDF("k", "s", "x", "m")
      val rowHashes = df.select(OutputHash.rowHash(df)).as[Long].collect().toSeq
      val expected = OutputHash.combine(rowHashes)
      val once = Harness.materialize(Frame(df))
      assert(once == expected)
      assert(Harness.digestNow(df) == expected)
      assert(Harness.materialize(Frame(df.repartition(5, col("s")))) == expected)
      assert(Harness.materialize(Frame(df.orderBy(col("x").desc))) == expected)
      // a volatile column is left out of the digest
      assert(Harness.materialize(Frame(df.withColumn("path", rand()), Seq("path"))) == expected)
      assert(Harness.materialize(Frame(df.filter(col("k") =!= 3))) != expected)
    } finally spark.stop()
  }

  test("a step fails on an error, a row-count change or a digest change") {
    val step = Step("s", "layer", () => Records(Nil))
    def run(d: Option[Digest], e: Option[String] = None) = new StepRun(step, "1/s", 0, 1, d, e)
    val d = Digest(2, 3, 4, 5)
    val exp = Map("s" -> (2L, d.hash))
    assert(Expected.failure(exp, run(Some(d))).isEmpty)
    assert(Expected.failure(exp, run(None, Some("boom"))).get.contains("boom"))
    assert(Expected.failure(exp, run(Some(d.copy(rows = 3)))).get.contains("rows"))
    assert(Expected.failure(exp, run(Some(d.copy(xor = 6)))).get.contains("digest"))
    assert(Expected.failure(Map.empty, run(Some(d))).get.contains("no expected"))
    // an order-dependent step still has its row count checked
    val od = Map("s" -> (2L, Expected.OrderDependent))
    assert(Expected.failure(od, run(Some(d.copy(xor = 6)))).isEmpty)
    assert(Expected.failure(od, run(Some(d.copy(rows = 1)))).nonEmpty)
  }
}
