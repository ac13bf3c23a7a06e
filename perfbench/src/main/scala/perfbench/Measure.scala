package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}

/** Interval arithmetic behind a span's self time. */
object Intervals {

  /** Length of the union of `spans` after clipping each to [lo, hi].
    * Overlapping and nested spans count once, so concurrent Spark jobs
    * under one step never push its self time below zero.
    */
  def unionLength(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = spans
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(lo: Double, hi: Double, children: Seq[(Double, Double)]): Double =
    (hi - lo) - unionLength(children, lo, hi)
}

/** Order-independent digest of a step's output.
  *
  * Every row is reduced to a 64-bit hash; the digest keeps the row count,
  * the sums of the low and high 32-bit halves (multiplicity-sensitive, and
  * they cannot overflow a long below 2^31 rows) and the xor of all hashes.
  * None of the four depends on row order or partitioning, so a digest that
  * moves with the input's row order marks an order-dependent result.
  */
final case class Digest(rows: Long, lo: Long, hi: Long, xor: Long) {
  def hash: String = f"$lo%x-$hi%x-$xor%016x"
}

object OutputHash {
  private val Mask = 0xffffffffL

  /** Digest of driver-side row hashes; the same algebra as [[aggregates]]. */
  def combine(rowHashes: Iterable[Long]): Digest = {
    var rows = 0L; var lo = 0L; var hi = 0L; var x = 0L
    rowHashes.foreach { h =>
      rows += 1; lo += h & Mask; hi += (h >>> 32) & Mask; x ^= h
    }
    Digest(rows, lo, hi, x)
  }

  /** 64-bit hash of one driver-side record (first 8 bytes of its SHA-256). */
  def recordHash(record: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("SHA-256")
      .digest(record.getBytes(java.nio.charset.StandardCharsets.UTF_8))).getLong

  def ofRecords(records: Seq[String]): Digest = combine(records.map(recordHash))

  /** Per-row 64-bit hash over every column of `df`. Map columns go through
    * `to_json` because Spark refuses to hash maps.
    */
  def rowHash(df: DataFrame, skip: Seq[String] = Nil): Column = {
    val fields = df.schema.fields.toSeq.filterNot(f => skip.contains(f.name))
    def hashable(name: String, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case _: MapType => to_json(col(name))
      case s: StructType if s.exists(_.dataType.isInstanceOf[MapType]) => to_json(col(name))
      case _ => col(name)
    }
    if (fields.isEmpty) lit(0L)
    else xxhash64(fields.map(f => hashable(s"`${f.name}`", f.dataType)): _*)
  }

  /** Aggregates that compute the digest inside the job that materializes
    * `df` (through `Dataset.observe`, so no extra action runs).
    */
  def aggregates(df: DataFrame, skip: Seq[String] = Nil): Seq[Column] = {
    val h = rowHash(df, skip)
    Seq(
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(Mask))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32).bitwiseAND(lit(Mask))), lit(0L)).as("hi"),
      coalesce(bit_xor(h), lit(0L)).as("xor"))
  }

  def fromRow(m: Map[String, Any]): Digest = {
    def l(k: String) = m(k).asInstanceOf[Number].longValue()
    Digest(l("rows"), l("lo"), l("hi"), l("xor"))
  }
}
