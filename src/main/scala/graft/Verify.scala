package graft
import scala.collection.mutable
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The last stdout
  * line is `{"metric":"verify","n_queries":N,"retried":[...],"failed":[...]}`:
  * `retried` names every query whose first attempt threw, `failed` those
  * whose retry threw too. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast local
    // iteration on one query (driver passes two args → full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selectedQueries = SparkEntry.queries.filter(kv => selected(kv._1))
    val retried = mutable.ArrayBuffer[String]()
    val failed = mutable.ArrayBuffer[String]()
    selectedQueries.foreach { case (name, fn) =>
      // one retry per query: a transient failure (timeout, race) must not
      // zero a round's correctness entry for an otherwise-green query
      val ok = (1 to 2).exists { attempt =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[verify] $name attempt $attempt failed: $e")
            e.printStackTrace()
            if (attempt == 1) retried += name
            false
        }
      }
      if (!ok) {
        System.err.println(s"[verify] $name FAILED after retries")
        failed += name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"""{"metric":"verify","n_queries":${selectedQueries.size},""" +
      s""""retried":${retried.map(q).mkString("[", ",", "]")},""" +
      s""""failed":${failed.map(q).mkString("[", ",", "]")}}""")
  }
}
