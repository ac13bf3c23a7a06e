package graft.ext

import graft.SparkSpec
import graft.ops.{CoOccurrence, Skyline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every operator that calls `Spread`, run on the sf0.001 tables written
  * as 1 file (local-tiny: the spread and pin fire) and as 8 files (the
  * at-scale branch: neither fires), must return the same rows.
  */
class PartitionInvarianceSpec extends SparkSpec {
  import SpreadSpec._

  private case class Inputs(docs: DataFrame, emb: DataFrame, lineitem: DataFrame)

  private def copies(files: Int) = {
    def table(name: String) =
      fileCopy(spark, spark.read.parquet(s"$sf0001/$name.parquet"), files)
    Inputs(table("documents"), table("embeddings"), table("lineitem"))
  }
  private lazy val oneSplit = copies(1)
  private lazy val manyFiles = copies(8)

  private def localTiny(df: DataFrame): Boolean =
    !(Spread.of(df).byKey(df, lit(0)) eq df)

  test("the 1-split tables are local-tiny, the 8-file copies are not") {
    Seq(oneSplit, manyFiles).zip(Seq(true, false)).foreach { case (in, tiny) =>
      Seq(in.docs, in.emb, in.lineitem).foreach(t => assert(localTiny(t) === tiny))
    }
  }

  private def invariant(name: String)(op: Inputs => DataFrame): Unit =
    test(s"$name: same rows on 1 split and on 8 files") {
      val tinyRows = sorted(op(oneSplit).collect())
      assert(tinyRows.nonEmpty, s"$name must produce rows on this input")
      assert(sorted(op(manyFiles).collect()) === tinyRows)
    }

  private def contamination(in: Inputs) = Decontaminate.contamination(
    in.docs.filter(col("source") =!= "src0"), in.docs.filter(col("source") === "src0"),
    n = 3, threshold = 0.2)

  invariant("withQualityMetrics")(in => TextAnalysis.withQualityMetrics(in.docs))
  invariant("setSimJoin")(in => FuzzyJoin.setSimJoin(in.docs, tNum = 3, tDen = 5))
  invariant("simhashNearDups")(in => Dedup.simhashNearDups(in.docs, maxHamming = 3))
  invariant("sortedNeighborPairs")(in =>
    Dedup.sortedNeighborPairs(in.docs, window = 3, maxHamming = 20, bucketBits = 4))
  invariant("winnowFingerprints")(in => Dedup.winnowFingerprints(in.docs))
  invariant("winnowSourceMatrix")(in => Dedup.winnowSourceMatrix(in.docs))
  invariant("winnowSharedRuns")(in => Dedup.winnowSharedRuns(in.docs))
  invariant("contamination")(contamination)
  invariant("cmsErrorProfile")(in => Sketches.cmsErrorProfile(
    in.docs.select(explode(Dedup.shingles(lower(col("text")), 3)).as("shingle")),
    "shingle"))
  invariant("hllColumnAudit")(in => Sketches.hllColumnAudit(in.lineitem,
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_shipdate")))
  invariant("cosinePairsAbove")(in => Similarity.cosinePairsAbove(in.emb, 0.35))
  invariant("ivfTopK")(in => Similarity.ivfTopK(in.emb, k = 5))
  invariant("hardNegatives")(in => Similarity.hardNegatives(in.emb, k = 5))
  invariant("paretoFront")(in => Skyline.paretoFront(
    TextAnalysis.withQualityMetrics(in.docs).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      floor(col("quality_score") * 1048576.0).cast("long").as("q_fp")),
    "n_tokens", "q_fp"))
  invariant("CoOccurrence.rules")(in =>
    CoOccurrence.rules(in.lineitem, "l_orderkey", "l_partkey", minSupport = 2L))
}
