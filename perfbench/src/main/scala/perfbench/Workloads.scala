package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.KeyClassifier
import graft.catalog.ParquetCatalog
import graft.core.{CustomRule, Relationship, TableMeta}
import graft.datatest.DataTester
import graft.detect.RelationshipDetector
import graft.ext.{Decontaminate, Dedup, FuzzyJoin, TextAnalysis}
import graft.render.ErdRenderer
import graft.restore.SnapshotRestore
import graft.state.{IncrementalState, RelationshipCache}

/** What a step hands back for checking. A `Frame` is materialized by the
  * harness through the noop sink with its digest observed on the same job;
  * `volatile` names columns left out of the digest because they carry the
  * per-pass path or the seed-dependent file size, not the step's result.
  */
sealed trait Out
final case class Frame(df: DataFrame, volatile: Seq[String] = Nil) extends Out
final case class Records(records: Seq[String]) extends Out

/** One call into one module's public function. When `check` is set, the
  * step writes files and `check` reads them back after the timed pass; its
  * digest is the step's output.
  */
final case class Step(name: String, layer: String, run: () => Out,
    check: Option[() => Out] = None)

/** Per-pass context: `lake` is this pass's own path to the seeded input
  * tables (so footer memos keyed by path start cold) and `out` a fresh
  * directory for everything the pass writes.
  */
final case class Ctx(spark: SparkSession, lake: String, out: String)

object Workloads {
  val Names: Seq[String] = Seq("erd_lake", "text_neardup", "media_decode")

  /** Layers in report order; `media` is ext.Multimodal plus the native
    * decoders in graft.functions, which cannot be split from outside.
    */
  val Layers: Seq[String] = Seq(
    "catalog", "analyze", "detect", "datatest", "render", "state", "restore",
    "ext.TextAnalysis", "ext.Dedup", "ext.FuzzyJoin", "ext.Decontaminate", "media")

  def steps(workload: String, c: Ctx): Seq[Step] = workload match {
    case "erd_lake" => erdLake(c)
    case "text_neardup" => textNeardup(c)
    case "media_decode" => mediaDecode(c)
  }

  /** The edge the lake's config declares (as the engine's own queries do). */
  private val customRules = Seq(CustomRule("events", "user_id", "customer", "c_custkey"))
  private val EpochMs = 1700000000000L

  private def erdLake(c: Ctx): Seq[Step] = {
    val spark = c.spark
    // results handed from step to step within one pass
    var cat: org.apache.spark.sql.Dataset[TableMeta] = null
    var refs: DataFrame = null
    var classified: DataFrame = null
    var edges: DataFrame = null
    var model: (Seq[TableMeta], Seq[Relationship], Set[(String, String)], Set[(String, String)]) = null
    val statePath = s"${c.out}/state"
    val cachePath = s"${c.out}/relationship_cache"
    val snapRoot = s"${c.out}/snapshots"
    val restoreDir = s"${c.out}/restored"
    // the write path snapshots and restores two dimension tables: each table
    // costs a fixed two write jobs, whatever its size
    val snapTables = Seq("nation", "region")
    def readBack(root: String => String): () => Out = () =>
      Records(snapTables.map(t => s"$t ${Harness.digestNow(spark.read.parquet(root(t)))}"))

    Seq(
      Step("catalog", "catalog", () => {
        cat = ParquetCatalog.catalog(spark, c.lake)
        Frame(cat.toDF(), Seq("path", "numBytes"))
      }),
      Step("column_refs", "catalog", () => {
        refs = ParquetCatalog.columnRefs(cat).toDF()
        Frame(refs)
      }),
      Step("classify", "analyze", () => {
        classified = ParquetCatalog.localized(KeyClassifier.classify(refs))
        Frame(classified)
      }),
      Step("detect", "detect", () => {
        edges = ParquetCatalog.localized(RelationshipDetector.detect(classified, customRules))
        Frame(edges)
      }),
      Step("data_tests", "datatest", () => {
        val key = Seq("source_table", "source_column", "target_table", "target_column")
        val tested = edges.select(key.map(col): _*).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
        Frame(DataTester.testRelationships(spark, c.lake, tested)
          .join(broadcast(edges.select((key :+ "confidence").map(col): _*)), key)
          .transform(DataTester.adjustConfidence(_)))
      }),
      // one collect of the model feeds all three formatters, as the
      // engine's render path does
      Step("render_mermaid", "render", () => {
        def keySet(flag: String) = classified.filter(col(flag))
          .select("tableName", "columnName").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        val rels = edges.collect().toSeq.map(r => Relationship(
          r.getAs[String]("source_table"), r.getAs[String]("source_column"),
          r.getAs[String]("target_table"), r.getAs[String]("target_column"),
          r.getAs[String]("relationship_type"), r.getAs[Double]("confidence"),
          r.getAs[String]("detection_method"), r.getAs[Boolean]("is_custom")))
        model = (cat.collect().toSeq, rels, keySet("is_pk_candidate"), keySet("is_fk_candidate"))
        Records(Seq(ErdRenderer.mermaid(model._1, model._2, model._3, model._4)))
      }),
      Step("render_plantuml", "render", () =>
        Records(Seq(ErdRenderer.plantUml(model._1, model._2, model._3)))),
      Step("render_drawio", "render", () =>
        Records(Seq(ErdRenderer.drawio(model._1, model._2)))),
      Step("save_state", "state", () => {
        IncrementalState.saveState(IncrementalState.schemaChecksums(cat),
          IncrementalState.loadState(spark, statePath), statePath, EpochMs)
        Records(Nil)
      }, check = Some(() => Frame(spark.read.parquet(statePath)))),
      Step("cache_put", "state", () => {
        RelationshipCache.put(RelationshipCache.load(spark, cachePath), edges, cachePath,
          EpochMs)
        Records(Nil)
      }, check = Some(() => Frame(spark.read.parquet(cachePath)))),
      Step("write_version", "restore", () => {
        snapTables.foreach(t => SnapshotRestore.writeVersion(
          spark.read.parquet(s"${c.lake}/$t.parquet"), s"$snapRoot/$t", EpochMs))
        Records(Nil)
      }, check = Some(readBack(t => s"$snapRoot/$t/_v=$EpochMs"))),
      Step("restore_dataset", "restore", () =>
        Records(SnapshotRestore.restoreDataset(spark, snapRoot, restoreDir, snapTables,
          EpochMs + 1).map(_.toString)),
        check = Some(readBack(t => s"$restoreDir/$t"))))
  }

  private def textNeardup(c: Ctx): Seq[Step] = {
    def docs = c.spark.read.parquet(s"${c.lake}/documents.parquet")
    var nearDups: DataFrame = null
    Seq(
      Step("quality_metrics", "ext.TextAnalysis", () =>
        Frame(TextAnalysis.withQualityMetrics(docs))),
      Step("minhash_candidates", "ext.Dedup", () => Frame(Dedup.minhashCandidates(docs))),
      Step("near_duplicates", "ext.Dedup", () => {
        nearDups = Dedup.nearDuplicates(docs, minJaccard = 0.5)
        Frame(nearDups)
      }),
      Step("setsim_join", "ext.FuzzyJoin", () =>
        Frame(FuzzyJoin.setSimJoin(docs, tNum = 1, tDen = 2, shingleK = 3))),
      Step("dedup_clusters", "ext.Dedup", () =>
        Frame(Dedup.dedupClusters(nearDups.select("id_a", "id_b")))),
      Step("contamination", "ext.Decontaminate", () => {
        val d = docs
        Frame(Decontaminate.contamination(d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), n = 3, threshold = 0.2))
      }))
  }

  /** One multimodal query per image, audio and container family of
    * q241-q358 (all 105 run ~40 s a pass at local[4], too long to repeat
    * within one run). Each is a `SparkEntry` query that wraps one
    * ext.Multimodal encode and one native decode from graft.functions.
    */
  val MediaQueries: Seq[String] = Seq(
    "q241_bmp_stats", "q253_wav_stats", "q260_qoi_stats", "q268_png_stats",
    "q272_jpegdct_stats", "q286_gif_stats", "q297_tiff_stats", "q315_tar_stats")

  private def mediaDecode(c: Ctx): Seq[Step] =
    MediaQueries.map(q => Step(q, "media", () => Frame(graft.SparkEntry.queries(q)(c.spark, c.lake))))
}
