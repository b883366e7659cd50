package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.GrainProbe
import graft.ext.{DedupOps, SketchOps, TextOps}
import graft.jobs.CurationJob

/** The class tier ([[GrainProbe.classes]]): every gated op returns the
  * same rows and columns at row grain and at class grain, on the same
  * clone-heavy input, with the grain forced by [[GrainProbe.forcing]].
  * One entry per op; each must consult the gate at least once, so an op
  * that bypasses the tier fails here rather than passing trivially. */
class ClassTierSpec extends SparkSpec {

  /** 60 fixture documents cloned 5× under fresh ids, plus one null-text
    * row and one row whose text has no tokens. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("text"))
    val clones = (1 to 4).map(c => docs.withColumn("doc_id",
      col("doc_id") + c * 1000L)).foldLeft(docs)(_ unionAll _)
    clones.unionAll(Seq(
        (90001L, "src0", "en", 0L, null.asInstanceOf[String]),
        (90002L, "src1", "en", 13L, "?!... --- !!!"))
      .toDF("doc_id", "source", "lang", "n_chars", "text"))
  }

  private def ref = corpus.filter(col("source") === "src0")

  private lazy val nbModel =
    TextOps.nbTrainHashed(corpus, "text", col("lang") === "en")

  private val gated: Seq[(String, () => DataFrame)] = Seq(
    "qualityMetrics" -> (() => TextOps.qualityMetrics(corpus, "text")),
    "languageId" -> (() => TextOps.languageId(corpus, "text")),
    "readabilityReport" -> (() =>
      TextOps.readabilityReport(corpus, "doc_id", "text")),
    "repetitionStats" -> (() =>
      TextOps.repetitionStats(corpus, "doc_id", "text")),
    "qualityClassify" -> (() => TextOps.qualityClassify(corpus, "text")),
    "winnowFingerprints" -> (() =>
      TextOps.winnowFingerprints(corpus, "doc_id", "text")),
    "bpeEncodeStats" -> (() => TextOps.bpeEncodeStats(corpus, "doc_id",
      "text", Seq("s p", "sp a", "j o", "jo i"))),
    "repeatedSpans" -> (() =>
      TextOps.repeatedSpans(corpus, "doc_id", "text", n = 3)),
    "removeRepeatedSpans" -> (() => TextOps.removeRepeatedSpans(corpus,
      "doc_id", "text", n = 4, minDocs = 8)),
    "dupWindowFraction" -> (() =>
      TextOps.dupWindowFraction(corpus, "doc_id", "text", n = 4)),
    "keywordsTfidf" -> (() =>
      TextOps.keywordsTfidf(corpus, "doc_id", "text")),
    "lmScore" -> (() => TextOps.lmScore(corpus, ref, "doc_id", "text")),
    "mixtureWeights" -> (() =>
      TextOps.mixtureWeights(corpus, ref, "source", "text")),
    "knScore" -> (() => TextOps.knScore(corpus, ref, "doc_id", "text")),
    "chunkDocuments" -> (() => TextOps.chunkDocuments(corpus, "doc_id",
      "text", chunkTokens = 8, overlapTokens = 2)),
    "collocationsPmi" -> (() =>
      TextOps.collocationsPmi(corpus, "text", minCount = 2L)),
    "curriculumStages" -> (() =>
      TextOps.curriculumStages(corpus, "doc_id", "text")),
    "ngramNovelty" -> (() =>
      TextOps.ngramNovelty(corpus, "source", "text", "src0")),
    "nbQualityScore" -> (() => TextOps.nbQualityScore(corpus, "doc_id",
      "text", col("lang") === "en")),
    "bm25TopK" -> (() => {
      import spark.implicits._
      TextOps.bm25TopK(corpus,
        Seq((1L, "spark join"), (2L, "window merge table")).toDF("qid",
          "qtext"), "doc_id", "text", "qid", "qtext", k = 7)
    }),
    "tokenEntropy" -> (() => TextOps.tokenEntropy(corpus, "doc_id", "text")),
    "dsirSelect" -> (() => TextOps.dsirSelect(corpus,
      corpus.filter(col("lang") === "en"), "doc_id", "text", "text",
      budget = 40)),
    "kmvSketch" -> (() =>
      SketchOps.kmvSketch(corpus, "source", "text", k = 16)),
    "kmvOverlapMatrix" -> (() =>
      SketchOps.kmvOverlapMatrix(corpus, "source", "text", k = 16)),
    "hllSketch" -> (() => SketchOps.hllSketch(corpus, "source", "text")),
    "bloomWords" -> (() => SketchOps.bloomWords(corpus, "source", "text",
      mBits = 256, depth = 3, gramN = 1)),
    "cmsSketch" -> (() => SketchOps.cmsSketch(corpus, "text")),
    "heavyHitters" -> (() =>
      SketchOps.heavyHitters(corpus, "text", minCount = 30L)),
    "vocabCoverage" -> (() =>
      SketchOps.vocabCoverage(corpus, "text", Seq(5, 20))),
    "clusterCohesion" -> (() => DedupOps.clusterCohesion(corpus, "doc_id",
      "text", corpus.select(col("doc_id").as("id"),
        (col("doc_id") % 7).as("component")))),
    "contaminatedIds" -> (() => DedupOps.contaminatedIds(corpus,
      corpus.filter(col("doc_id") < 3), "doc_id", "text")),
    "contaminationStats" -> (() => DedupOps.contaminationStats(corpus,
      corpus.filter(col("doc_id") < 3), "doc_id", "text")),
    "CurationJob.disposition" -> (() => CurationJob.disposition(corpus,
      CurationJob.Config(idCol = "doc_id", textCol = "text",
        allowedLangs = Seq("en"), maxDupTokenFrac = 0.65,
        maxTopBigramFrac = 0.06, nearDupThreshold = 0.8,
        nbModel = Some(nbModel)))))

  /** Columns and sorted rows of `op` built at the forced grain. */
  private def at(rep: Boolean, op: () => DataFrame): (Seq[String],
      Seq[String]) = {
    val (df, decisions) = GrainProbe.forcing(rep)(op())
    assert(decisions >= 1, "the op never consulted the class tier")
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
  }

  gated.foreach { case (name, op) =>
    test(s"$name: class grain == row grain (rows and columns)") {
      val (rowCols, rows) = at(rep = false, op)
      val (classCols, classRows) = at(rep = true, op)
      assert(classCols == rowCols)
      assert(classRows == rows)
      assert(rows.nonEmpty)
    }
  }

  test("the gate takes row grain on empty input") {
    assert(!GrainProbe.dupTier(spark.range(0).toDF(), col("id")))
    assert(!GrainProbe.dupTier(corpus.limit(0), md5(col("text"))))
  }

  test("the class tier keeps the row-grain column order when a derived " +
    "column replaces an input column") {
    // the corpus carries its own n_chars, which qualityMetrics replaces
    assert(GrainProbe.dupTier(corpus,
      coalesce(md5(col("text")), lit("\u0000null"))))
    val out = TextOps.qualityMetrics(corpus, "text").columns.toSeq
    assert(out == corpus.columns.toSeq ++ Seq("n_tokens", "alnum_ratio",
      "avg_token_len", "stopword_ratio", "quality_ok"))
  }

  test("dupTier has callers in GrainProbe only, and CurationJob.Config " +
    "has no grain field") {
    import scala.jdk.CollectionConverters._
    val callers = java.nio.file.Files.walk(java.nio.file.Paths.get(
        "src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p),
        "UTF-8").contains("dupTier("))
      .map(_.getFileName.toString).toSet
    assert(callers == Set("GrainProbe.scala"), callers)
    val fields = classOf[CurationJob.Config].getDeclaredFields
      .map(_.getName.toLowerCase)
    assert(!fields.exists(_.contains("grain")), fields.toSeq)
  }
}
