package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.jobs.{DedupeJob, IngestJob, LayoutJob, LoadJob, ProfileJob,
  QualityGateJob, SplitJob}

/** The orchestrated pipeline stages (airflow/dags/graft_pipeline_dag.py)
  * chained exactly as the DAG chains them — parquet-path handoff between
  * stages — plus a python-syntax check of the DAG file itself. */
class JobsSpec extends SparkSpec {

  private val ws = s"/tmp/graft_jobs_${System.nanoTime()}"

  test("ingest → profile → dedupe → load chains via parquet paths") {
    import spark.implicits._
    // Stage 0: a csv landing file (';' delimiter → exercises sniffing).
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    // ".csv" suffix on the landing DIRECTORY: loadFromFile dispatches on
    // extension, and spark.read.csv accepts a directory of part files.
    val csvIn = s"$ws/incoming.csv"
    docs.coalesce(1).write.option("delimiter", ";").option("header", "true")
      .csv(csvIn)

    IngestJob.run(spark, Array(csvIn, s"$ws/run/documents", "replace"))
    ProfileJob.run(spark, Array(s"$ws/run/documents", s"$ws/run/profile"))
    DedupeJob.run(spark,
      Array(s"$ws/run/documents", s"$ws/run/deduped", "doc_id", "text",
        "0.85"))
    LoadJob.run(spark,
      Array(s"$ws/run/deduped", s"$ws/warehouse/documents", "replace"))

    val n = docs.count()
    val loaded = spark.read.parquet(s"$ws/warehouse/documents")
    assert(loaded.count() > 0 && loaded.count() <= n)
    assert(loaded.columns.toSet == Set("doc_id", "text"))
    val prof = spark.read.parquet(s"$ws/run/profile")
    assert(prof.select("column").collect().map(_.getString(0)).toSet
      .contains("text"))
  }

  test("quality gate passes clean data, fails dirty data AFTER writing the report") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    docs.write.mode("overwrite").parquet(s"$ws/qg/in")
    // Clean: all rules hold → report written, no exception.
    QualityGateJob.run(spark, Array(s"$ws/qg/in", s"$ws/qg/report_ok",
      "not_null:doc_id;not_null:text;non_negative:n_chars", "doc_id"))
    val ok = spark.read.parquet(s"$ws/qg/report_ok")
    assert(ok.count() == 4 && ok.collect().forall(_.getAs[Boolean]("pass")))
    // Dirty: impossible range must FAIL the task but leave the report.
    val ex = intercept[RuntimeException] {
      QualityGateJob.run(spark, Array(s"$ws/qg/in", s"$ws/qg/report_bad",
        "range:n_chars:0:1", "doc_id"))
    }
    assert(ex.getMessage.contains("quality gate failed"))
    val bad = spark.read.parquet(s"$ws/qg/report_bad")
    assert(bad.filter(!col("pass")).count() == 1)
  }

  test("quality gate with an empty rules spec passes cleanly (no stale-report read)") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"))
    docs.write.mode("overwrite").parquet(s"$ws/qg0/in")
    // Plant a FAILING stale report at the output path: an empty check
    // must not pick it up and must not throw on the skipped write.
    import spark.implicits._
    Seq(("not_null", "x", 9L, false))
      .toDF("rule", "column", "n_violations", "pass")
      .write.mode("overwrite").parquet(s"$ws/qg0/report")
    QualityGateJob.run(spark, Array(s"$ws/qg0/in", s"$ws/qg0/report", ""))
  }

  test("quality gate rule parsing: regexes may contain colons; bad rules are loud") {
    val r = QualityGateJob.parseRule("matches:c:^a:b$")
    assert(r.name == "matches" && r.column == "c")
    intercept[IllegalArgumentException] {
      QualityGateJob.parseRule("frobnicate:c")
    }
  }

  test("split job appends the deterministic split column") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    docs.write.mode("overwrite").parquet(s"$ws/sp/in")
    SplitJob.run(spark, Array(s"$ws/sp/in", s"$ws/sp/out", "doc_id",
      "0.05", "0.05"))
    val out = spark.read.parquet(s"$ws/sp/out")
    assert(out.columns.contains("split"))
    assert(out.select("split").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("test", "valid", "train")))
    assert(out.count() == docs.count())
  }

  test("ingest raises on empty/unreadable input (DAG retry contract)") {
    intercept[RuntimeException] {
      IngestJob.run(spark, Array(s"$ws/nonexistent.csv", s"$ws/x", "replace"))
    }
  }

  test("stream ingest DAG routes quarantine/decon/blocklist/split, equal to its batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    import graft.ext.DedupOps
    val base = s"$ws/si"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val ddl = "doc_id LONG, text STRING"
    val rulesSpec = "not_null:text;non_negative:doc_id"
    val bench = Seq("prefix alpha beta gamma suffix").toDF("text")
    bench.write.mode("overwrite").parquet(s"$base/bench")
    Files.writeString(Paths.get(s"$base/phrases.txt"),
      "forbidden phrase\n\n")
    val b1 = Seq(
      (1L, "clean text about spark engines"),
      (2L, null: String),                                // quarantined
      (4L, "this has the Forbidden-Phrase! inside"),     // blocked
      (5L, "carries benchmark alpha beta gamma trigram")) // contaminated
    val b2 = Seq(
      (-6L, "negative id row"),                          // quarantined
      (7L, "another clean document entirely"),
      (1L, "clean text about spark engines"))            // idempotent re-key
    val args = Array(landing, ddl, "doc_id", "text", rulesSpec,
      s"$base/bench", s"$base/phrases.txt", storeDir, quarantine, cp)

    b1.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, args) // AvailableNow → terminates
    b2.toDF("doc_id", "text").write.mode("append").parquet(landing)
    StreamIngestJob.run(spark, args) // checkpoint resume: only new files

    // Batch twin over the full corpus through the SAME routing logic.
    val grams = DedupOps.benchmarkGramHashes(bench, "text")
    val rules = Seq(Checks.notNull("text"), Checks.nonNegative("doc_id"))
    val (twinBad, twinKept) = StreamIngestJob.routedTransform(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", rules, grams,
      Some(graft.ext.TextOps.containsBlockedPhrase(col("text"),
        Seq("forbidden phrase"))))

    // Kept rows: the store holds one JSON doc per id, byte-equal to the
    // twin's to_json projection (same column order: doc_id, text, split).
    val stored = new java.io.File(storeDir).listFiles()
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).toSet
    val twinDocs = twinKept.select(to_json(struct(
        col("doc_id"), col("text"), col("split")))).collect()
      .map(_.getString(0)).toSet
    assert(stored == twinDocs, s"store=$stored twin=$twinDocs")
    assert(stored.size == 2) // ids 1 and 7 survive

    // Quarantined rows carry their violation lists, nothing is dropped.
    val quarantined = spark.read.parquet(quarantine)
      .select(col("doc_id"), concat_ws(",", col("violations")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    val twinQ = twinBad
      .select(col("doc_id"), concat_ws(",", col("violations")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(quarantined == twinQ && quarantined.map(_._1) == Set(2L, -6L),
      s"quarantine=$quarantined twin=$twinQ")
  }

  test("quarantine channel is replay-idempotent under the same batchId") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    val base = s"$ws/si_replay"
    val quarantine = s"$base/quarantine"
    val store = new graft.sinks.Upsert.FileStore(s"$base/store")
    val rules = Seq(Checks.notNull("text"), Checks.nonNegative("doc_id"))
    val b1 = Seq((1L, "clean document text"), (2L, null: String),
      (-3L, "negative id")).toDF("doc_id", "text")
    def runBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamIngestJob.processBatch(df, id, "doc_id", "text", rules,
        Array.empty[Long], None, store, quarantine,
        0.05, 0.05, None, Double.PositiveInfinity, None)
    runBatch(b1, 7L)
    // replay the SAME micro-batch id — the failure-between-write-and-
    // checkpoint-commit scenario; the partition overwrite must leave
    // exactly one copy of each quarantined row
    runBatch(b1, 7L)
    val afterReplay = spark.read.parquet(quarantine)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(afterReplay == Seq(-3L, 2L),
      s"replay duplicated quarantine rows: $afterReplay")
    // a NEW batch id still accumulates (append across batches)
    val b2 = Seq((9L, null: String)).toDF("doc_id", "text")
    runBatch(b2, 8L)
    val afterNext = spark.read.parquet(quarantine)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(afterNext == Seq(-3L, 2L, 9L), s"lost rows: $afterNext")
    // and the batch id is visible as a discovered partition column
    val parts = spark.read.parquet(quarantine)
      .select("batch_id").distinct().as[Long].collect().sorted.toSeq
    assert(parts == Seq(7L, 8L), s"partitions: $parts")
  }

  test("live HLL distinct monitor: estimate equals the batch sketch of " +
      "all kept rows; replay under the same batchId changes nothing") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    val base = s"$ws/si_monitor"
    val store = new graft.sinks.Upsert.FileStore(s"$base/store")
    val monitorDir = s"$base/monitor"
    val rules = Seq(Checks.notNull("text"))
    def runBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamIngestJob.processBatch(df, id, "doc_id", "text", rules,
        Array.empty[Long], None, store, s"$base/quarantine",
        0.05, 0.05, None, Double.PositiveInfinity, None,
        monitor = Some((monitorDir, "-")))
    val b1 = Seq((1L, "alpha beta gamma"), (2L, "beta delta"),
      (3L, null: String)).toDF("doc_id", "text")
    val b2 = Seq((4L, "gamma epsilon zeta"), (5L, "alpha eta"))
      .toDF("doc_id", "text")
    runBatch(b1, 0L)
    runBatch(b2, 1L)
    def estimate(): (Int, Long, Long) = {
      val rows = StreamIngestJob.monitorEstimate(spark, monitorDir,
        "_monitor_group").get.collect()
      assert(rows.length == 1)
      (rows(0).getAs[Int]("n_zero_registers"),
        rows(0).getAs[Long]("t_harmonic"),
        rows(0).getAs[Long]("est_distinct"))
    }
    val afterTwo = estimate()
    // the incremental monitor equals the one-shot batch sketch over
    // everything that passed the gate (rows 1,2,4,5 — not the null)
    val batchTwin = graft.ext.SketchOps.hllSketch(
        b1.unionByName(b2).filter(col("text").isNotNull)
          .withColumn("_monitor_group", lit("all")),
        "_monitor_group", "text").collect()
    assert(batchTwin.length == 1)
    assert(afterTwo == (batchTwin(0).getAs[Int]("n_zero_registers"),
      batchTwin(0).getAs[Long]("t_harmonic"),
      batchTwin(0).getAs[Long]("est_distinct")))
    // 8 distinct tokens, far under-full registers -> linear counting
    // reports nearly exactly
    assert(afterTwo._3 >= 7L && afterTwo._3 <= 9L, afterTwo.toString)
    // replay the last micro-batch id: sketch union is idempotent, so
    // the monitor must decode to the identical estimate
    runBatch(b2, 1L)
    assert(estimate() == afterTwo)
    // only one version directory survives pruning
    assert(StreamIngestJob.monitorVersions(spark, monitorDir) == Seq(1L))
  }

  test("live CMS frequency monitor: additive grid equals the batch " +
      "sketch; replay is skipped by the version ledger") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    val base = s"$ws/si_cms_monitor"
    val store = new graft.sinks.Upsert.FileStore(s"$base/store")
    val dir = s"$base/freq"
    val rules = Seq(Checks.notNull("text"))
    def runBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamIngestJob.processBatch(df, id, "doc_id", "text", rules,
        Array.empty[Long], None, store, s"$base/quarantine",
        0.05, 0.05, None, Double.PositiveInfinity, None,
        freqMonitorDir = Some(dir))
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "alpha delta"), (4L, null: String))
      .toDF("doc_id", "text")
    runBatch(b1, 0L)
    runBatch(b2, 1L)
    val probes = Seq("alpha", "beta", "gamma", "delta", "absent")
      .toDF("token")
    def estimates(): Map[String, Long] =
      StreamIngestJob.cmsMonitorEstimate(spark, dir, probes, "token")
        .get.collect()
        .map(r => r.getString(0) -> r.getAs[Long]("cms_est")).toMap
    val got = estimates()
    // width 1024 over 4 tokens: no collisions — estimates are exact
    // counts over kept rows (the null-text doc was quarantined)
    assert(got == Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L,
      "delta" -> 1L, "absent" -> 0L), got.toString)
    // a replayed batch id is already in the ledger: counts must NOT
    // double (the additive sketch can't absorb replays on its own)
    runBatch(b2, 1L)
    assert(estimates() == got)
    assert(StreamIngestJob.monitorVersions(spark, dir) == Seq(1L))
  }

  test("live length-quantile monitor: folded buckets equal the batch " +
      "sketch; replay is skipped by the version ledger") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    val base = s"$ws/si_len_monitor"
    val store = new graft.sinks.Upsert.FileStore(s"$base/store")
    val dir = s"$base/len"
    val rules = Seq(Checks.notNull("text"))
    def runBatch(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamIngestJob.processBatch(df, id, "doc_id", "text", rules,
        Array.empty[Long], None, store, s"$base/quarantine",
        0.05, 0.05, None, Double.PositiveInfinity, None,
        lenMonitorDir = Some(dir))
    val b1 = Seq((1L, "one two three"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "x y"), (4L, null: String)).toDF("doc_id", "text")
    runBatch(b1, 0L)
    runBatch(b2, 1L)
    def quantiles(): Map[Long, Long] =
      StreamIngestJob.lengthMonitorQuantiles(spark, dir,
          "_monitor_group", Seq(50, 99))
        .get.collect()
        .map(r => r.getLong(1) -> r.getAs[Long]("bucket_lo")).toMap
    val got = quantiles()
    // kept lengths {3, 8, 2} (null-text doc quarantined); mBits=6 is
    // exact for small ints: p50 rank ceil(0.5*3)=2 -> value 3,
    // p99 rank 3 -> value 8
    assert(got == Map(50L -> 3L, 99L -> 8L), got.toString)
    // replayed batch id: already in the ledger, counts must not double
    runBatch(b2, 1L)
    assert(quantiles() == got)
    assert(StreamIngestJob.monitorVersions(spark, dir) == Seq(1L))
  }

  test("ingest fluency gate drops reference-unlike docs, stream == batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.ext.TextOps
    val base = s"$ws/si_lm"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val ddl = "doc_id LONG, text STRING"
    // Reference LM: fluent "spark" prose; the gibberish doc's bigrams
    // are all OOV → its mean NLL is far above the fluent docs'.
    val ref = Seq("the spark engine runs the query",
      "the engine runs the spark job").toDF("text")
    ref.write.mode("overwrite").parquet(s"$base/ref")
    val model = TextOps.lmTrainHashed(ref, "text")
    val docs = Seq(
      (1L, "the spark engine runs the job"),
      (2L, "zq xv bnw ql zzt prw mmx"), // OOV gibberish → gated
      (3L, "the engine runs the query"))
    // Threshold between the fluent docs' scores and the gibberish's.
    val scores = TextOps.streamLmScore(docs.toDF("doc_id", "text"),
        "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(2L) > scores(1L) && scores(2L) > scores(3L))
    val cap = (scores.values.max + scores.values.min) / 2
    docs.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, Array(landing, ddl, "doc_id", "text",
      "not_null:text", "-", "-", storeDir, quarantine, cp,
      "0.05", "0.05", s"$base/ref", cap.toString))
    val storedIds = new java.io.File(storeDir).listFiles()
      .map(_.getName.stripSuffix(".json")).toSet
    val (_, twinKept) = StreamIngestJob.routedTransform(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq(graft.transform.Checks.notNull("text")), Array.empty, None,
      lmModel = Some(model), maxMeanNll = cap)
    val twinIds = twinKept.select("doc_id").collect()
      .map(_.getLong(0).toString).toSet
    assert(twinIds == Set("1", "3"), s"twin kept $twinIds")
    assert(storedIds == twinIds, s"store=$storedIds twin=$twinIds")
  }

  test("ingest NB quality gate drops classifier-negative docs, " +
      "stream == batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.ext.TextOps
    import org.apache.spark.sql.functions.col
    val base = s"$ws/si_nb"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val ddl = "doc_id LONG, text STRING"
    // labeled corpus: trusted prose vs junk
    val labeled = Seq(
      ("good clean prose text", true),
      ("clean prose text good good", true),
      ("spam junk junk buy", false),
      ("buy spam now junk", false)).toDF("text", "trusted")
    labeled.write.mode("overwrite").parquet(s"$base/labeled")
    val model = TextOps.nbTrainHashed(labeled, "text", col("trusted"))
    val docs = Seq(
      (1L, "good clean prose"),   // classifier-positive → kept
      (2L, "spam junk buy"),      // classifier-negative → gated
      (3L, "clean text good"))    // positive → kept
    docs.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, Array(landing, ddl, "doc_id", "text",
      "not_null:text", "-", "-", storeDir, quarantine, cp,
      "0.05", "0.05", "-", "Infinity", "-", "-", "-", "false",
      "-", "-", "-", "-", s"$base/labeled", "trusted"))
    val storedIds = new java.io.File(storeDir).listFiles()
      .map(_.getName.stripSuffix(".json")).toSet
    val (_, twinKept) = StreamIngestJob.routedTransform(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq(graft.transform.Checks.notNull("text")), Array.empty,
      None, nbModel = Some(model))
    val twinIds = twinKept.select("doc_id").collect()
      .map(_.getLong(0).toString).toSet
    assert(twinIds == Set("1", "3"), s"twin kept $twinIds")
    assert(storedIds == twinIds, s"store=$storedIds twin=$twinIds")
  }

  test("ingest CCNet band stage labels head/middle/tail from literal " +
      "bounds and drops the tail, stream == batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.ext.TextOps
    val base = s"$ws/si_band"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val ddl = "doc_id LONG, text STRING"
    val ref = Seq("the spark engine runs the query",
      "the engine runs the spark job").toDF("text")
    ref.write.mode("overwrite").parquet(s"$base/ref")
    val model = TextOps.lmTrainHashed(ref, "text")
    val docs = Seq(
      (1L, "the spark engine runs the job"),   // fluent → head
      (2L, "the engine runs the query"),       // fluent → head
      (3L, "the spark query zq runs"),         // one OOV bigram → middle
      (4L, "zq xv bnw ql zzt prw mmx"))        // all OOV → tail, dropped
    val scores = TextOps.streamLmScore(docs.toDF("doc_id", "text"),
        "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) < scores(3L) && scores(3L) < scores(4L))
    // bounds between the observed score clusters — the batch side would
    // derive these with nllBucketsByThreshold; here they are the same
    // kind of plan literal, picked to make the banding unambiguous
    val t1 = (math.max(scores(1L), scores(2L)) + scores(3L)) / 2
    val t2 = (scores(3L) + scores(4L)) / 2
    docs.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, Array(landing, ddl, "doc_id", "text",
      "not_null:text", "-", "-", storeDir, quarantine, cp,
      "0.05", "0.05", s"$base/ref", "Infinity", "-",
      t1.toString, t2.toString, "true"))
    val stored = new java.io.File(storeDir).listFiles()
      .map(f => f.getName.stripSuffix(".json") ->
        Files.readString(f.toPath)).toMap
    assert(stored.keySet == Set("1", "2", "3"), s"stored ${stored.keySet}")
    // the band label rides to the store with the row
    assert(stored("1").contains("\"ppl_bucket\":\"head\""), stored("1"))
    assert(stored("3").contains("\"ppl_bucket\":\"middle\""), stored("3"))
    val (_, twinKept) = StreamIngestJob.routedTransform(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq(graft.transform.Checks.notNull("text")), Array.empty, None,
      lmModel = Some(model), nllBand = Some((t1, t2)), dropNllTail = true)
    val twin = twinKept.select("doc_id", "ppl_bucket").collect()
      .map(r => r.getLong(0).toString -> r.getString(1)).toMap
    assert(twin == Map("1" -> "head", "2" -> "head", "3" -> "middle"))
  }

  test("ingest history-dedup stage drops re-crawls, stream == batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.ext.DedupOps
    val base = s"$ws/si_dedup"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val history = Seq((900L, "previously archived crawl document"))
      .toDF("doc_id", "text")
    history.write.mode("overwrite").parquet(s"$base/history")
    val docs = Seq(
      (1L, "a brand new crawl document"),
      (2L, "previously archived crawl document"), // re-crawl → dropped
      (3L, "another brand new one"))
    docs.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, Array(landing, "doc_id LONG, text STRING",
      "doc_id", "text", "not_null:text", "-", "-", storeDir, quarantine,
      cp, "0.05", "0.05", "-", "Infinity", s"$base/history"))
    val storedIds = new java.io.File(storeDir).listFiles()
      .map(_.getName.stripSuffix(".json")).toSet
    val (_, twinKept) = StreamIngestJob.routedTransform(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq(graft.transform.Checks.notNull("text")), Array.empty, None,
      dedupIndex = Some(DedupOps.buildDedupIndex(history, "text")))
    val twinIds = twinKept.select("doc_id").collect()
      .map(_.getLong(0).toString).toSet
    assert(twinIds == Set("1", "3"), s"twin kept $twinIds")
    assert(storedIds == twinIds)
  }

  test("ingest NEAR-dup history gate drops near-re-crawls the exact " +
      "tier misses, stream == batch twin") {
    import spark.implicits._
    import graft.jobs.StreamIngestJob
    import graft.ext.DedupOps
    val base = s"$ws/si_neardup"
    val (landing, storeDir, quarantine, cp) =
      (s"$base/landing", s"$base/store", s"$base/quarantine", s"$base/cp")
    val archived = "the quick brown fox jumps over the lazy dog " +
      "while the sun sets slowly behind the tall green hills tonight"
    val history = Seq((900L, archived)).toDF("doc_id", "text")
    // the daily run's persisted index artifact
    DedupOps.buildNearDupIndex(history, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$base/nd_index")
    val docs = Seq(
      (1L, "a genuinely new crawl document about different things " +
        "entirely with no overlap in its phrasing at all today"),
      // near-re-crawl: one word changed → exact fingerprint differs,
      // shingle Jaccard stays far above 0.5 → near-dup gate drops it
      (2L, archived.replace("slowly", "quickly")),
      (3L, archived)) // exact re-crawl — also caught by the near gate
    docs.toDF("doc_id", "text").write.parquet(landing)
    StreamIngestJob.run(spark, Array(landing, "doc_id LONG, text STRING",
      "doc_id", "text", "not_null:text", "-", "-", storeDir, quarantine,
      cp, "0.05", "0.05", "-", "Infinity", "-", "-", "-", "false", "-",
      "-", "-", "-", "-", "-", s"$base/nd_index", "0.5"))
    val storedIds = new java.io.File(storeDir).listFiles()
      .map(_.getName.stripSuffix(".json")).toSet
    val (_, twinKept) = StreamIngestJob.routedTransform(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq(graft.transform.Checks.notNull("text")), Array.empty, None,
      nearDupIndex = Some((spark.read.parquet(s"$base/nd_index"), 0.5)))
    val twinIds = twinKept.select("doc_id").collect()
      .map(_.getLong(0).toString).toSet
    assert(twinIds == Set("1"), s"twin kept $twinIds")
    assert(storedIds == twinIds)
  }

  test("incremental ingest processes only newly landed files per run") {
    val base = s"$ws/incr"
    val (landing, out, cp) = (s"$base/landing", s"$base/table", s"$base/cp")
    new java.io.File(landing).mkdirs()
    val ddl = "id LONG, name STRING"
    Files.writeString(Paths.get(s"$landing/a.json"),
      "{\"id\":1,\"name\":\"x\"}\n{\"id\":2,\"name\":\"y\"}\n")
    graft.jobs.IncrementalIngestJob.run(spark,
      Array(landing, "json", ddl, out, cp))
    assert(spark.read.parquet(out).count() == 2)
    Files.writeString(Paths.get(s"$landing/b.json"),
      "{\"id\":3,\"name\":\"z\"}\n")
    graft.jobs.IncrementalIngestJob.run(spark,
      Array(landing, "json", ddl, out, cp))
    // a.json NOT reprocessed: 3 rows total, not 5
    val ids = spark.read.parquet(out).collect()
      .map(_.getAs[Long]("id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("compaction merges small files idempotently; sorted write clusters") {
    import spark.implicits._
    val dir = s"$ws/compact/t"
    // 64 tiny files
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(64).write.parquet(dir)
    val filesBefore = new java.io.File(dir)
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(filesBefore >= 32)
    val n = graft.sinks.Maintenance.compact(spark, dir)
    val filesAfter = new java.io.File(dir)
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(filesAfter == n && filesAfter < filesBefore)
    assert(spark.read.parquet(dir).count() == 1000)
    // idempotent: same target → same file count
    assert(graft.sinks.Maintenance.compact(spark, dir) == n)
    // sorted write: rows within each file are ordered by the sort key
    val sdir = s"$ws/compact/sorted"
    assert(graft.sinks.Maintenance.sortedWrite(
      spark.read.parquet(dir), sdir, sortCols = Seq("id"),
      repartitionBy = Seq("k")))
    val perFileSorted = spark.read.parquet(sdir)
      .select(col("id"), org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .collect().groupBy(_.getString(1))
      .values.forall { rows =>
        val ids = rows.map(_.getLong(0)).toSeq
        ids == ids.sorted
      }
    assert(perFileSorted, "rows not sorted within files")
  }

  test("compaction preserves Hive partition layout (per-partition rewrite)") {
    import spark.implicits._
    val dir = s"$ws/compact/parted"
    graft.sinks.Sinks.writeParquet(
      spark.range(200).select((col("id") % 2).cast("string").as("day"),
        col("id")).repartition(16),
      dir, partitionBy = Seq("day"))
    graft.sinks.Maintenance.compact(spark, dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("day=0", "day=1"), dirs.mkString(","))
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    // pruning still works after compaction
    val plan = back.filter(col("day") === "1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("curation job: disposition covers every row once, curate matches " +
      "it, the main writes both outputs") {
    import graft.jobs.CurationJob
    import graft.transform.Checks
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
    val cfg = CurationJob.Config(
      idCol = "doc_id", textCol = "text",
      rules = Seq(Checks.inRange("n_chars", 60.0, 100000.0)),
      allowedLangs = Seq("en"),
      maxDupTokenFrac = 0.65, maxTopBigramFrac = 0.06,
      exactDedup = true, nearDupThreshold = 0.8,
      benchGramHashes = graft.ext.DedupOps.benchmarkGramHashes(
        docs.filter(col("doc_id") < 10), "text"),
      nbModel = Some(graft.ext.TextOps.nbTrainHashed(docs, "text",
        col("lang") === "en")))
    val disp = CurationJob.disposition(docs, cfg).collect()
    val n = docs.count()
    assert(disp.length == n, "every input row appears exactly once")
    assert(disp.map(_.getLong(0)).distinct.length == n)
    val statuses = disp.map(_.getString(1)).toSet
    // stage coverage on this config: quarantine, lang, repetition,
    // contamination and the NB gate must all fire at sf0.001; splits
    // must be present (the survivors)
    Seq("non_target_lang", "contaminated", "low_quality", "train")
      .foreach(st => assert(statuses.contains(st), s"missing $st"))
    assert(statuses.subsetOf(
      (CurationJob.Stages ++ Seq("train", "valid", "test")).toSet))
    // curate = survivors with their split, nothing else
    val curated = CurationJob.curate(docs, cfg)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptFromDisp = disp
      .filter(r => !CurationJob.Stages.contains(r.getString(1)))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(curated == keptFromDisp)
    // the spark-submit face: both outputs land as parquet
    docs.write.mode("overwrite").parquet(s"$ws/cur/in")
    CurationJob.run(spark, Array(s"$ws/cur/in", s"$ws/cur/disp",
      s"$ws/cur/kept", "doc_id", "text", "range:n_chars:60:100000",
      "en", "-", "0.65", "0.06", "0.8"))
    val dispOut = spark.read.parquet(s"$ws/cur/disp")
    assert(dispOut.count() == n)
    val keptOut = spark.read.parquet(s"$ws/cur/kept")
    assert(keptOut.columns.contains("split"))
    assert(keptOut.count() ==
      dispOut.filter(!col("status").isin(CurationJob.Stages: _*)).count())
  }

  test("incremental dedup job: two-day replay leaves state equal to a " +
      "one-shot batch over both days") {
    import graft.ext.DedupOps
    import graft.jobs.IncrementalDedupJob
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") < 300)
    // Day 1 carries its own clone mass (+20000) and twenty docs whose
    // text re-arrives on day 2 under SMALLER ids (the 50200-50219
    // shifted copies of base 200-219 — ids are globally unique but NOT
    // monotone across days); day 2 adds fresh docs (including base
    // 200-219 themselves) plus clones of DAY-1 docs (+10000) —
    // cross-day near-dups and (i, 10000+i, 20000+i) triangles that
    // exercise the cross-run label merge.
    val day1 = base.filter(col("doc_id") < 150)
      .unionAll(base.filter(col("doc_id") < 15)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id").between(200, 219))
        .select((col("doc_id") + 50000).as("doc_id"), col("text")))
    val day2 = base.filter(col("doc_id") >= 150)
      .unionAll(base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    day1.write.mode("overwrite").parquet(s"$ws/inc/day1")
    day2.write.mode("overwrite").parquet(s"$ws/inc/day2")
    val jobArgs = Seq("doc_id", "text", "2", "64", "16", "0.8")
    IncrementalDedupJob.run(spark, (Seq(s"$ws/inc/day1", s"$ws/inc/state",
      s"$ws/inc/kept1") ++ jobArgs).toArray)
    IncrementalDedupJob.run(spark, (Seq(s"$ws/inc/day2", s"$ws/inc/state",
      s"$ws/inc/kept2") ++ jobArgs).toArray)
    // State invariant: day-2 labels == one-shot clustering of both days.
    val all = day1.unionAll(day2)
    val oneShot = DedupOps.connectedComponents(
        DedupOps.nearDupPairsMinhash(all, "doc_id", "text", 2, 64, 16, 0.8))
      .select(col("id").cast("long"), col("component").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val labels = spark.read.parquet(s"$ws/inc/state/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(labels.nonEmpty && labels.sameElements(oneShot),
      "two-day replayed labels must be bit-equal to the one-shot closure")
    // Index invariant: append-only, one row per non-empty-shingle doc
    // of BOTH days, no doc indexed twice.
    val index = spark.read.parquet(s"$ws/inc/state/index")
    assert(index.count() ==
      DedupOps.buildNearDupIndex(all, "doc_id", "text").count())
    assert(index.select("_id").distinct().count() == index.count())
    // Kept semantics — ARCHIVE PREFERENCE: a re-crawl of anything
    // already archived never survives its own day, regardless of id
    // order. The +10000 clones (bigger ids) drop, and so do base
    // 200-219 (SMALLER ids than their archived 50200+ twins — the
    // id-min rule alone would wrongly keep them).
    val kept1 = spark.read.parquet(s"$ws/inc/kept1")
    val kept2 = spark.read.parquet(s"$ws/inc/kept2")
    assert(kept1.filter(col("doc_id").between(20000, 20014)).count() == 0,
      "day-1 clones of day-1 docs drop")
    assert(kept1.filter(col("doc_id") >= 50000).count() > 0,
      "day-1 shifted originals keep (nothing archived matches them)")
    assert(kept2.filter(col("doc_id") >= 10000).count() == 0)
    assert(kept2.filter(col("doc_id").between(200, 219)).count() == 0,
      "smaller-id re-crawls of archived docs must drop")
    assert(kept2.count() < day2.count())
    // Every kept-2 row is either untouched by any pair or the min of a
    // batch-only cluster — never a loser of the final clustering.
    val losers = labels.filter { case (id, c) => id != c }.map(_._1).toSet
    assert(kept2.collect().map(_.getLong(0)).forall(id => !losers(id)))
    // Idempotent retry: re-running day 2 must not double-append index
    // rows nor change labels or kept.
    IncrementalDedupJob.run(spark, (Seq(s"$ws/inc/day2", s"$ws/inc/state",
      s"$ws/inc/kept2b") ++ jobArgs).toArray)
    val index2 = spark.read.parquet(s"$ws/inc/state/index")
    assert(index2.count() == index.count(), "retry must not double-append")
    val labels2 = spark.read.parquet(s"$ws/inc/state/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(labels2.sameElements(labels), "retry must not change labels")
    assert(spark.read.parquet(s"$ws/inc/kept2b").count() == kept2.count())
  }

  test("LayoutJob: curve-clustered files carry tight footer extents " +
    "on BOTH keys where a round-robin write spans everything") {
    import spark.implicits._
    // correlated keys on the diagonal — the layout-sensitive case
    val rows = (0L until 4096L).map(i => (i, i % 64L, (i / 64L + i % 7L)
      % 64L, s"payload$i")).toDF("id", "kx", "ky", "payload")
    val in = s"$ws/layout_in"
    rows.write.mode("overwrite").parquet(in)
    val outZ = s"$ws/layout_z"
    LayoutJob.run(spark, Array(in, outZ, "kx", "ky", "6", "8", "zorder"))
    val outBase = s"$ws/layout_rr"
    spark.read.parquet(in).repartition(8)
      .write.mode("overwrite").parquet(outBase)
    def fileExtents(path: String): Seq[(Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col("kx")) - min(col("kx"))).as("wx"),
          (max(col("ky")) - min(col("ky"))).as("wy"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val z = fileExtents(outZ)
    val rr = fileExtents(outBase)
    assert(z.length == 8 && rr.length == 8)
    // round-robin: every file spans ~the full range on both keys
    assert(rr.forall { case (wx, wy) => wx >= 55L && wy >= 55L })
    // curve-clustered: materially tighter on average in BOTH dims
    def mean(s: Seq[Long]) = s.sum.toDouble / s.size
    assert(mean(z.map(_._1)) < 0.6 * mean(rr.map(_._1)),
      s"x extents not tighter: $z")
    assert(mean(z.map(_._2)) < 0.75 * mean(rr.map(_._2)),
      s"y extents not tighter: $z")
    // rows survive the rewrite exactly
    assert(spark.read.parquet(outZ).count() == 4096L)
    // hilbert path writes too and keeps the schema
    val outH = s"$ws/layout_h"
    LayoutJob.run(spark, Array(in, outH, "kx", "ky", "6", "8", "hilbert"))
    assert(spark.read.parquet(outH).columns.toSeq ==
      Seq("id", "kx", "ky", "payload"))
    assert(spark.read.parquet(outH).count() == 4096L)
  }

  test("the DAG file is syntactically valid python") {
    val dag = "airflow/dags/graft_pipeline_dag.py"
    assert(Files.exists(Paths.get(dag)), s"missing $dag")
    val rc = new ProcessBuilder("python3", "-B", "-m", "py_compile", dag)
      .inheritIO().start().waitFor()
    assert(rc == 0, s"py_compile failed for $dag")
  }

  test("AnnIndexJob: first run trains, second loads; loaded state " +
    "searches bit-equal to retrained AND to the train-inline twins; " +
    "corpus-version bump retrains") {
    import spark.implicits._
    import graft.ext.SimilarityOps
    val emb = (0 until 40).map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 7 + d * 3) % 13 - 6).toDouble).toArray)
    }.toDF("vec_id", "embedding")
    val stateDir = Files.createTempDirectory("graft-ann").toString
    val (trained, l1) = graft.jobs.AnnIndexJob.loadOrTrain(spark, emb,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day1")
    assert(!l1)
    // Second call with the same key must LOAD — pass a poisoned corpus
    // so any accidental retrain is caught by the score comparison.
    val poisoned = emb.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"),
        v => v * 100))
    val (loaded, l2) = graft.jobs.AnnIndexJob.loadOrTrain(spark, poisoned,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day1")
    assert(l2)
    assert(loaded.cents == trained.cents && loaded.cws == trained.cws)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    val offLoaded = rows(SimilarityOps.ivfPqTopKWithIndex(q, loaded,
      "vec_id", "embedding", k = 3, nProbe = 2))
    val offTrained = rows(SimilarityOps.ivfPqTopKWithIndex(q, trained,
      "vec_id", "embedding", k = 3, nProbe = 2))
    val inline = rows(SimilarityOps.ivfPqTopK(q, emb, "vec_id",
      "embedding", k = 3, dim = 8, nCentroids = 4, nProbe = 2, m = 4,
      nCodewords = 8))
    assert(offLoaded == offTrained && offLoaded == inline)
    // the PQ and sampled-IVF twins agree off the same loaded state
    assert(rows(SimilarityOps.pqTopKWithIndex(q, loaded, "vec_id",
        "embedding", k = 3)) ==
      rows(SimilarityOps.pqTopK(q, emb, "vec_id", "embedding", k = 3,
        dim = 8, m = 4, nCodewords = 8)))
    assert(rows(SimilarityOps.ivfTopKSampledWithIndex(q, emb, loaded,
        "vec_id", "embedding", k = 3, nProbe = 2)) ==
      rows(SimilarityOps.ivfTopKSampled(q, emb, "vec_id", "embedding",
        k = 3, nCentroids = 4, nProbe = 2)))
    // a corpus-version bump invalidates the key and retrains
    val (_, l3) = graft.jobs.AnnIndexJob.loadOrTrain(spark, emb,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day2")
    assert(!l3)
  }

  test("AnnIndexJob.appendBatch: frozen-quantizer day-2 append == " +
    "from-scratch retrain on the union; idempotent retry; param " +
    "mismatch refused") {
    import spark.implicits._
    import graft.ext.SimilarityOps
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 7 + d * 3) % 13 - 6).toDouble).toArray)
    }.toDF("vec_id", "embedding")
    val day1 = mk(0, 40)
    val day2 = mk(40, 60) // ids strictly above day 1's sample range
    val stateDir = Files.createTempDirectory("graft-ann-app").toString
    graft.jobs.AnnIndexJob.loadOrTrain(spark, day1, stateDir,
      "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day1")
    val (st2, n2) = graft.jobs.AnnIndexJob.appendBatch(spark, day2,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day2")
    assert(n2 == 20L && st2.codes.count() == 60L)
    // retry / replay: anti-join keeps the append idempotent
    val (st3, n3) = graft.jobs.AnnIndexJob.appendBatch(spark, day2,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day2")
    assert(n3 == 0L && st3.codes.count() == 60L)
    // day-2 ids sit above the codebook sample range, so a from-scratch
    // retrain over the union picks the SAME quantizer — the appended
    // state must search bit-equal to it.
    val union = day1.unionByName(day2)
    val retrain = SimilarityOps.buildAnnIndexState(union, "vec_id",
      "embedding", dim = 8, nCentroids = 4, m = 4, nCodewords = 8)
    assert(st2.cents == retrain.cents && st2.cws == retrain.cws)
    val q = union.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    assert(rows(SimilarityOps.ivfPqTopKWithIndex(q, st2, "vec_id",
        "embedding", k = 3, nProbe = 2)) ==
      rows(SimilarityOps.ivfPqTopKWithIndex(q, retrain, "vec_id",
        "embedding", k = 3, nProbe = 2)))
    // appending with a different param tuple must refuse loudly
    intercept[IllegalArgumentException] {
      graft.jobs.AnnIndexJob.appendBatch(spark, day2, stateDir,
        "vec_id", "embedding", dim = 8, nCentroids = 8, m = 4,
        nCodewords = 8)
    }
  }

  test("ANN ship gate after append: day-2-append recall (and MRR) == " +
    "union-retrain recall on the frozen query sample") {
    import spark.implicits._
    import graft.ext.SimilarityOps
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 7 + d * 3) % 13 - 6).toDouble).toArray)
    }.toDF("vec_id", "embedding")
    val day1 = mk(0, 40)
    val day2 = mk(40, 60)
    val stateDir = Files.createTempDirectory("graft-ann-gate").toString
    graft.jobs.AnnIndexJob.loadOrTrain(spark, day1, stateDir,
      "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day1")
    val (appended, _) = graft.jobs.AnnIndexJob.appendBatch(spark, day2,
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "day2")
    val union = day1.unionByName(day2)
    val retrain = SimilarityOps.buildAnnIndexState(union, "vec_id",
      "embedding", dim = 8, nCentroids = 4, m = 4, nCodewords = 8)
    // frozen query sample + exact truth, shared by both gates
    val q = union.filter(col("vec_id") < 5)
    val truth = SimilarityOps.bruteForceTopK(q, union, "vec_id",
      "embedding", k = 3)
    val truth1 = SimilarityOps.bruteForceTopK(q, union, "vec_id",
        "embedding", k = 1)
      .select(col("query_id"), col("neighbor_id").as("truth_id"))
    def recallRows(st: SimilarityOps.AnnIndexState) =
      SimilarityOps.topKRecall(truth,
          SimilarityOps.ivfPqTopKWithIndex(q, st, "vec_id", "embedding",
            k = 3, nProbe = 2))
        .orderBy("query_id").collect().map(_.toString).toSeq
    def mrrRows(st: SimilarityOps.AnnIndexState) =
      SimilarityOps.topKMrr(truth1,
          SimilarityOps.ivfPqTopKWithIndex(q, st, "vec_id", "embedding",
            k = 3, nProbe = 2))
        .orderBy("query_id").collect().map(_.toString).toSeq
    val rApp = recallRows(appended)
    assert(rApp == recallRows(retrain),
      "appended-index recall must equal union-retrain recall")
    assert(mrrRows(appended) == mrrRows(retrain))
    // the gate measures something real: 5 queries, recall in [0, 1e6],
    // at least one hit
    assert(rApp.size == 5)
    val recalls = SimilarityOps.topKRecall(truth,
        SimilarityOps.ivfPqTopKWithIndex(q, appended, "vec_id",
          "embedding", k = 3, nProbe = 2))
      .collect().map(_.getAs[Long]("recall_ppm"))
    assert(recalls.forall(r => r >= 0L && r <= 1000000L))
    assert(recalls.exists(_ > 0L))
  }

  test("AnnIndexJob append crash-safety: unchanged corpus version " +
    "skips the meta rewrite; codes-without-meta refuses to bootstrap") {
    import spark.implicits._
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 7 + d * 3) % 13 - 6).toDouble).toArray)
    }.toDF("vec_id", "embedding")
    val stateDir = Files.createTempDirectory("graft-ann-crash").toString
    graft.jobs.AnnIndexJob.loadOrTrain(spark, mk(0, 40), stateDir,
      "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "v1")
    // Same corpus version: the append must NOT touch meta at all —
    // no delete-then-write window exists if no write happens.
    def metaListing(): Seq[(String, Long)] = {
      val d = new java.io.File(s"$stateDir/meta")
      d.listFiles().toSeq.map(f => (f.getName, f.lastModified()))
        .sortBy(_._1)
    }
    val before = metaListing()
    val (_, n1) = graft.jobs.AnnIndexJob.appendBatch(spark, mk(40, 50),
      stateDir, "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "v1")
    assert(n1 == 10L)
    assert(metaListing() == before, "meta untouched on same version")
    // Version bump: meta swaps by rename and carries the new version.
    graft.jobs.AnnIndexJob.appendBatch(spark, mk(50, 60), stateDir,
      "vec_id", "embedding", dim = 8, nCentroids = 4, m = 4,
      nCodewords = 8, corpusVersion = "v2")
    val meta = spark.read.parquet(s"$stateDir/meta").collect()
    assert(meta.length == 1 &&
      meta(0).getAs[String]("corpus_version") == "v2")
    assert(spark.read.parquet(s"$stateDir/codes").count() == 60L)
    // Simulated crash: codes appended, meta lost. Append mode must
    // REFUSE to bootstrap (a retrain from the daily batch alone would
    // overwrite every previously indexed day), leaving codes intact.
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/meta"), true)
    val batchPath = s"$ws/ann_crash_batch"
    mk(60, 70).write.mode("overwrite").parquet(batchPath)
    intercept[IllegalArgumentException] {
      graft.jobs.AnnIndexJob.run(spark, Array(batchPath, stateDir,
        "vec_id", "embedding", "8", "4", "4", "8", "v3", "append"))
    }
    assert(spark.read.parquet(s"$stateDir/codes").count() == 60L,
      "accumulated codes must survive the refusal")
  }

  test("curation gate: row and class grain produce IDENTICAL " +
    "dispositions on a clone-heavy corpus with a null-text row") {
    import spark.implicits._
    import graft.jobs.CurationJob
    import graft.transform.Checks
    val raw = graft.engine.Engine.table(spark, fixtureDir, "documents")
    val docs = raw.select(col("doc_id"), col("text"), col("n_chars"))
    // clone-heavy (5x mass: the gate picks class grain) + one
    // null-text row (the class fan-out must keep it: sentinel key)
    val corpus = (1 to 4).map(c => docs.select(
        (col("doc_id") + c * 10000).as("doc_id"), col("text"),
        col("n_chars"))).foldLeft(docs)(_ unionAll _)
      .unionAll(Seq((99999L, null.asInstanceOf[String], 80.0))
        .toDF("doc_id", "text", "n_chars"))
    val cfg = CurationJob.Config(
      idCol = "doc_id", textCol = "text",
      rules = Seq(Checks.inRange("n_chars", 60.0, 100000.0)),
      allowedLangs = Seq("en"),
      maxDupTokenFrac = 0.65, maxTopBigramFrac = 0.06,
      exactDedup = true, nearDupThreshold = 0.8,
      nbModel = Some(graft.ext.TextOps.nbTrainHashed(raw, "text",
        col("lang") === "en")))
    def disp(rep: Boolean): Map[Long, String] =
      graft.engine.GrainProbe.forcing(rep)(
          CurationJob.disposition(corpus, cfg))._1.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val row = disp(rep = false)
    val cls = disp(rep = true)
    assert(row == cls, "class-grain gate must be bit-identical to row")
    // unforced, the gate picks class grain on this corpus
    val auto = CurationJob.disposition(corpus, cfg).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(row == auto)
    assert(graft.engine.GrainProbe.dupTier(corpus,
      coalesce(graft.ext.TextOps.fingerprint(col("text")), lit("\u0000null"))))
    assert(row.size == corpus.count())
    // the null-text row survived the fingerprint fan-out and earned a
    // concrete stage
    assert(row(99999L) == "non_target_lang")
  }

  test("curation gate: a null-text document gets a CONCRETE " +
    "non_target_lang disposition (never silent null routing), and " +
    "predLangFromHashes == languageId on null/empty/normal texts") {
    import spark.implicits._
    import graft.jobs.CurationJob
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat of the house"),
      (2L, null.asInstanceOf[String]),
      (3L, "?!... --- !!!"), // token-less after the alnum tokenizer
      (4L, "der hund und die katze ist nicht ein haus der die und"))
      .toDF("doc_id", "text")
    val cfg = CurationJob.Config(idCol = "doc_id", textCol = "text",
      allowedLangs = Seq("en"))
    val disp = CurationJob.disposition(docs, cfg).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(disp(1L) != "non_target_lang") // english survives the gate
    assert(disp(2L) == "non_target_lang",
      "null text must earn a concrete disposition")
    assert(disp(4L) == "non_target_lang")
    // and the survivor filter + status agree: every row has a status
    assert(disp.size == 4 && disp.values.forall(_ != null))
    // hash-path langid == string-exact langid on all three text shapes
    val th = org.apache.spark.sql.functions.call_function(
      "graft_hash_tokens", graft.ext.TextOps.tokens(col("text")))
    val hashPred = docs.select(col("doc_id"),
        graft.ext.TextOps.predLangFromHashes(th).as("p")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val strPred = graft.ext.TextOps.languageId(docs, "text")
      .select(col("doc_id"), col("pred_lang")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(hashPred == strPred)
  }

  test("processBatch job budget: a 3-partition batch with rules, bench " +
      "grams and a blocklist runs at most 3 jobs and no shuffle; no " +
      "rule breakers, no quarantine partition") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import graft.jobs.StreamIngestJob
    import graft.transform.Checks
    import graft.ext.{DedupOps, TextOps}
    val base = s"$ws/si_budget"
    val quarantine = s"$base/quarantine"
    val store = new graft.sinks.Upsert.FileStore(s"$base/store")
    val rows = Seq(
      Row(1L, "clean text about spark engines"),
      Row(2L, "another clean document entirely"),
      Row(3L, "this has the Forbidden-Phrase! inside"),      // blocked
      Row(4L, "carries benchmark alpha beta gamma trigram"), // contaminated
      Row(5L, "a third clean row"),
      Row(6L, "and a fourth one"))
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING"))
    assert(batch.rdd.getNumPartitions == 3)
    val grams = DedupOps.benchmarkGramHashes(
      Seq("prefix alpha beta gamma suffix").toDF("text"), "text")
    val blocked = Some(TextOps.containsBlockedPhrase(col("text"),
      Seq("forbidden phrase")))
    val rules = Seq(Checks.notNull("text"), Checks.nonNegative("doc_id"))
    val (_, c) = org.apache.spark.graft.JobBudget.measure(spark)(
      StreamIngestJob.processBatch(batch, 0L, "doc_id", "text", rules,
        grams, blocked, store, quarantine, 0.05, 0.05, None,
        Double.PositiveInfinity, None))
    assert(c.jobs <= 3 && c.shuffleStages == 0, c.toString)
    assert(!new java.io.File(s"$quarantine/batch_id=0").exists(),
      "a batch without rule breakers wrote a quarantine partition")
    val stored = new java.io.File(s"$base/store").listFiles()
      .map(_.getName).toSet
    assert(stored == Set("1.json", "2.json", "5.json", "6.json"), stored)
  }
}
