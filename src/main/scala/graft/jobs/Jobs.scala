package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Engine
import graft.ext.DedupOps
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.Profile

/** Job mains for orchestrated pipelines (the reference is DAG-first:
  * `core/airflow/dags/data_capture/wikipedia_dag.py:16-29`). Each main is
  * one `spark-submit`-able stage of the §3.2 extract → profile → dedupe →
  * load pipeline; stages hand off via parquet paths (W8 — the durable,
  * engine-neutral equivalent of the reference's XCom usage). Master and
  * executor sizing come from spark-submit, NOT from code, so the same jar
  * runs on local[*] and a 1000-executor cluster unchanged
  * (`airflow/dags/graft_pipeline_dag.py` wires these into a DAG).
  *
  * Each job is `main` (session lifecycle) around a `run` (the logic), so
  * tests drive `run` against a shared session without tearing it down.
  */
object Jobs {
  private[jobs] def withSession(name: String)(body: SparkSession => Unit)
      : Unit = {
    val spark = Engine.session(name)
    try body(spark) finally spark.stop()
  }
}

/** Ingest: file (csv with delimiter sniffing | parquet) → sanitized
  * parquet table. args: <inPath> <outTable> [behavior=replace] */
object IngestJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out, rest @ _*) = args
    val ok = Sources.loadFromFile(spark, in, out,
      rest.headOption.getOrElse("replace"))
    if (!ok) throw new RuntimeException(s"ingest produced no data: $in")
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-ingest")(run(_, args))
}

/** Scrape ingest (S9): crawl-manifest → sanitized parquet landing
  * table. The crawl itself (the reference's Selenium spiders,
  * `neulix_dataflow/spiders/base_spider.py:5-16`) runs driver-side in
  * the DAG's crawl task and records a JSON-lines manifest as it lands
  * pages; THIS job turns that manifest into a table through the
  * `graft-scrape` DSv2 source — executors open the landed files, the
  * driver only reads the manifest. args: <manifestPath> <outTable>
  * [behavior=replace] */
object ScrapeIngestJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(manifest, out, rest @ _*) = args
    val pages = spark.read.format("graft-scrape")
      .option("path", manifest).load()
    val ok = graft.sinks.Sinks.loadDataFrame(pages, out,
      rest.headOption.getOrElse("replace"))
    if (!ok) throw new RuntimeException(
      s"scrape ingest landed no pages: $manifest")
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-scrape-ingest")(run(_, args))
}

/** Profile: parquet table → per-column profile parquet (W2).
  * args: <inTable> <outPath> */
object ProfileJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out) = args
    Sinks.writeParquet(Profile.profile(Sources.readParquet(spark, in)), out)
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-profile")(run(_, args))
}

/** Dedupe: composed exact → MinHash-LSH corpus dedup (§2.10).
  * args: <inTable> <outPath> <idCol> <textCol> [threshold=0.85] */
object DedupeJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out, idCol, textCol, rest @ _*) = args
    val threshold = rest.headOption.map(_.toDouble).getOrElse(0.85)
    Sinks.writeParquet(
      DedupOps.dedupeCorpus(Sources.readParquet(spark, in), idCol, textCol,
        threshold = threshold), out)
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-dedupe")(run(_, args))
}

/** Incremental ingest: each run processes ONLY files that landed since
  * the last run (streaming file source + AvailableNow trigger + durable
  * checkpoint — the offset log remembers committed files), appending to
  * the destination through the sanitizing sink. Re-running after a crash
  * resumes from the checkpoint; a daily DAG gets exactly-once ingestion
  * of a landing directory without any bookkeeping of its own.
  * args: <landingDir> <format csv|json|parquet> <schemaDDL> <outTable>
  *       <checkpointDir> */
object IncrementalIngestJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, fmt, ddl, out, cp) = args
    val reader = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .format(fmt)
      .option("header", "true") // csv only; ignored by json/parquet
    val q = graft.streaming.Streaming.startParquetSink(
      reader.load(in), out, cp)
    q.awaitTermination()
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-ingest-incremental")(run(_, args))
}

/** Incremental NEAR-DUP dedup with durable cross-run state — the job
  * that CLOSES the daily-cadence loop (r12 verdict ask #3): the pieces
  * ([[DedupOps.buildNearDupIndex]] persistable index,
  * [[DedupOps.incrementalNearDupPairsWithIndex]] batch-vs-archive
  * pairs, [[DedupOps.incrementalComponents]] frontier-contraction label
  * merge) existed but every caller had to re-wire the end-of-run
  * persist; this job makes it the standard step, per the reference's
  * daily cadence (`wikipedia_dag.py:20`).
  *
  * Per run: read state (missing paths = day 1 = empty state), generate
  * the batch's pairs against the archive index, merge labels, then
  * persist — the batch's index rows APPEND (the index is append-only
  * across runs: signatures are pure functions of the text), the merged
  * labels REPLACE (materialized first, so the overwrite never reads the
  * files it replaces), and the kept batch rows (id == its component
  * min, or untouched by any pair) land at `keptOut`. Replaying day 1
  * then day 2 leaves state identical to one batch run over both days —
  * pinned by the JobsSpec two-day replay test.
  *
  * Scale shape: per day one index build for the BATCH only, one
  * batch-sized band probe against the archive index, a candidate-sized
  * verification join, and a frontier-bounded label merge (history
  * scanned, never shuffled) — the archive is never re-shingled and
  * never re-clustered.
  *
  * args: <batchIn> <stateDir> <keptOut> <idCol> <textCol>
  *       [shingleN=2] [numPerm=64] [bands=16] [threshold=0.5]
  * state layout: <stateDir>/index (parquet, append-only),
  *               <stateDir>/labels (parquet, replaced each run). */
object IncrementalDedupJob {

  /** One gate+merge step over in-memory state — the testable core.
    * Returns (batch index rows, merged labels, kept batch rows); the
    * labels frame is already materialized (safe to overwrite the
    * source it was read from), the index rows are the batch's
    * (materialized — the pair stage shares them, never rebuilt).
    *
    * Keep rule — ARCHIVE PREFERENCE, not id order: a batch row drops
    * when its cluster touches ANY archived document (the archive copy
    * already shipped on an earlier day and cannot be unshipped — ids
    * are globally unique but NOT monotone across days, so "id ==
    * component min" alone would let a smaller-id re-crawl duplicate
    * its archived twin), or when it is not the minimum-id batch member
    * of a batch-only cluster. Rows untouched by any pair keep.
    * All of this computes on frontier-sized relations: the only
    * history contact is one broadcast semi-join slice of the label
    * table. */
  def step(batch: DataFrame, histIndex: DataFrame, histLabels: DataFrame,
           idCol: String, textCol: String,
           shingleN: Int = 2, numPerm: Int = 64, bands: Int = 16,
           threshold: Double = 0.5)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val ixNew = Engine.materialize(DedupOps.buildNearDupIndex(
      batch, idCol, textCol, shingleN, numPerm))
    val pairs = Engine.materialize(
      DedupOps.incrementalNearDupPairsBetweenIndexes(ixNew, histIndex,
        numPerm, bands, threshold))
    val labels = Engine.materialize(
      DedupOps.incrementalComponents(histLabels, pairs))
    // Endpoints split into batch-side and archive-side WITHOUT touching
    // the (huge) batch or history relations: the batch side of every
    // pair is id_a's provenance... not recorded — recover it from the
    // batch index (id-only, frontier ∩ index via broadcast semi).
    val ends = pairs.select(col("id_a").cast("long").as("id"))
      .unionByName(pairs.select(col("id_b").cast("long").as("id")))
      .distinct()
    val batchEnds = Engine.materialize(
      ixNew.select(col("_id").cast("long").as("id"))
        .join(broadcast(ends), Seq("id"), "left_semi"))
    val archEnds = ends.join(broadcast(batchEnds), Seq("id"), "left_anti")
    // Components with an archived member (frontier-sized): every batch
    // member of those clusters is a re-crawl.
    val archComps = labels.join(broadcast(archEnds), Seq("id"),
        "left_semi")
      .select(col("component")).distinct()
    // Batch members' labels (frontier-sized slice of the label table).
    val bLabels = Engine.materialize(
      labels.join(broadcast(batchEnds), Seq("id"), "left_semi"))
    val dropArch = bLabels.join(broadcast(archComps), Seq("component"),
      "left_semi").select(col("id"))
    val minB = bLabels.groupBy(col("component"))
      .agg(min(col("id")).as("_mn"))
    val dropNonMin = bLabels.join(minB, Seq("component"))
      .filter(col("id") =!= col("_mn")).select(col("id"))
    val losers = dropArch.unionByName(dropNonMin).distinct()
      .select(col("id").as("_drop"))
    val kept = batch.join(losers,
      col(idCol).cast("long") === col("_drop"), "left_anti")
    (ixNew, labels, kept)
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val Array(in, stateDir, keptOut, idCol, textCol, rest @ _*) = args
    val shingleN = rest.headOption.map(_.toInt).getOrElse(2)
    val numPerm = rest.lift(1).map(_.toInt).getOrElse(64)
    val bands = rest.lift(2).map(_.toInt).getOrElse(16)
    val threshold = rest.lift(3).map(_.toDouble).getOrElse(0.5)
    val indexPath = s"$stateDir/index"
    val labelsPath = s"$stateDir/labels"
    val batch = Sources.readParquet(spark, in)
    // Day-1 bootstrap ONLY on a genuinely-absent path (an explicit FS
    // existence check): a read that fails on an EXISTING path must
    // propagate — swallowing it as "day 1" would compute batch-only
    // labels and then REPLACE the accumulated archive labels with
    // them, permanently destroying the cross-run clustering.
    // Fallbacks carry the right SCHEMA (a zero-column frame would fail
    // downstream column resolution): index schema from the op itself,
    // labels (id, component) longs — the connectedComponents contract.
    def readOr(path: String, fallback: => DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Engine.readParquet(spark, path) else fallback
    }
    val histIndex = readOr(indexPath, DedupOps.buildNearDupIndex(
      batch.limit(0), idCol, textCol, shingleN, numPerm))
    val histLabels = readOr(labelsPath, batch.limit(0)
      .select(col(idCol).cast("long").as("id"),
        col(idCol).cast("long").as("component")))
    val (ixNew, labels, kept) = step(batch, histIndex, histLabels,
      idCol, textCol, shingleN, numPerm, bands, threshold)
    // Idempotent append (the DAG promises re-runnable stages, retries=1):
    // a retry after a partially-complete previous attempt must not
    // double-append the batch's rows — anti-join against what the
    // index ALREADY holds (this run read it before any write).
    val novelIndexRows = ixNew.join(
      histIndex.select(col("_id")), Seq("_id"), "left_anti")
    Sinks.writeParquet(novelIndexRows, indexPath, behavior = "append")
    Sinks.writeParquet(labels, labelsPath)
    // Direct write, bypassing the empty-guard: the kept path is the
    // next DAG stage's INPUT — a day whose whole batch was re-crawls
    // (the job working perfectly) must still land an empty table, not
    // break the parquet-path handoff.
    kept.write.mode("overwrite").parquet(keptOut)
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-dedupe-incremental")(run(_, args))
}

/** Persist-or-load the ANN index state across runs (r13 verdict ask
  * #4, the [[IncrementalDedupJob]] pattern applied to similarity): the
  * sampled IVF centroids, PQ codebooks, and the encoded corpus are
  * deterministic pure functions of (corpus, params), but retraining
  * per session re-pays the corpus encode pass every day. This job
  * materializes the trained state as parquet keyed by the full
  * parameter tuple + a caller-supplied corpus version, and LOADS it
  * when the key matches — retraining only on a param or corpus-version
  * change. Search entry points
  * ([[graft.ext.SimilarityOps.ivfPqTopKWithIndex]] and friends) are
  * arithmetically identical to their train-inline twins, so loaded
  * and retrained states produce bit-equal scores (pinned in JobsSpec).
  *
  * State layout: `<stateDir>/quantizer` (role, pos, vec),
  * `<stateDir>/codes` (neighbor_id, _cell, _cw0..m-1), and
  * `<stateDir>/meta` (the key) — meta is written LAST, so a crash
  * mid-persist leaves a keyless (= absent) state that the next run
  * retrains, never a half-written one that loads. That retrain is only
  * safe when the retraining corpus is the FULL corpus — so append mode
  * skips the meta rewrite on an unchanged corpus version, swaps by
  * rename on a version bump, and refuses to bootstrap when codes exist
  * without meta (a daily batch is NOT the corpus).
  *
  * args: <corpusIn> <stateDir> <idCol> <vecCol> <dim> [nCentroids=16]
  *       [m=4] [nCodewords=16] [corpusVersion=v1] */
object AnnIndexJob {
  import graft.ext.SimilarityOps
  import graft.ext.SimilarityOps.AnnIndexState

  /** (state, loaded) — `loaded = true` when the persisted key matched
    * and no training ran. */
  def loadOrTrain(spark: SparkSession, corpus: DataFrame,
                  stateDir: String, idCol: String, vecCol: String,
                  dim: Int, nCentroids: Int = 16, m: Int = 4,
                  nCodewords: Int = 16,
                  corpusVersion: String = "v1")
      : (AnnIndexState, Boolean) = {
    import org.apache.spark.sql.functions._
    val metaPath = s"$stateDir/meta"
    val qPath = s"$stateDir/quantizer"
    val cPath = s"$stateDir/codes"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (dim, nCentroids, m, nCodewords, corpusVersion)
    val persisted =
      fs.exists(new org.apache.hadoop.fs.Path(metaPath)) && {
        val mr = Engine.readParquet(spark, metaPath).collect()
        mr.length == 1 && {
          val r = mr(0)
          (r.getAs[Int]("dim"), r.getAs[Int]("n_centroids"),
            r.getAs[Int]("m"), r.getAs[Int]("n_codewords"),
            r.getAs[String]("corpus_version")) == key
        }
      }
    if (persisted) {
      val quant = Engine.readParquet(spark, qPath)
        .orderBy(col("role"), col("pos")).collect()
        .map(r => (r.getAs[String]("role"),
          r.getSeq[Double](r.fieldIndex("vec")).toIndexedSeq))
      val cents = quant.filter(_._1 == "centroid").map(_._2).toSeq
      val cws = quant.filter(_._1 == "codeword").map(_._2).toSeq
      (AnnIndexState(dim, nCentroids, m, nCodewords, cents, cws,
        Engine.readParquet(spark, cPath)), true)
    } else {
      // Codes WITHOUT meta = a crash inside a previous append's meta
      // window. Training here would rebuild from whatever corpus THIS
      // caller holds and overwrite the accumulated codes table — the
      // exact loss run()'s append mode refuses; library callers get
      // the same refusal at the same spot the overwrite would happen
      // (a guard only on the CLI entry point protects nobody calling
      // the API). A PRESENT-but-mismatched meta is different: that is
      // a deliberate param/version change, and retraining is this
      // function's documented contract for it.
      require(fs.exists(new org.apache.hadoop.fs.Path(metaPath)) ||
        !fs.exists(new org.apache.hadoop.fs.Path(cPath)),
        s"AnnIndexJob: $stateDir/codes exists without meta (crashed " +
          "append?) — refusing to retrain over accumulated codes; " +
          "clear the state dir to retrain from the FULL corpus")
      val st = SimilarityOps.buildAnnIndexState(corpus, idCol, vecCol,
        dim, nCentroids, m, nCodewords)
      import spark.implicits._
      val quant =
        st.cents.zipWithIndex.map { case (v, i) => ("centroid", i, v) } ++
          st.cws.zipWithIndex.map { case (v, i) => ("codeword", i, v) }
      quant.toDF("role", "pos", "vec")
        .coalesce(1).write.mode("overwrite").parquet(qPath)
      st.codes.write.mode("overwrite").parquet(cPath)
      Seq((dim, nCentroids, m, nCodewords, corpusVersion))
        .toDF("dim", "n_centroids", "m", "n_codewords", "corpus_version")
        .coalesce(1).write.mode("overwrite").parquet(metaPath)
      // Return the PERSISTED codes (checkpoint-backed by the write):
      // searches replay a scan, not the encode projection.
      (st.copy(codes = Engine.readParquet(spark, cPath)), false)
    }
  }

  /** Daily-cadence APPEND: encode a batch against the persisted
    * state's FROZEN quantizer and append only the rows the index has
    * not seen ([[IncrementalDedupJob]]'s append-only index
    * discipline applied to similarity — retraining is an explicit
    * param change, never a side effect of ingest). Idempotent by
    * anti-join: a retry after a partially-complete run never
    * double-appends. Requires a trained state whose param tuple
    * matches — a mismatch must retrain deliberately via
    * [[loadOrTrain]], not silently mix quantizers in one codes table.
    * Returns (state with the combined codes, rows appended). */
  def appendBatch(spark: SparkSession, batch: DataFrame,
                  stateDir: String, idCol: String, vecCol: String,
                  dim: Int, nCentroids: Int = 16, m: Int = 4,
                  nCodewords: Int = 16,
                  corpusVersion: String = "v1")
      : (AnnIndexState, Long) = {
    import org.apache.spark.sql.functions._
    val metaPath = s"$stateDir/meta"
    val qPath = s"$stateDir/quantizer"
    val cPath = s"$stateDir/codes"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(metaPath)),
      s"AnnIndexJob.appendBatch: no trained state at $stateDir — " +
        "run loadOrTrain first")
    val mr = Engine.readParquet(spark, metaPath).collect()
    require(mr.length == 1 &&
      (mr(0).getAs[Int]("dim"), mr(0).getAs[Int]("n_centroids"),
        mr(0).getAs[Int]("m"), mr(0).getAs[Int]("n_codewords")) ==
        ((dim, nCentroids, m, nCodewords)),
      s"AnnIndexJob.appendBatch: param tuple mismatch at $stateDir — " +
        "appending would mix quantizers; retrain via loadOrTrain")
    val quant = Engine.readParquet(spark, qPath)
      .orderBy(col("role"), col("pos")).collect()
      .map(r => (r.getAs[String]("role"),
        r.getSeq[Double](r.fieldIndex("vec")).toIndexedSeq))
    val st = AnnIndexState(dim, nCentroids, m, nCodewords,
      quant.filter(_._1 == "centroid").map(_._2).toSeq,
      quant.filter(_._1 == "codeword").map(_._2).toSeq,
      Engine.readParquet(spark, cPath))
    val fresh = Engine.materialize(
      batch.select(col(idCol), col(vecCol))
        .join(st.codes.select(col("neighbor_id").as(idCol)),
          Seq(idCol), "left_anti"))
    val appended = fresh.count()
    if (appended > 0) {
      SimilarityOps.encodeWithState(fresh, idCol, vecCol, st)
        .write.mode("append").parquet(cPath)
      // Meta carries the CORPUS VERSION forward — but only when it
      // actually changed: mode-overwrite is delete-then-write, and a
      // crash inside that window used to leave codes-without-meta,
      // which the next append-mode run "bootstrapped" from the daily
      // batch alone, overwriting every previously indexed day. Same
      // version ⇒ skip the rewrite entirely (the common daily case);
      // a version bump writes to a temp sibling first and swaps by
      // rename, shrinking the unprotected window from a full parquet
      // write to one FS rename pair. run()'s append mode additionally
      // REFUSES to bootstrap over orphaned codes (below).
      if (mr(0).getAs[String]("corpus_version") != corpusVersion) {
        import spark.implicits._
        val tmpMeta = new org.apache.hadoop.fs.Path(metaPath + "__tmp")
        fs.delete(tmpMeta, true)
        Seq((dim, nCentroids, m, nCodewords, corpusVersion))
          .toDF("dim", "n_centroids", "m", "n_codewords",
            "corpus_version")
          .coalesce(1).write.mode("overwrite").parquet(tmpMeta.toString)
        val metaP = new org.apache.hadoop.fs.Path(metaPath)
        fs.delete(metaP, true)
        if (!fs.rename(tmpMeta, metaP))
          throw new java.io.IOException(
            s"AnnIndexJob.appendBatch: meta swap failed at $metaPath")
      }
    }
    Engine.release(fresh)
    (st.copy(codes = Engine.readParquet(spark, cPath)), appended)
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 5, "usage: AnnIndexJob <corpusIn> <stateDir>" +
      " <idCol> <vecCol> <dim> [nCentroids=16] [m=4] [nCodewords=16]" +
      " [corpusVersion=v1] [mode=load|append]")
    val Array(in, stateDir, idCol, vecCol, dimS, rest @ _*) = args
    val corpus = Sources.readParquet(spark, in)
    val (dim, nc, mm, ncw) = (dimS.toInt,
      rest.headOption.map(_.toInt).getOrElse(16),
      rest.lift(1).map(_.toInt).getOrElse(4),
      rest.lift(2).map(_.toInt).getOrElse(16))
    val version = rest.lift(3).getOrElse("v1")
    rest.lift(4).getOrElse("load") match {
      case "append" =>
        // Daily-cadence closed loop: day 1 (no state yet) trains and
        // persists; every later day append-encodes only unseen rows
        // against the frozen quantizer. Retraining happens only
        // through an explicit param change (mode=load + new params).
        val fs = new org.apache.hadoop.fs.Path(s"$stateDir/meta")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val metaExists =
          fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/meta"))
        // Codes WITHOUT meta = a crash between the codes append and the
        // meta write. Bootstrapping here would retrain from the daily
        // batch alone and OVERWRITE the accumulated codes table —
        // silent loss of every previously indexed day. Refuse loudly;
        // recovery is an explicit full-corpus retrain (mode=load after
        // clearing the state dir), a human decision.
        require(metaExists ||
          !fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/codes")),
          s"AnnIndexJob: $stateDir/codes exists without meta (crashed " +
            "append?) — refusing to bootstrap from a daily batch over " +
            "accumulated codes; clear the state dir and retrain from " +
            "the FULL corpus via mode=load")
        if (!metaExists) {
          val (st, _) = loadOrTrain(spark, corpus, stateDir, idCol,
            vecCol, dim, nc, mm, ncw, version)
          System.err.println(s"[ann-index] bootstrapped state at " +
            s"$stateDir (${st.nCentroids} cells, m=${st.m})")
        } else {
          val (st, n) = appendBatch(spark, corpus, stateDir, idCol,
            vecCol, dim, nc, mm, ncw, version)
          System.err.println(s"[ann-index] appended $n rows at " +
            s"$stateDir (${st.nCentroids} cells, m=${st.m})")
        }
      case _ =>
        val (st, loaded) = loadOrTrain(spark, corpus, stateDir, idCol,
          vecCol, dim, nc, mm, ncw, version)
        System.err.println(
          s"[ann-index] ${if (loaded) "loaded" else "trained"}" +
            s" state at $stateDir (${st.nCentroids} cells, m=${st.m})")
    }
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-ann-index")(run(_, args))
}

/** Quality gate: run declarative [[graft.transform.Checks]] rules on a
  * parquet table, persist the report, and FAIL THE TASK (exception →
  * non-zero exit → Airflow retry/alert) when any rule is violated — the
  * gate-between-ingest-and-load a training pipeline needs. The report is
  * written BEFORE the failure is raised, so a red run leaves its
  * evidence behind.
  *
  * args: <inTable> <reportOut> <rulesSpec> [uniqueCols,csv]
  * rulesSpec — ';'-separated rules:
  *   not_null:col | range:col:lo:hi | one_of:col:v1,v2
  *   | matches:col:regex | non_negative:col
  * (matches takes the rest of the string verbatim, so regexes may
  * contain ':'.) */
object QualityGateJob {
  import graft.transform.Checks

  private[graft] def parseRule(s: String): Checks.Rule =
    s.split(":", -1) match {
      case Array("not_null", c) => Checks.notNull(c)
      case Array("range", c, lo, hi) => Checks.inRange(c, lo.toDouble,
        hi.toDouble)
      case Array("one_of", c, vs) => Checks.oneOf(c, vs.split(",").toSeq)
      case Array("non_negative", c) => Checks.nonNegative(c)
      case parts if parts.length >= 3 && parts(0) == "matches" =>
        Checks.matches(parts(1), parts.drop(2).mkString(":"))
      case _ => throw new IllegalArgumentException(s"bad rule: '$s'")
    }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out, spec, rest @ _*) = args
    val rules = spec.split(";").toSeq.filter(_.nonEmpty).map(parseRule)
    val uniq = rest.headOption.toSeq.flatMap(_.split(",").toSeq)
      .filter(_.nonEmpty)
    val report = Checks.check(Sources.readParquet(spark, in), rules, uniq)
    // Collect ONCE (one row per rule — tiny) and write the report from
    // memory: the uniqueness half of the plan is lazy, so writing and
    // re-counting the frame would scan the input twice, and reading the
    // written file back breaks when the guarded writer skips an empty
    // report (or worse, picks up a STALE report at the same path).
    val rows = report.collect()
    Sinks.writeParquet(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), report.schema), out)
    val failing = rows.count(!_.getAs[Boolean]("pass"))
    if (failing > 0) throw new RuntimeException(
      s"quality gate failed: $failing rule(s) violated — report at $out")
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-quality-gate")(run(_, args))
}

/** Split: append the deterministic md5-bucket train/valid/test column
  * (membership is a pure function of the id — stable across runs and
  * cluster layouts, see [[graft.transform.Split]]).
  * args: <inPath> <outPath> <idCol> <testFrac> <validFrac> */
object SplitJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, out, idCol, testFrac, validFrac) = args
    Sinks.writeParquet(
      graft.transform.Split.hashSplit(Sources.readParquet(spark, in),
        idCol, Seq("test" -> testFrac.toDouble,
          "valid" -> validFrac.toDouble)), out)
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-split")(run(_, args))
}

/** Layout: rewrite a parquet table curve-clustered on two key columns
  * (the write-side step the `x_layout_zorder`/`x_layout_hilbert`
  * audits plan for — every output file's footer carries tight min/max
  * on BOTH keys, so downstream scans prune on either). The lakehouse
  * `OPTIMIZE ZORDER BY` step as a pipeline stage.
  * args: <inPath> <outPath> <xCol> <yCol> [bits=8] [files=64]
  * [curve=zorder|hilbert] */
object LayoutJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 4, "usage: LayoutJob <inPath> <outPath>" +
      " <xCol> <yCol> [bits=8] [files=64] [curve=zorder|hilbert]")
    val Array(in, out, xCol, yCol, rest @ _*) = args
    def intArg(i: Int, name: String, dflt: Int): Int =
      rest.lift(i).map { v =>
        require(v.forall(_.isDigit), s"LayoutJob: $name must be an int: $v")
        v.toInt
      }.getOrElse(dflt)
    val bits = intArg(0, "bits", 8)
    val files = intArg(1, "files", 64)
    val curve = rest.lift(2).getOrElse("zorder")
    require(curve == "zorder" || curve == "hilbert",
      s"LayoutJob: unknown curve $curve")
    graft.ext.LayoutOps.writeCurveClustered(
      Sources.readParquet(spark, in), xCol, yCol, bits, files, out,
      hilbert = curve == "hilbert")
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-layout")(run(_, args))
}

/** The LLM-ingest pipeline as ONE streaming DAG (SURVEY §2.9 + §2.10
  * composed): quality quarantine → optional history dedup (Bloom
  * projection + stream-static anti-join) → benchmark decontamination →
  * phrase blocklist → optional LM fluency gate → optional CCNet
  * head/middle/tail banding (plan-literal NLL percentile bounds) →
  * deterministic split → K9 keyed upsert. Every transform stage is a stateless codegen'd
  * projection, filter, or stream-static join (incrementalDedupWith,
  * flagRows, isContaminated, containsBlockedPhrase, lmNllStruct,
  * hashSplit) — no streaming aggregation state anywhere — so identical
  * logic runs on a batch frame (the tested twin) and a structured
  * stream. Durability comes from the
  * sink side alone: the checkpointed file-source offset log plus the
  * idempotent-per-key upsert make replayed micro-batches converge to the
  * same stored state (effectively exactly-once), and quarantined rows
  * land in an append-only parquet side channel WITH their violation
  * list, so nothing is silently dropped.
  *
  * args: <inDir> <schemaDDL> <idCol> <textCol> <rulesSpec>
  *       <benchParquet|-> <phrasesFile|-> <storeDir> <quarantineDir>
  *       <checkpointDir> [testFrac=0.05] [validFrac=0.05]
  *       [lmRefParquet|-] [maxMeanNll=+inf] [historyParquet|-]
  *       [nllT1|-] [nllT2|-] [dropNllTail=false] [monitorDir|-]
  *       [monitorGroupCol|-] [freqMonitorDir|-]
  * rulesSpec uses [[QualityGateJob.parseRule]] syntax; '-' disables the
  * corresponding stage. nllT1/nllT2 are the CCNet head/middle/tail NLL
  * bounds (batch-computed percentile cuts — the x_text_ppl_thresh
  * shape); both must be given, and they require lmRefParquet.
  * monitorDir enables the live HLL distinct-token monitor over kept
  * rows ([[StreamIngestJob.mergeMonitor]]); monitorGroupCol '-'
  * monitors the whole stream as one group. freqMonitorDir enables the
  * live CMS token-frequency monitor ([[StreamIngestJob
  * .mergeCmsMonitor]] — version-ledger idempotence); lenMonitorDir
  * the live doc-length quantile monitor ([[StreamIngestJob
  * .mergeLengthMonitor]], same ledger). Trailing optional pair
  * `[nearDupIndexParquet|-] [nearDupThreshold=0.8]` enables the
  * near-dup history gate: rows minhash-matching the persisted
  * [[graft.ext.DedupOps.buildNearDupIndex]] archive index at or above
  * the threshold are dropped, the near-dup sibling of the exact
  * Bloom+anti-join tier. */
object StreamIngestJob {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._
  import graft.transform.{Checks, Split}
  import graft.ext.{DedupOps, TextOps}

  /** The clean-row half of the pipeline (post-quarantine): stateless
    * projections/filters only, stream- and batch-callable. `blocked` is
    * the phrase-blocklist predicate over the text column
    * ([[TextOps.containsBlockedPhrase]]), built by the caller once per
    * blocklist — its hash sets are plan constants, so every micro-batch
    * of a stream reuses one predicate. */
  def cleanTransform(df: DataFrame, idCol: String, textCol: String,
                     benchGramHashes: Array[Long],
                     blocked: Option[Column],
                     testFrac: Double = 0.05,
                     validFrac: Double = 0.05,
                     lmModel: Option[TextOps.LmModel] = None,
                     maxMeanNll: Double = Double.PositiveInfinity,
                     dedupIndex: Option[(Array[Byte], DataFrame)] = None,
                     nllBand: Option[(Double, Double)] = None,
                     dropNllTail: Boolean = false,
                     nbModel: Option[TextOps.NbModel] = None,
                     nearDupIndex: Option[(DataFrame, Double)] = None)
      : DataFrame = {
    // History dedup first — cheapest stage to give less downstream
    // work (tier 1 is a Bloom projection; tier 2 the stream-legal
    // static anti-join). Index built once per history snapshot via
    // DedupOps.buildDedupIndex, like the other plan constants.
    val novelExact = dedupIndex.fold(df) { case (bytes, histFp) =>
      DedupOps.incrementalDedupWith(df, textCol, bytes, histFp)
    }
    // NEAR-dup history gate (r12): drop rows that near-dup-match the
    // archive's persisted near-dup index (DedupOps.buildNearDupIndex —
    // the minhash sibling of the exact tier above). Runs inside
    // foreachBatch where the micro-batch is a plain batch frame, so
    // the band join + candidate verify are ordinary batch joins
    // against a STATIC index; no streaming state. Exact survivors
    // feed it, so the band probe never wastes buckets on re-crawls.
    val novel = nearDupIndex.fold(novelExact) { case (ix, thr) =>
      val matched = DedupOps.nearDupMatchedIds(novelExact, ix,
        idCol, textCol, threshold = thr)
      novelExact.join(matched, col(idCol) === col("_nd_id"), "left_anti")
    }
    val decon =
      if (benchGramHashes.isEmpty) novel
      else novel.filter(
        !DedupOps.isContaminated(col(textCol), benchGramHashes))
    val unblocked = blocked.fold(decon)(b => decon.filter(!b))
    // Fluency gate (CCNet-style): mean bigram NLL vs the trusted-slice
    // LM must stay under the cap. Docs with no bigrams pass (the
    // quality rules own degenerate-document policy); a pure stream-safe
    // projection like every other stage (graft_lm_nll).
    val fluent = lmModel.fold(unblocked) { m =>
      val s = TextOps.lmNllStruct(col(textCol), m)
      unblocked.filter(s.isNull ||
        ((s.getField("sfx").cast("double") /
          s.getField("n_bigrams").cast("double")) /
          lit(1073741824.0)) <= maxMeanNll)
    }
    // CCNet head/middle/tail banding, stream-legal: the (t1, t2) NLL
    // percentile bounds are computed BATCH-side on a trusted corpus
    // (TextOps.nllBucketsByThreshold — the x_text_ppl_thresh shape) and
    // fold into the plan as literals, so the bucketing is the same pure
    // codegen'd when-chain projection here as in the batch query. Docs
    // with no bigrams band as 'middle' (a degenerate doc is evidence of
    // neither fluency band; the quality rules own degenerate-doc
    // policy, mirroring the fluency gate's pass-through). `dropNllTail`
    // applies CCNet's harshest disposition; otherwise the band rides to
    // the store for downstream sampling.
    val banded = nllBand.fold(fluent) { case (t1, t2) =>
      val m = lmModel.getOrElse(throw new IllegalArgumentException(
        "nllBand requires lmModel: the bounds are percentile cuts of " +
          "its NLL scores"))
      val s = TextOps.lmNllStruct(col(textCol), m)
      val mean = (s.getField("sfx").cast("double") /
        s.getField("n_bigrams").cast("double")) / lit(1073741824.0)
      val labeled = fluent.withColumn("ppl_bucket",
        when(s.isNull, lit("middle"))
          .when(mean <= lit(t1), lit("head"))
          .when(mean <= lit(t2), lit("middle"))
          .otherwise(lit("tail")))
      if (dropNllTail) labeled.filter(col("ppl_bucket") =!= "tail")
      else labeled
    }
    // Trained NB quality gate (the x_quality_nb model as plan
    // literals): keep docs the classifier scores positive — one
    // graft_dict_sum fold per row (TextOps.nbScoreCol, the same
    // authority streamNbScore uses), a pure stream-safe projection
    // like the LM gate. Empty docs score exactly the prior.
    val qualified = nbModel.fold(banded) { m =>
      banded.filter(
        (TextOps.nbScoreCol(col(textCol), m).getField("sum") +
          lit(m.priorFx)) > 0L)
    }
    Split.hashSplit(qualified, idCol,
      Seq("test" -> testFrac, "valid" -> validFrac))
  }

  /** One micro-batch's routing, also THE batch twin: rows failing any
    * rule go left (with their `violations`), clean rows run the full
    * transform and go right. */
  def routedTransform(df: DataFrame, idCol: String, textCol: String,
                      rules: Seq[Checks.Rule],
                      benchGramHashes: Array[Long],
                      blocked: Option[Column],
                      testFrac: Double = 0.05,
                      validFrac: Double = 0.05,
                      lmModel: Option[TextOps.LmModel] = None,
                      maxMeanNll: Double = Double.PositiveInfinity,
                      dedupIndex: Option[(Array[Byte], DataFrame)] = None,
                      nllBand: Option[(Double, Double)] = None,
                      dropNllTail: Boolean = false,
                      nbModel: Option[TextOps.NbModel] = None,
                      nearDupIndex: Option[(DataFrame, Double)] = None)
      : (DataFrame, DataFrame) = {
    val flagged = Checks.flagRows(df, rules)
    val bad = flagged.filter(size(col("violations")) > 0)
    val clean = flagged.filter(size(col("violations")) === 0)
      .drop("violations")
    (bad, cleanTransform(clean, idCol, textCol, benchGramHashes,
      blocked, testFrac, validFrac, lmModel, maxMeanNll,
      dedupIndex, nllBand, dropNllTail, nbModel, nearDupIndex))
  }

  private[graft] def monitorPath(dir: String, v: Long): String =
    s"$dir/v=$v"

  private[graft] def monitorVersions(spark: SparkSession,
                                     dir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
  }

  /** Fold one micro-batch into the live distinct-token monitor: the
    * per-group HLL register table ([[SketchOps.hllRegisters]]) of the
    * batch max-merges into the latest snapshot and lands as a new
    * `v=<batchId>` version (older versions pruned after the write).
    *
    * Replay-idempotent WITHOUT any transactional machinery, because
    * the sketch union is IDEMPOTENT: a replayed batch max-merges rows
    * the snapshot already contains, reproducing the identical
    * registers — the same argument that makes Bloom/KMV/HLL
    * duplicate-blind makes them replay-blind. The one mechanical
    * hazard — a replay reads the very version it rewrites — is pinned
    * by materializing the snapshot first. State is ≤ 2ᵖ rows per
    * group at any corpus size; estimates decode on demand via
    * [[monitorEstimate]], so the monitor adds one register-table-sized
    * job per micro-batch. */
  private[graft] def mergeMonitor(batch: DataFrame, batchId: Long,
      groupCol: String, textCol: String, dir: String,
      p: Int = 8, gramN: Int = 1): Unit = {
    val spark = batch.sparkSession
    val fresh = graft.ext.SketchOps.hllRegisters(
      batch, groupCol, textCol, p, gramN)
    val versions = monitorVersions(spark, dir)
    val merged =
      if (versions.isEmpty) fresh
      else {
        val v = versions.max
        val old0 = Sources.readParquet(spark, monitorPath(dir, v))
        val old = if (v == batchId) graft.engine.Engine.materialize(old0)
                  else old0
        old.unionByName(fresh)
          .groupBy(col(groupCol), col("_j"))
          .agg(max(col("_mj")).as("_mj"))
      }
    Sinks.writeParquet(merged, monitorPath(dir, batchId), "replace")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    versions.filter(_ != batchId).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(monitorPath(dir, v)), true))
  }

  /** Decode the monitor's latest snapshot to per-group live distinct
    * estimates (the [[SketchOps.hllEstimate]] face); None before the
    * first non-empty micro-batch. */
  def monitorEstimate(spark: SparkSession, dir: String,
                      groupCol: String, p: Int = 8): Option[DataFrame] =
    monitorVersions(spark, dir) match {
      case Nil => None
      case vs => Some(graft.ext.SketchOps.hllEstimate(
        Sources.readParquet(spark, monitorPath(dir, vs.max)),
        groupCol, p))
    }

  /** Fold one micro-batch into the live token-FREQUENCY monitor (the
    * [[SketchOps.cmsSketch]] grid). A CMS is ADDITIVE, not idempotent
    * — a replayed batch would double-count — so here exactly-once
    * comes from the VERSION LEDGER instead of the sketch algebra: a
    * batch whose `v=<batchId>` snapshot already exists is already
    * folded in and is skipped. (Contrast [[mergeMonitor]], where the
    * max-merge itself absorbs replays and no guard is needed — the
    * two monitors are the two idempotence strategies of the
    * foreachBatch sink pattern.) Crash windows: before the write, the
    * replay re-merges from v=batchId−1 — same grid; after the write
    * but before the checkpoint commit, the ledger says done — skip.
    * State is ≤ depth·width cells at any corpus size. */
  private[graft] def mergeCmsMonitor(batch: DataFrame, batchId: Long,
      textCol: String, dir: String,
      depth: Int = 4, width: Int = 1024, gramN: Int = 1): Unit = {
    val spark = batch.sparkSession
    val versions = monitorVersions(spark, dir)
    if (versions.contains(batchId)) return
    val fresh = graft.ext.SketchOps.cmsSketch(
      batch, textCol, depth, width, gramN)
    val merged =
      if (versions.isEmpty) fresh
      else Sources.readParquet(spark, monitorPath(dir, versions.max))
        .unionByName(fresh)
        .groupBy(col("j"), col("cell"))
        .agg(sum(col("cnt")).as("cnt"))
    Sinks.writeParquet(merged, monitorPath(dir, batchId), "replace")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    versions.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(monitorPath(dir, v)), true))
  }

  /** Fold one micro-batch into the live DOC-LENGTH QUANTILE monitor
    * (the [[SketchOps.logHistSketch]] log₂ histogram over per-doc
    * token counts) — the length-drift signal: a crawl source that
    * suddenly ships truncated or concatenated pages moves p50/p99
    * within one micro-batch. Bucket counts are ADDITIVE like the CMS
    * grid, so exactly-once rides the same version ledger (a batch
    * whose `v=<batchId>` snapshot exists is already folded in); state
    * is bounded by the bucket count per group at any corpus size.
    * Decode on demand via [[lengthMonitorQuantiles]]. */
  private[graft] def mergeLengthMonitor(batch: DataFrame, batchId: Long,
      groupCol: String, textCol: String, dir: String,
      mBits: Int = 6): Unit = {
    val spark = batch.sparkSession
    val versions = monitorVersions(spark, dir)
    if (versions.contains(batchId)) return
    val fresh = graft.ext.SketchOps.logHistSketch(
      batch.withColumn("_len",
        TextOps.tokenCount(col(textCol)).cast("double")),
      groupCol, "_len", mBits, scale = 1.0)
    val merged =
      if (versions.isEmpty) fresh
      else Sources.readParquet(spark, monitorPath(dir, versions.max))
        .unionByName(fresh)
        .groupBy(col(groupCol), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
    Sinks.writeParquet(merged, monitorPath(dir, batchId), "replace")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    versions.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(monitorPath(dir, v)), true))
  }

  /** Decode the length monitor's latest snapshot to live per-group
    * length percentiles ([[SketchOps.histQuantiles]] face); None
    * before the first non-empty micro-batch. */
  def lengthMonitorQuantiles(spark: SparkSession, dir: String,
      groupCol: String, ps: Seq[Int] = Seq(50, 90, 99))
      : Option[DataFrame] =
    monitorVersions(spark, dir) match {
      case Nil => None
      case vs => Some(graft.ext.SketchOps.histQuantiles(
        Sources.readParquet(spark, monitorPath(dir, vs.max)),
        groupCol, ps, scale = 1.0))
    }

  /** Point-query the frequency monitor's latest grid for the probe
    * tokens ([[SketchOps.cmsEstimate]] face — never undercounts);
    * None before the first non-empty micro-batch. */
  def cmsMonitorEstimate(spark: SparkSession, dir: String,
                         probes: DataFrame, tokenCol: String,
                         depth: Int = 4, width: Int = 1024)
      : Option[DataFrame] =
    monitorVersions(spark, dir) match {
      case Nil => None
      case vs => Some(graft.ext.SketchOps.cmsEstimate(
        Sources.readParquet(spark, monitorPath(dir, vs.max)),
        probes, tokenCol, depth, width))
    }

  /** One micro-batch's sink work, keyed by the streaming engine's
    * batchId — package-private so replay idempotency is directly
    * testable (JobsSpec re-runs a batch under the same id and asserts
    * no duplicates). The quarantine half writes to a
    * `batch_id=<batchId>` partition directory with OVERWRITE: a
    * micro-batch replayed after a failure between the quarantine write
    * and the checkpoint commit rewrites the SAME partition with the
    * same rows instead of appending duplicates — the standard
    * foreachBatch idempotent-sink pattern (batchId is stable across
    * replays by the checkpoint contract). Readers of the quarantine
    * root see `batch_id` as a discovered partition column.
    *
    * Layout migration: a quarantine directory written by the pre-r9
    * FLAT layout (parquet files at the root) cannot be mixed with
    * `batch_id=` partition directories — Spark's partition discovery
    * rejects conflicting structures. Point new pipelines at a fresh
    * directory, or move legacy files into a `batch_id=-1/` subdir
    * once; replay keys start at 0 so `-1` never collides. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
            idCol: String, textCol: String,
            rules: Seq[Checks.Rule], benchGramHashes: Array[Long],
            blocked: Option[Column],
            store: graft.sinks.Upsert.KeyedStore,
            quarantineDir: String,
            testFrac: Double, validFrac: Double,
            lmModel: Option[TextOps.LmModel],
            maxMeanNll: Double,
            dedupIndex: Option[(Array[Byte], DataFrame)],
            nllBand: Option[(Double, Double)] = None,
            dropNllTail: Boolean = false,
            monitor: Option[(String, String)] = None,
            freqMonitorDir: Option[String] = None,
            lenMonitorDir: Option[String] = None,
            nbModel: Option[TextOps.NbModel] = None,
            nearDupIndex: Option[(DataFrame, Double)] = None): Unit = {
    val (bad, kept) = routedTransform(batch, idCol, textCol, rules,
      benchGramHashes, blocked, testFrac, validFrac,
      lmModel, maxMeanNll, dedupIndex, nllBand, dropNllTail, nbModel,
      nearDupIndex)
    // writeParquet's empty guard skips the write and
    // its batch_id= partition for a batch with no rule breakers
    Sinks.writeParquet(bad, s"$quarantineDir/batch_id=$batchId",
      "replace")
    // No emptiness probe on the kept side: the upsert job counts the
    // rows it wrote, and only a batch that landed rows feeds the
    // monitors.
    if (graft.sinks.Upsert.keyedUpsert(kept, idCol, store) > 0) {
      // Live distinct monitor over what actually LANDS in the store;
      // groupCol "-" monitors the whole stream as one group.
      monitor.foreach { case (dir, groupCol) =>
        val (g, frame) =
          if (groupCol == "-")
            ("_monitor_group",
              kept.withColumn("_monitor_group", lit("all")))
          else (groupCol, kept)
        mergeMonitor(frame, batchId, g, textCol, dir)
      }
      freqMonitorDir.foreach(dir =>
        mergeCmsMonitor(kept, batchId, textCol, dir))
      // Live length-quantile monitor over kept rows, whole-stream
      // group (the per-source variant is monitor's groupCol pattern).
      lenMonitorDir.foreach(dir =>
        mergeLengthMonitor(
          kept.withColumn("_monitor_group", lit("all")),
          batchId, "_monitor_group", textCol, dir))
    }
    ()
  }

  /** Start the streaming query: quarantine to parquet, kept rows to the
    * keyed store. The input stream itself stays untransformed — routing
    * happens per micro-batch so BOTH halves come from one source read
    * and one checkpoint.
    *
    * Delivery semantics: BOTH halves are replay-idempotent — the keyed
    * upsert because same ids overwrite, the quarantine because each
    * micro-batch overwrites its own `batch_id` partition
    * ([[processBatch]]) — so the DAG is effectively exactly-once end
    * to end. */
  def start(stream: DataFrame, idCol: String, textCol: String,
            rules: Seq[Checks.Rule], benchGramHashes: Array[Long],
            blockedPhrases: Seq[String],
            store: graft.sinks.Upsert.KeyedStore,
            quarantineDir: String, checkpointDir: String,
            testFrac: Double = 0.05, validFrac: Double = 0.05,
            lmModel: Option[TextOps.LmModel] = None,
            maxMeanNll: Double = Double.PositiveInfinity,
            dedupIndex: Option[(Array[Byte], DataFrame)] = None,
            nllBand: Option[(Double, Double)] = None,
            dropNllTail: Boolean = false,
            monitor: Option[(String, String)] = None,
            freqMonitorDir: Option[String] = None,
            lenMonitorDir: Option[String] = None,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.AvailableNow(),
            nbModel: Option[TextOps.NbModel] = None,
            nearDupIndex: Option[(DataFrame, Double)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Built once here, not per micro-batch: the phrase hashes are plan
    // constants of every batch's filter.
    val blocked =
      if (blockedPhrases.isEmpty) None
      else Some(TextOps.containsBlockedPhrase(col(textCol), blockedPhrases))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, rules,
          benchGramHashes, blocked, store, quarantineDir,
          testFrac, validFrac, lmModel, maxMeanNll, dedupIndex,
          nllBand, dropNllTail, monitor, freqMonitorDir, lenMonitorDir,
          nbModel, nearDupIndex)
      }
      .start()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, ddl, idCol, textCol, rulesSpec, benchPath, phrasesFile,
      storeDir, quarantineDir, cp, rest @ _*) = args
    val rules = rulesSpec.split(";").toSeq.filter(_.nonEmpty)
      .map(QualityGateJob.parseRule)
    // Benchmark grams and the blocklist fold into the plan as constants
    // (bounded by contract: eval sets and blocklists are small) — read
    // them BEFORE the stream starts, batch-side.
    val grams =
      if (benchPath == "-") Array.empty[Long]
      else DedupOps.benchmarkGramHashes(
        Sources.readParquet(spark, benchPath), textCol)
    val phrases =
      if (phrasesFile == "-") Seq.empty[String]
      else {
        val src = scala.io.Source.fromFile(phrasesFile, "UTF-8")
        try src.getLines().toList.map(_.trim).filter(_.nonEmpty)
        finally src.close()
      }
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(in)
    // Fluency model trained batch-side before the stream starts, like
    // the gram/phrase constants.
    val lmModel = rest.lift(2).filter(_ != "-").map(p =>
      TextOps.lmTrainHashed(Sources.readParquet(spark, p), textCol))
    val dedupIndex = rest.lift(4).filter(_ != "-").map(p =>
      DedupOps.buildDedupIndex(Sources.readParquet(spark, p), textCol))
    val nllBand = (rest.lift(5).filter(_ != "-"),
        rest.lift(6).filter(_ != "-")) match {
      case (Some(t1), Some(t2)) => Some((t1.toDouble, t2.toDouble))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "nllT1 and nllT2 must be given together")
    }
    val q = start(stream, idCol, textCol, rules, grams, phrases,
      new graft.sinks.Upsert.FileStore(storeDir), quarantineDir, cp,
      testFrac = rest.headOption.map(_.toDouble).getOrElse(0.05),
      validFrac = rest.lift(1).map(_.toDouble).getOrElse(0.05),
      lmModel = lmModel,
      maxMeanNll = rest.lift(3).map(_.toDouble)
        .getOrElse(Double.PositiveInfinity),
      dedupIndex = dedupIndex,
      nllBand = nllBand,
      dropNllTail = rest.lift(7).exists(_.toBoolean),
      monitor = rest.lift(8).filter(_ != "-").map(dir =>
        (dir, rest.lift(9).getOrElse("-"))),
      freqMonitorDir = rest.lift(10).filter(_ != "-"),
      lenMonitorDir = rest.lift(11).filter(_ != "-"),
      // Trained NB quality gate: labeled corpus parquet + the boolean
      // trusted-flag column, trained batch-side like the LM model.
      nbModel = (rest.lift(12).filter(_ != "-"),
          rest.lift(13).filter(_ != "-")) match {
        case (Some(p), Some(flag)) => Some(TextOps.nbTrainHashed(
          Sources.readParquet(spark, p), textCol, col(flag)))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "nbRefPath and nbTrustedCol must be given together")
      },
      // Near-dup history gate: a PERSISTED DedupOps.buildNearDupIndex
      // parquet (the daily run's append-only artifact), read as-is —
      // the archive is never re-shingled here.
      nearDupIndex = rest.lift(14).filter(_ != "-").map(p =>
        (Sources.readParquet(spark, p),
          rest.lift(15).map(_.toDouble).getOrElse(0.8))))
    q.awaitTermination()
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-stream-ingest")(run(_, args))
}

/** Load: parquet → destination table path (K7 semantics: sanitize then
  * fail|replace|append, raising on failure).
  * args: <inPath> <destTable> [behavior=replace] */
object LoadJob {
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, dest, rest @ _*) = args
    Sinks.loadDataFrame(Sources.readParquet(spark, in), dest,
      rest.headOption.getOrElse("replace"))
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-load")(run(_, args))
}
