package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.jobs._

object Workloads {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  def ids(spark: SparkSession, path: String): Seq[Long] =
    spark.read.parquet(path).select(col("doc_id").cast("long"))
      .collect().map(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
      .toSeq.sorted

  /** xxhash64 over every output column, folded with bit_xor (the
    * `graft.Bench` forcing rule: every expression must evaluate). */
  def force(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .as("_h")).agg(bit_xor(col("_h"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else Main.copy(from.getPath, to.getPath)
}

/** Closed-loop catalog session: the session's queries run back to back
  * from one thread in one session; each is built through
  * `SparkEntry.queries` and forced the way `graft.Bench` forces it. */
final class QueryMix(spark: SparkSession, inputs: String, m: JsonNode)
    extends Workload {
  private val draw = m.get("draw").elements().asScala.map(_.asText).toSeq
  private val round = m.get("round").asInt
  private val fixtureRows = m.get("fixture_rows").asLong
  private val familyOf: Map[String, String] =
    m.get("families").fields().asScala.map(e => e.getKey -> e.getValue.asText)
      .toMap
  private val familyNames =
    m.get("family_names").elements().asScala.map(_.asText).toSeq
  private val expected: Map[String, (String, Long)] =
    m.get("checksums").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("oracle_sql_sha256").asText,
        e.getValue.get("checksum").asLong)
    }.toMap

  def run(rec: Recorder, root: String, pass: Pass, batches: Int): Unit = {
    // Each pass reads its own copy, so session caches (keyed by
    // session and directory) start empty in both passes.
    val dir = s"$root/fixture"
    Workloads.copyTree(new File(m.get("fixture").asText), new File(dir))
    val sums = mutable.ArrayBuffer.empty[(String, Long)]
    draw.grouped(round).take(batches).zipWithIndex.foreach { case (names, r) =>
      pass.batch(r) { names.foreach { name =>
        rec.op(name, r) { o =>
          val df = rec.phase(o, "build") {
            SparkEntry.queries(name)(spark, dir) }
          val got = rec.phase(o, "force") { Workloads.force(df) }
          sums += name -> got
          val sqlSha = Workloads.sha256(SparkEntry.oracleSql.getOrElse(name, ""))
          expected.get(name) match {
            case Some((sha, want)) if sha == sqlSha && want == got => ()
            case Some((sha, want)) if sha == sqlSha =>
              throw new IllegalStateException(
                s"checksum $got, expected $want")
            case Some(_) => throw new IllegalStateException(
              "oracle SQL differs from the one the checksum was taken under")
            case None => throw new IllegalStateException(
              "no checksum entry for this query")
          }
        }
      } }
    }
    pass.heapMb = Main.retainedHeapMb()
    pass.landedRows = fixtureRows * rec.ops.count(_.ok)
    pass.ingestRows = pass.landedRows
    pass.detail("checksums") = Main.mapper.valueToTree[JsonNode](
      sums.map { case (n, s) => s"$n=$s" }.asJava)
  }

  def layer(pass: Pass): Seq[(String, Double)] = {
    val exec = pass.exec
    val ops = pass.ops
    def jobs(o: Op, phase: String) =
      exec.toSeq.flatMap(_.jobSpans(o.id)).filter(_.name == phase)
    def ph(o: Op, name: String) = o.phases.find(_.name == name)
    val build = ops.flatMap(o => ph(o, "build").map(o -> _))
    val force = ops.flatMap(o => ph(o, "force").map(o -> _))
    Seq(
      "query.build_s" -> build.map(_._2.dur).sum / 1e9,
      "query.build_jobs" -> ops.map(o => jobs(o, "build").size).sum.toDouble,
      "query.build_job_s" -> build.map { case (o, s) =>
        Span.covered(s.start, s.end,
          jobs(o, "build").map(j => (j.start, j.end))) }.sum / 1e9,
      "query.force_s" -> force.map(_._2.dur).sum / 1e9,
      "query.force_driver_s" -> force.map { case (o, s) =>
        Span.self(s, jobs(o, "force")) }.sum / 1e9
    ) ++ familyNames.map { f =>
      s"family.$f.p50_s" ->
        Stats.median(ops.filter(o => familyOf(o.name) == f).map(_.s))
    }
  }
}

/** The Spark tasks of the `graft_pipeline` DAG in dependency order, one
  * simulated day after another, against a data root whose persisted
  * state (near-dup index and labels, ANN index, warehouse) carries
  * across days. Arguments are the DAG's own. */
final class DailyPipeline(spark: SparkSession, inputs: String, m: JsonNode)
    extends Workload {
  private val days = m.get("days").elements().asScala.toSeq
  val Stages = Seq("ingest", "profile", "quality_gate", "dedupe",
    "incremental_dedupe", "split", "load", "ann_index", "layout", "curate")
  private val outcomes = mutable.LinkedHashMap.empty[String, Double]
  private var landedBytes = 0L

  def run(rec: Recorder, root: String, pass: Pass, batches: Int): Unit = {
    Main.copy(s"$inputs/eval_set.parquet",
      s"$root/benchmarks/eval_set/part-0.parquet")
    val wh = s"$root/warehouse"
    var planted, exactDropped, nearPlanted, nearDropped = 0L
    pass.ingestOps = _.name == "ingest"
    (CurationJob.Stages :+ "kept").foreach(s => outcomes(s) = 0.0)
    days.take(batches).zipWithIndex.foreach { case (day, d) =>
      val ds = java.time.LocalDate.of(2023, 1, 1).plusDays(d).toString
      val run = s"$root/runs/$ds"
      Main.copy(s"$inputs/day$d/documents.csv",
        s"$root/incoming/documents.csv")
      Main.copy(s"$inputs/day$d/embeddings.parquet",
        s"$wh/embeddings/day$d.parquet")
      landedBytes += new File(s"$inputs/day$d/documents.csv").length() +
        new File(s"$inputs/day$d/embeddings.parquet").length()
      val calls: Seq[(String, Array[String] => Unit, Array[String])] = Seq(
        ("ingest", IngestJob.run(spark, _), Array(
          s"$root/incoming/documents.csv", s"$run/documents", "replace")),
        ("profile", ProfileJob.run(spark, _), Array(
          s"$run/documents", s"$run/profile")),
        ("quality_gate", QualityGateJob.run(spark, _), Array(
          s"$run/documents", s"$run/quality_report",
          "not_null:doc_id;not_null:text;non_negative:n_chars", "doc_id")),
        ("dedupe", DedupeJob.run(spark, _), Array(
          s"$run/documents", s"$run/deduped", "doc_id", "text", "0.85")),
        ("incremental_dedupe", IncrementalDedupJob.run(spark, _), Array(
          s"$run/deduped", s"$root/state/neardup", s"$run/novel",
          "doc_id", "text", "2", "64", "16", "0.85")),
        ("split", SplitJob.run(spark, _), Array(
          s"$run/novel", s"$run/split", "doc_id", "0.05", "0.05")),
        ("load", LoadJob.run(spark, _), Array(
          s"$run/split", s"$wh/documents", "replace")),
        ("ann_index", AnnIndexJob.run(spark, _), Array(
          s"$wh/embeddings", s"$root/state/ann_index", "vec_id",
          "embedding", "64", "16", "4", "16", ds, "append")),
        ("layout", LayoutJob.run(spark, _), Array(
          s"$wh/documents", s"$wh/documents_clustered",
          "doc_id", "n_chars", "8", "64", "zorder")),
        ("curate", CurationJob.run(spark, _), Array(
          s"$run/documents", s"$run/curation_disposition", s"$run/curated",
          "doc_id", "text", "not_null:text;non_negative:n_chars", "en",
          s"$root/benchmarks/eval_set", "0.65", "0.06", "0.8")))
      var broken = false
      pass.batch(d) {
        calls.foreach { case (name, job, args) =>
          // A failed stage stops the day, as it would stop the DAG run;
          // the stages after it count as failed too.
          if (broken) rec.op(name, d)(_ => throw new IllegalStateException(
            "upstream stage failed"))
          else if (rec.op(name, d)(_ => job(args)).isEmpty) broken = true
        }
      }
      val landed = Workloads.longs(day.get("ids")).sorted
      pass.landedRows += landed.size
      pass.ingestRows += landed.size
      if (broken) pass.fail(s"day $d: a stage failed")
      else rec.untimed("check") {
        val disp = spark.read.parquet(s"$run/curation_disposition")
          .select(col("doc_id").cast("long"), col("status")).collect()
        if (disp.map(_.getLong(0)).toSeq.sorted != landed)
          pass.fail(s"day $d: disposition rows != landed rows")
        disp.groupBy(_.getString(1)).foreach { case (s, rows) =>
          val k = if (CurationJob.Stages.contains(s)) s else "kept"
          outcomes(k) = outcomes(k) + rows.length
        }
        val novel = Workloads.ids(spark, s"$run/novel").toSet
        val recrawls = Workloads.longs(day.get("recrawl"))
        val nears = Workloads.longs(day.get("near_dup"))
        planted += recrawls.size
        exactDropped += recrawls.count(i => !novel.contains(i))
        nearPlanted += nears.size
        nearDropped += nears.count(i => !novel.contains(i))
        if (recrawls.exists(novel.contains))
          pass.fail(s"day $d: a planted re-crawl survived incremental_dedupe")
        if (Workloads.ids(spark, s"$wh/documents") !=
            Workloads.ids(spark, s"$run/split"))
          pass.fail(s"day $d: warehouse rows != split rows")
        pass.detail(s"state_bytes_day$d") =
          Main.mapper.valueToTree[JsonNode](stateBytes(root))
      }
    }
    pass.heapMb = Main.retainedHeapMb()
    outcomes("exact_dup_recall") = exactDropped.toDouble / math.max(1, planted)
    outcomes("near_dup_recall") = nearDropped.toDouble / math.max(1, nearPlanted)
    outcomes.foreach { case (k, v) =>
      pass.detail(s"outcome.$k") = Main.mapper.valueToTree[JsonNode](v) }
    val (bytes, files) = Seq(s"$root/runs", s"$root/state", s"$wh/documents",
      s"$wh/documents_clustered").map(p => Main.du(new File(p)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, e)) => (a + c, b + e) }
    pass.layer("sinks.write_amplification") = bytes.toDouble / landedBytes
    pass.layer("sinks.files_written") = files.toDouble
    pass.layer("state.bytes") = stateBytes(root).toDouble
  }

  /** Persisted state: the near-dup and ANN state plus the warehouse. */
  private def stateBytes(root: String): Long =
    Seq("state", "warehouse").map(p => Main.du(new File(s"$root/$p"))._1).sum

  def layer(pass: Pass): Seq[(String, Double)] = {
    val nDays = math.max(1, days.size)
    val exec = pass.exec
    Stages.flatMap { st =>
      val ops = pass.ops.filter(_.name == st)
      Seq(
        s"job.$st.s" -> ops.map(_.s).sum / nDays,
        s"job.$st.driver_only_s" -> ops.map(o => Span.self(o.span,
          exec.toSeq.flatMap(_.jobSpans(o.id)))).sum / 1e9 / nDays,
        s"job.$st.executor_cpu_s" -> ops.map(o =>
          exec.map(_.totalsFor(o.id).cpuNs).getOrElse(0L)).sum / 1e9 / nDays)
    } ++ outcomes.toSeq.map {
      case (k @ ("exact_dup_recall" | "near_dup_recall"), v) => s"ext.$k" -> v
      case ("kept", v) => "curate.kept" -> v
      case (k, v) => s"curate.dropped.$k" -> v
    }
  }
}

/** The hourly `graft_stream_ingest` DAG: each simulated hour lands a
  * set of parquet files and one `StreamIngestJob.run` drains them with
  * AvailableNow. Checkpoint, keyed store and quarantine persist across
  * hours. */
final class StreamIngest(spark: SparkSession, inputs: String, m: JsonNode)
    extends Workload {
  private val hours = m.get("hours").elements().asScala.toSeq
  private val drainSpans = mutable.ArrayBuffer.empty[Span]

  def run(rec: Recorder, root: String, pass: Pass, batches: Int): Unit = {
    val hours = this.hours.take(batches)
    Main.copy(s"$inputs/eval_set.parquet",
      s"$root/benchmarks/eval_set/part-0.parquet")
    Main.copy(s"$inputs/blocked_phrases.txt",
      s"$root/config/blocked_phrases.txt")
    val store = s"$root/warehouse/documents_store"
    val quarantine = s"$root/quarantine/documents"
    val args = Array(s"$root/landing/documents", "doc_id LONG, text STRING",
      "doc_id", "text", "not_null:text;non_negative:doc_id",
      s"$root/benchmarks/eval_set", s"$root/config/blocked_phrases.txt",
      store, quarantine, s"$root/checkpoints/stream_ingest")
    var landedBytes = 0L
    hours.zipWithIndex.foreach { case (hour, h) =>
      new File(s"$inputs/hour$h").listFiles().sortBy(_.getName).foreach { f =>
        Main.copy(f.getPath, s"$root/landing/documents/h$h-${f.getName}")
        landedBytes += f.length()
      }
      pass.batch(h) { rec.op("drain", h)(_ => StreamIngestJob.run(spark, args)) }
      pass.landedRows += hour.get("rows").asLong
      pass.ingestRows += hour.get("rows").asLong
      pass.detail(s"state_bytes_hour$h") = Main.mapper.valueToTree[JsonNode](
        stateBytes(root))
    }
    pass.heapMb = Main.retainedHeapMb()

    rec.untimed("check") {
      // The store holds exactly the kept rows, each with its latest text;
      // the quarantine exactly the rule breakers; dropped rows neither.
      val want = mutable.Map.empty[Long, String]
      val wantQ = mutable.ArrayBuffer.empty[Long]
      hours.foreach { hr =>
        hr.get("store").elements().asScala.foreach { p =>
          want(p.get(0).asLong) = p.get(1).asText }
        wantQ ++= Workloads.longs(hr.get("quarantine"))
      }
      val got = storeContents(store)
      if (got != want.toMap) pass.fail(
        s"store holds ${got.size} keys, expected ${want.size}" +
          s" (${(got.toSet diff want.toSet).size} unexpected entries)")
      val gotQ = Workloads.ids(spark, quarantine)
      if (gotQ != wantQ.sorted.toSeq) pass.fail(
        s"quarantine holds ${gotQ.size} rows, expected ${wantQ.size}")
      pass.layer("stream.upserted_rows") = hours.map(
        _.get("store").size).sum.toDouble
      pass.layer("stream.quarantined_rows") = gotQ.size.toDouble
      // A drain with no new files changes neither side.
      val before = (listing(store), listing(quarantine))
      StreamIngestJob.run(spark, args)
      if ((listing(store), listing(quarantine)) != before)
        pass.fail("a drain with no new files changed the store or quarantine")
    }
    val (bytes, files) = Seq(store, quarantine).map(p => Main.du(new File(p)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, e)) => (a + c, b + e) }
    pass.layer("sinks.write_amplification") = bytes.toDouble / landedBytes
    pass.layer("sinks.files_written") = files.toDouble
    pass.layer("state.bytes") = stateBytes(root).toDouble
  }

  private def stateBytes(root: String): Long =
    Seq("warehouse", "quarantine", "checkpoints")
      .map(p => Main.du(new File(s"$root/$p"))._1).sum

  private def storeContents(dir: String): Map[Long, String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".json")).map { f =>
        val id = java.net.URLDecoder.decode(
          f.getName.stripSuffix(".json"), "UTF-8").toLong
        val text = Main.mapper.readTree(f).get("text").asText
        id -> Workloads.sha256(text).take(16)
      }.toMap

  private def listing(dir: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
  }

  def layer(pass: Pass): Seq[(String, Double)] = {
    val drains = pass.ops.filter(_.name == "drain")
    // progress of the timed drains only, not of the idle-drain check
    val progress = pass.stream.toSeq.flatMap(_.progress.asScala)
      .filter(p => pass.drainOf(p).isDefined)
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val triggerS = dur("triggerExecution")
    Seq(
      "stream.batches" -> progress.size.toDouble,
      "stream.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
      "stream.pre_trigger_s" -> (drains.map(_.s).sum - triggerS),
      "stream.latest_offset_s" -> dur("latestOffset"),
      "stream.query_planning_s" -> dur("queryPlanning"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"))
  }
}
