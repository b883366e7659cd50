package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Engine, SessionCaches}

/** The benchmark's JVM side: sets the engine up, runs one workload over
  * inputs that `run.py` generated, checks the outputs and writes one
  * JSON result. The program is called only through its public entry
  * points; timing and tracing happen here, around those calls.
  *
  * args: <workload> <inputsDir> <workDir> <resultJson> <trace 0|1> <cores>
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, resultPath, traceArg, coresArg) = args
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val manifest = mapper.readTree(new File(s"$inputs/manifest.json"))
    graft.tools.CodegenWatch.install()

    // Set-up: the JVM's first session plus a fixed warm-up job, cold, as
    // every Airflow task and hourly run pays it. The session stays up
    // for the workload.
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench", Some(s"local[$cores]"),
      shufflePartitions = cores)
    val t1 = System.nanoTime()
    warmup(spark, s"$work/warmup")
    val sessionS = (t1 - t0) / 1e9
    val warmupS = (System.nanoTime() - t1) / 1e9

    def runPass(tag: String, tracing: Boolean,
                batches: Int = Int.MaxValue): Pass = {
      val exec = if (tracing) Some(new ExecListener(cores)) else None
      val stream = if (tracing) Some(new StreamListener) else None
      exec.foreach(spark.sparkContext.addSparkListener)
      stream.foreach(spark.streams.addListener)
      val rec = new Recorder(spark)
      val w: Workload = workload match {
        case "query_mix" => new QueryMix(spark, inputs, manifest)
        case "daily_pipeline" => new DailyPipeline(spark, inputs, manifest)
        case "stream_ingest" => new StreamIngest(spark, inputs, manifest)
        case other => throw new IllegalArgumentException(
          s"unknown workload: $other")
      }
      val p = new Pass(rec)
      p.exec = exec
      p.stream = stream
      try w.run(rec, s"$work/$tag", p, batches)
      finally {
        if (tracing) org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        exec.foreach(spark.sparkContext.removeSparkListener)
        stream.foreach(spark.streams.removeListener)
      }
      if (tracing) w.layer(p).foreach { case (k, v) => p.layer(k) = v }
      p
    }

    // A traced run traces the pass, so its layer metrics describe the
    // same cold session the end-to-end metrics do. For trace_overhead it
    // then runs the first batch three more times on fresh state, past the
    // pass's JIT and codegen warm-up: untraced, traced, untraced. The
    // untraced base is the mean of the outer two, so warm-up that goes on
    // from one repeat to the next cancels to first order.
    val base = runPass("pass0", tracing = traced)
    val repeats = if (traced)
      Some(Seq(runPass("pass1", tracing = false, batches = 1),
        runPass("pass2", tracing = true, batches = 1),
        runPass("pass3", tracing = false, batches = 1))) else None

    val out = mapper.createObjectNode()
    val res = out.putObject("result")
    res.put("setup_s", sessionS + warmupS)
    base.endToEnd.foreach { case (k, v) => res.put(k, v) }
    out.put("attempted", base.attempted)
    out.put("failed", base.failed)
    val detail = out.putObject("detail")
    base.detail.foreach { case (k, v) => detail.set[JsonNode](k, v) }
    detail.set[JsonNode]("check_failures",
      mapper.valueToTree[JsonNode](base.checkNotes.asJava))
    detail.set[JsonNode]("op_errors", mapper.valueToTree[JsonNode](
      base.ops.filter(!_.ok).map(o => s"${o.name}#${o.batch}: ${o.error}")
        .asJava))
    detail.set[JsonNode]("ops", mapper.valueToTree[JsonNode](
      base.ops.map(o => Seq(o.name, o.batch, o.s, o.ok).asJava).asJava))
    val (_, tailPct) = Stats.tail(base.ops.map(_.s))
    detail.put("query_tail_percentile", tailPct)
    detail.put("query_tail_samples", base.ops.size)
    repeats.foreach { case Seq(before, again, after) =>
      val untracedS = (before.timedS + after.timedS) / 2
      val layer = out.putObject("per_layer")
      layer.put("engine.session_s", sessionS)
      layer.put("engine.warmup_s", warmupS)
      base.perLayer.foreach { case (k, v) => layer.put(k, v) }
      layer.put("failed_ratio",
        base.failed.toDouble / math.max(1, base.attempted))
      layer.put("trace_overhead", again.timedS / untracedS)
      layer.put("trace.traced_wall_s", again.timedS)
      layer.put("trace.untraced_wall_s", untracedS)
      out.set[JsonNode]("traced_detail", base.traceDetail())
      // the repeats must pass the same checks
      out.put("traced_failed", before.failed + again.failed + after.failed)
      base.writeSpans(s"$work/spans.jsonl")
    }
    Files.writeString(Paths.get(resultPath),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    spark.stop()
  }

  /** Fixed warm-up, the same for every workload: a small parquet round
    * trip with an aggregate (codegen, parquet writer and reader). */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 50000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"),
        sha2(col("id").cast("string"), 256).as("s"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("k")
      .agg(count(lit(1)), bit_xor(xxhash64(col("s")))).collect()
  }

  /** Process CPU time, all threads, in seconds. */
  def cpuNow(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    // the ContextCleaner frees blocks of collected frames only after a
    // collection found them; give it time, then collect again
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def copy(from: String, to: String): Unit = {
    val t = Paths.get(to)
    Files.createDirectories(t.getParent)
    Files.copy(Paths.get(from), t,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Value at the highest rank with at least ten samples beyond it, never
    * below the upper median, and that rank's percentile. Up to 22 samples
    * no rank above the median has ten beyond it, so the value is the
    * upper median. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0)
    else {
      val i = math.max(n - 11, n / 2)
      (s(i), 100.0 * (i + 1) / n)
    }
  }
}

/** One timed operation: a query, a job-stage call or an hourly drain. */
final class Op(val id: String, val name: String, val batch: Int) {
  var start, end = 0L
  var ok = true
  var error = ""
  val phases = mutable.ArrayBuffer.empty[Span]
  def span = Span(id, "op", name, start, end)
  def s: Double = (end - start) / 1e9
}

/** Runs and times operations; attributes Spark jobs to them through
  * local properties (read by [[ExecListener]] in traced passes). */
final class Recorder(spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val sc = spark.sparkContext

  def op[T](name: String, batch: Int)(body: Op => T): Option[T] = {
    val o = new Op(s"op${ops.size}", name, batch)
    ops += o
    sc.setLocalProperty("perfbench.op", o.id)
    sc.setLocalProperty("perfbench.phase", name)
    o.start = Span.now()
    try Some(body(o))
    catch {
      case NonFatal(e) =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(
          e.getMessage).take(300)}"
        System.err.println(s"[perfbench] op ${o.name} failed: ${o.error}")
        None
    } finally {
      o.end = Span.now()
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
    }
  }

  def phase[T](o: Op, name: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.phase", name)
    val t0 = Span.now()
    try body
    finally {
      o.phases += Span(o.id, "phase", name, t0, Span.now())
      sc.setLocalProperty("perfbench.phase", o.name)
    }
  }

  /** Untimed work (output checks) under its own label. */
  def untimed[T](label: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.op", label)
    try body finally sc.setLocalProperty("perfbench.op", null)
  }
}

/** Everything one pass over a workload measured. */
final class Pass(val rec: Recorder) {
  var exec: Option[ExecListener] = None
  var stream: Option[StreamListener] = None
  /** (batch index, seconds) — a day, an hour or a round of queries */
  val batches = mutable.ArrayBuffer.empty[(Int, Double)]
  var timedS, cpuS, heapMb = 0.0
  var landedRows = 0L
  var ingestRows = 0L
  var ingestOps: Op => Boolean = _ => true
  var checkFailures = 0
  val checkNotes = mutable.ArrayBuffer.empty[String]
  var cacheFills, cacheHits = 0L
  var codegenFailures = 0
  var codegenClasses = 0L
  var codegenCompileS = 0.0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, JsonNode]

  private var cpu0 = 0.0
  private var fills0, hits0, compiles0, cgClasses0 = 0L
  private var cgFail0 = 0

  /** Time one batch (a day, an hour, a round of queries) and fold the
    * engine counters it moved into the pass totals. */
  def batch(index: Int)(body: => Unit): Unit = {
    begin()
    val t0 = System.nanoTime()
    body
    end(index, (System.nanoTime() - t0) / 1e9)
  }

  private def begin(): Unit = {
    cpu0 = Main.cpuNow()
    fills0 = SessionCaches.fills; hits0 = SessionCaches.hits
    cgFail0 = graft.tools.CodegenWatch.count.get()
    val m = org.apache.spark.metrics.source.CodegenMetrics
    compiles0 = m.METRIC_COMPILATION_TIME.getCount
    cgClasses0 = m.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
  }

  private def end(index: Int, seconds: Double): Unit = {
    batches += ((index, seconds))
    timedS += seconds
    cpuS += Main.cpuNow() - cpu0
    cacheFills += SessionCaches.fills - fills0
    cacheHits += SessionCaches.hits - hits0
    codegenFailures += graft.tools.CodegenWatch.count.get() - cgFail0
    // Spark keeps compile times in a sampling histogram: the count is
    // exact, the seconds are count x the sampled mean.
    val m = org.apache.spark.metrics.source.CodegenMetrics
    val compiles = m.METRIC_COMPILATION_TIME.getCount - compiles0
    codegenClasses += m.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount -
      cgClasses0
    codegenCompileS +=
      compiles * m.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
  }

  def fail(note: String): Unit = {
    checkFailures += 1
    checkNotes += note
    System.err.println(s"[perfbench] check failed: $note")
  }

  def ops: Seq[Op] = rec.ops.toSeq
  def attempted: Int = ops.size
  def failed: Int =
    math.min(attempted, ops.count(!_.ok) + checkFailures)

  def endToEnd: Seq[(String, Double)] = {
    val lat = ops.map(_.s)
    val (tail, _) = Stats.tail(lat)
    val b = batches.map(_._2).toSeq
    Seq(
      "cpu_s" -> cpuS,
      "retained_heap_mb" -> heapMb,
      "query_p50_s" -> Stats.median(lat),
      "query_tail_s" -> tail,
      "queries_per_s" -> ops.count(_.ok) / timedS,
      "drain_p50_s" -> Stats.median(b),
      "last_day_s" -> b.lastOption.getOrElse(0.0),
      "pipeline_docs_per_s" -> landedRows / timedS,
      "stream_rows_per_s" ->
        ingestRows / ops.filter(ingestOps).map(_.s).sum)
  }

  def perLayer: Seq[(String, Double)] = {
    val all = new ExecTotals
    exec.foreach(l => ops.foreach(o => all.add(l.totalsFor(o.id))))
    val driverOnly = ops.map(o =>
      Span.self(o.span, exec.toSeq.flatMap(_.jobSpans(o.id)))).sum / 1e9
    Seq(
      "engine.cache_fills" -> cacheFills.toDouble,
      "engine.cache_hits" -> cacheHits.toDouble,
      "engine.cache_hit_ratio" ->
        cacheHits.toDouble / math.max(1L, cacheFills + cacheHits),
      "engine.codegen_failures" -> codegenFailures.toDouble,
      "engine.codegen_compile_s" -> codegenCompileS,
      "engine.codegen_classes" -> codegenClasses.toDouble,
      "exec.jobs" -> all.jobs.toDouble,
      "exec.stages" -> all.stages.toDouble,
      "exec.tasks" -> all.tasks.toDouble,
      "exec.driver_only_s" -> driverOnly,
      "exec.executor_run_s" -> all.runNs / 1e9,
      "exec.executor_cpu_s" -> all.cpuNs / 1e9,
      "exec.gc_s" -> all.gcNs / 1e9,
      "exec.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> all.shuffleRead.toDouble,
      "exec.spill_bytes" -> all.spill.toDouble,
      "exec.input_bytes" -> all.inputBytes.toDouble,
      "exec.input_records" -> all.inputRecords.toDouble,
      "exec.output_bytes" -> all.outputBytes.toDouble,
      "exec.output_records" -> all.outputRecords.toDouble,
      "exec.result_bytes" -> all.resultBytes.toDouble,
      "exec.task_skew" -> Stats.median(all.skews.toSeq)
    ) ++ layer.toSeq
  }

  /** Shares of the traced wall time: driver-only, eager pre-pass jobs
    * (jobs launched while a query was being built) and executor work. */
  def traceDetail(): JsonNode = {
    val n = Main.mapper.createObjectNode()
    val total = ops.map(o => o.end - o.start).sum.toDouble
    val jobs = ops.map(o => o -> exec.toSeq.flatMap(_.jobSpans(o.id)))
    val covered = jobs.map { case (o, js) =>
      Span.covered(o.start, o.end, js.map(j => (j.start, j.end))) }.sum
    val prePass = jobs.map { case (o, js) =>
      Span.covered(o.start, o.end,
        js.filter(_.name == "build").map(j => (j.start, j.end))) }.sum
    n.put("ops_wall_s", total / 1e9)
    n.put("share_driver_only", (total - covered) / total)
    n.put("share_prepass_jobs", prePass / total)
    n.put("share_other_jobs", (covered - prePass) / total)
    n
  }

  /** The op a micro-batch ran under: its trigger started inside it. */
  def drainOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Option[Op] = {
    val t = StreamListener.span(p)._1
    ops.find(o => t >= o.start - 1000000L && t <= o.end)
  }

  def writeSpans(path: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try {
      def line(s: Span): Unit = {
        val j = Main.mapper.createObjectNode()
        j.put("op", s.op); j.put("kind", s.kind); j.put("name", s.name)
        j.put("start_ns", s.start); j.put("end_ns", s.end)
        w.write(Main.mapper.writeValueAsString(j)); w.newLine()
      }
      ops.foreach { o => line(o.span); o.phases.foreach(line) }
      exec.foreach(_.spans.asScala.foreach(line))
      stream.toSeq.flatMap(_.progress.asScala).foreach { p =>
        drainOf(p).foreach { o =>
          val (s, e) = StreamListener.span(p)
          line(Span(o.id, "microbatch", s"batch ${p.batchId}", s, e))
        }
      }
    } finally w.close()
  }
}

trait Workload {
  /** Run the workload's first `batches` batches under `root`, recording
    * into `pass`. */
  def run(rec: Recorder, root: String, pass: Pass, batches: Int): Unit
  /** The workload's own per-layer metrics of a traced pass. */
  def layer(pass: Pass): Seq[(String, Double)]
}
