package graft.engine

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.serializer.Serializer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session bootstrap + table registry + SQL facade.
  *
  * The reference outsources all query processing to BigQuery
  * (`core/utils/db_core.py:119-135`); here Spark itself is the engine:
  * tables register as temp views and `Engine.sql` runs Catalyst end-to-end.
  *
  * Scale posture (100 TB): AQE on (runtime partition coalescing + skew-join
  * splitting), shuffle partitions sized for the local harness via config,
  * UTC session timezone pinned for oracle parity.
  */
object Engine {

  /** Build a session configured for this engine. In local mode `cores`
    * controls both parallelism and shuffle partitions; on a real cluster
    * leave master/shuffle-partitions to spark-submit + AQE.
    * In local mode every call, also one that returns the existing
    * session, pins the calling thread ([[pinCodegenLoader]]).
    */
  def session(appName: String = "graft", master: Option[String] = None,
              shufflePartitions: Int = 32): SparkSession = {
    preloaders
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no type
      // for; read as long and convert in `table` (values are µs-resolution,
      // so the conversion is lossless — see FIXTURES.md).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture generations vary between TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS, isAdjustedToUTC=false); the latter would infer
      // as TIMESTAMP_NTZ and split the engine into two timestamp
      // families (Row.getTimestamp, unix_micros, window ranges all
      // differ). Pin inference off: naive micros read as session-TZ
      // TIMESTAMP, and the session TZ is pinned UTC above, so values
      // are identical to the oracle's naive reading either way.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // managed-table warehouse (bucketed tables) under tmp, not the cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // Reclaim RELIABLE checkpoint files when their RDD is GC'd:
      // daily-cadence jobs under the spark.graft.checkpointDir posture
      // materialize per-run relations (sketch grids, pair stages,
      // closure labels) whose checkpoint files otherwise accumulate
      // unboundedly — Engine.release covers blocks, but files need the
      // ContextCleaner. Safe by construction: the cleaner only deletes
      // a checkpoint once nothing can reference its RDD.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // Isolation gives SQL tasks a class loader of their own, and codegen
      // compiles each source once per loader (see pinCodegenLoader).
      // Nothing here adds session artifacts, which is all it protects.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // Shuffle-partition count is set ONLY when this code also picks the
    // master (the local harness): a spark-submit deployment must keep its
    // own --conf spark.sql.shuffle.partitions (sized for the cluster),
    // which a builder.config here would silently override and cap every
    // shuffle at the harness value.
    master.foreach { m =>
      b.master(m)
      b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Local-harness scan parallelism: the default 128 MB split size
      // leaves every small-SF parquet table a SINGLE input partition, so
      // scan-stage work (tokenize, explode, partial aggs) runs on one of
      // the 32 cores. 4 MB splits spread test-scale tables across the
      // box; AQE re-coalesces downstream. Cluster deployments keep
      // Spark's default (128 MB is right when files are block-sized).
      b.config("spark.sql.files.maxPartitionBytes", "4m")
      b.config("spark.sql.files.openCostInBytes", "1m")
    }
    localFsConfs(master).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (spark.sparkContext.isLocal) pinCodegenLoader()
    spark
  }

  /** [[LocalFs]]'s confs (`file://` without a `chmod` or `readlink`
    * process per call) when the master is local: `master`, or else the
    * `spark.master` that spark-submit sets. They are set before
    * `getOrCreate`, so before the context exists: Hadoop caches one
    * `file://` instance per JVM and user, whatever the conf of later
    * lookups. */
  private[graft] def localFsConfs(master: Option[String],
                                  defaults: SparkConf = new SparkConf())
      : Seq[(String, String)] =
    if (master.orElse(defaults.getOption("spark.master"))
        .exists(m => m == "local" || m.startsWith("local[")))
      LocalFs.Confs
    else Nil

  /** The running session's Hadoop conf, which carries its
    * `spark.hadoop.*` settings (connector credentials, [[LocalFs]]);
    * Hadoop's defaults when no session runs. Driver side only: a task
    * gets the driver's conf from the factory that made its reader or
    * writer. */
  def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  /** Cold start in parallel. A fresh JVM spends most of its first
    * session loading classes, one at a time, on the thread that builds
    * it. The first [[session]] call of a JVM starts `min(4, cores - 1)`
    * daemon threads (none on one core) that walk [[PreloadList]] (class
    * names in first-load order, written by `tools/preload_classes.py`)
    * round-robin and load each name, not initialized, through this
    * object's own class loader: under spark-submit the one that loaded
    * the application jar, which reaches Spark's jars too. Thread 0 then
    * initializes [[IcuTable]], whose static initializer asks ICU for the
    * title case of every code point (~1.3 s of CPU) that the first
    * `lower`/`upper` task would otherwise wait for; done first, it left
    * thread 0's share of the list to the session thread. A stale name is
    * skipped; a class loaded early is the same class loaded later. */
  private[graft] lazy val preloaders: Seq[Thread] = {
    val loader = getClass.getClassLoader
    val n = math.min(4, Runtime.getRuntime.availableProcessors - 1)
    def load(name: String, init: Boolean): Unit =
      try Class.forName(name, init, loader)
      catch { case _: ClassNotFoundException | _: LinkageError => () }
    (0 until n).map { i =>
      val t = new Thread(() => {
        val names = preloadNames
        (i until names.size by n).foreach(j => load(names(j), init = false))
        if (i == 0) load(IcuTable, init = true)
      }, s"graft-preload-$i")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  private[graft] val PreloadList = "graft/preload-classes.txt.gz"

  /** The names in [[PreloadList]]; none when it is not on the class path. */
  private[graft] def preloadNames: IndexedSeq[String] =
    Option(getClass.getClassLoader.getResourceAsStream(PreloadList))
      .fold(IndexedSeq.empty[String]) { in =>
        val src = scala.io.Source.fromInputStream(
          new java.util.zip.GZIPInputStream(in), "UTF-8")
        try src.getLines().toIndexedSeq
        finally src.close()
      }
  private[graft] val IcuTable =
    "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"

  /** Spark's generated-class cache keys each source by the calling
    * thread's context class loader as well as the source text. In local
    * mode driver threads run under the application loader and tasks
    * under the executor's, so every whole-stage class the driver
    * compiled was compiled again by its first task. Pin the calling
    * thread to the executor's default loader; threads it starts later
    * (AQE stage pools, the stream execution thread) inherit it, and a
    * thread created earlier keeps compiling on its own (slower, never
    * wrong). The local executor registered its loader with the
    * serializer at start, so no job runs here. Spark exposes that
    * accessor only as a protected member, hence the reflection; if an
    * upgrade removes it, the session starts unpinned. */
  private def pinCodegenLoader(): Unit =
    try classOf[Serializer].getMethod("defaultClassLoader")
      .invoke(SparkEnv.get.serializer).asInstanceOf[Option[ClassLoader]]
      .foreach(Thread.currentThread.setContextClassLoader)
    catch { case NonFatal(_) => () }

  /** Lineage cut for iterative/materialize-and-freeze ops (connected
    * components, contiguous ids): reliable `checkpoint` when the session
    * sets `spark.graft.checkpointDir` (cluster posture — the checkpoint
    * survives executor loss and truncates lineage durably), eager
    * `localCheckpoint` otherwise (local posture — no distributed-FS round
    * trip, blocks released by the ContextCleaner). The swap is a config
    * flip, not a code edit: `spark.conf.set("spark.graft.checkpointDir",
    * "hdfs://…")` before calling any iterative op.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        // Re-point the context when the CONFIGURED dir changed, not just
        // when unset: setCheckpointDir appends a UUID subdir, so compare
        // against the current value's parent (fully qualified).
        val sc = spark.sparkContext
        val want = new org.apache.hadoop.fs.Path(dir)
        val wantQ = want.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(want)
        val currentParent = sc.getCheckpointDir
          .map(c => new org.apache.hadoop.fs.Path(c).getParent)
        if (!currentParent.contains(wantQ)) sc.setCheckpointDir(dir)
        // Persist first: Dataset.checkpoint re-runs the plan for the
        // checkpoint-write job when the data isn't cached (~2× compute
        // per iterative round). Cache → eager checkpoint → unpersist.
        // Checkpoint files themselves are reclaimed only via
        // spark.cleaner.referenceTracking.cleanCheckpoints=true (set it
        // in cluster posture) or by deleting the directory post-job.
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try reset(cached.checkpoint(eager = true))
        finally cached.unpersist(blocking = false)
      case _ => reset(df.localCheckpoint(eager = true))
    }
  }

  /** Checkpoint carries the ORIGIN plan's size estimate through the cut
    * (`LogicalRDD.originStats`); in iterative loops that estimate is
    * squared by every round's join and eventually overflows BigInteger
    * (see CheckpointStats). Strip it — AQE re-plans from true runtime
    * sizes, so the carried estimate only ever hurt. */
  private def reset(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CheckpointStats.dropOriginStats(df)

  /** Free the storage behind a frame returned by [[materialize]] — the
    * local-checkpoint blocks, or the reliable-checkpoint files when
    * `spark.graft.checkpointDir` was in force. For iterative ops (BPE,
    * connected components) each round's materialize supersedes the
    * previous one; without an explicit release the old iterate's blocks
    * stay pinned until the ContextCleaner happens to collect the
    * reference — unbounded at large iteration counts, and reliable
    * checkpoint FILES are never collected at all without
    * `spark.cleaner.referenceTracking.cleanCheckpoints`.
    *
    * DESTRUCTIVE: a checkpointed frame has no lineage to recompute from,
    * so only release a frame nothing will read again. No-op on frames
    * that did not come from [[materialize]]. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = lr.rdd
        rdd.getCheckpointFile.foreach { path =>
          val p = new org.apache.hadoop.fs.Path(path)
          try p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch { case _: java.io.IOException => () } // best-effort
        }
        rdd.unpersist(blocking = false)
        ()
      case _ => ()
    }

  /** Emptiness probe for skip-on-empty guards. `Dataset.isEmpty` runs
    * `executeTake(1)` on a CollectLimitExec, which does not override
    * it: the probe falls through to `doExecute`, computes EVERY
    * partition and shuffles the results into one. `limit(1).collect()`
    * takes CollectLimitExec's `executeCollect` path instead, which
    * scans partitions incrementally — one task when the first
    * partition holds a row. The empty projection keeps the probe from
    * materializing any column. */
  def isEmpty(ds: Dataset[_]): Boolean =
    ds.select().limit(1).collect().isEmpty

  /** Spread a small input across the session's cores before heavy
    * per-row compute (tokenize → shingle → hash chains): repartition
    * ONLY when the planned scan has fewer than min(parallelism, 8)
    * partitions — the small-file case, where one 1.5 MB parquet file is
    * one partition and the whole scan stage runs on one core. The
    * absolute floor of 8 keeps this a NO-OP on any real corpus (hundreds
    * of splits on a cluster with more cores than splits would otherwise
    * re-shuffle full text — exactly what these operators promise not to
    * do); when it does fire, the input is by construction a handful of
    * row groups, so what shuffles is small.
    *
    * The width probe is PLAN-SIDE ([[planWidth]]), never `df.rdd`: under
    * AQE, `.rdd` on a plan containing exchanges eagerly executes those
    * shuffle stages at plan-construction time (a side-effect job whose
    * work the returned frame then redoes), and it throws on streaming
    * frames. Unknown-width plans (DSv2 relations, exotic nodes) no-op —
    * the safe default, since spreading only ever helps tiny inputs. */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val sc = df.sparkSession.sparkContext
      val target = sc.defaultParallelism
      planWidth(df.queryExecution.optimizedPlan, df.sparkSession) match {
        case Some(n) if n < math.min(target, 8) => df.repartition(target)
        case _ => df
      }
    }
  }

  /** Static partition-count estimate for a logical plan, top-down:
    * explicit repartitions pin the width; shuffle-inducing operators
    * produce `spark.sql.shuffle.partitions`; file scans reproduce
    * Spark's own split formula (`FilePartition.maxSplitBytes`: bin-pack
    * `size + openCost` into `min(maxPartitionBytes, max(openCost,
    * bytesPerCore))` bins); `None` = can't tell (caller must not assume
    * small). Estimation only — fine for a fire/no-fire threshold, not
    * an exact split count. */
  private[graft] def planWidth(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      spark: SparkSession): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val conf = spark.sessionState.conf
    plan match {
      case r: Repartition => Some(r.numPartitions.toLong)
      case r: RepartitionByExpression =>
        Some(r.optNumPartitions.getOrElse(conf.numShufflePartitions).toLong)
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Deduplicate =>
        Some(conf.numShufflePartitions.toLong)
      case _: GlobalLimit => Some(1L) // single-partition collect shape
      case r: Range =>
        Some(r.numSlices.getOrElse(spark.sparkContext.defaultParallelism)
          .toLong)
      case _: LocalRelation | _: OneRowRelation => Some(1L)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val bytes = math.max(0L, fs.location.sizeInBytes)
          val nFiles = math.max(1L, fs.location.inputFiles.length.toLong)
          val open = math.max(0L, conf.filesOpenCostInBytes)
          val bytesPerCore =
            (bytes + nFiles * open) / math.max(1,
              spark.sparkContext.defaultParallelism)
          val split = math.max(1L, math.min(conf.filesMaxPartitionBytes,
            math.max(open, bytesPerCore)))
          Some((bytes + nFiles * open + split - 1) / split)
        case _ => None
      }
      case u: Union =>
        val widths = u.children.map(planWidth(_, spark))
        if (widths.forall(_.isDefined)) Some(widths.flatten.sum) else None
      case p if p.children.size == 1 => planWidth(p.children.head, spark)
      case _ => None
    }
  }

  /** The fixture tables (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read parquet with the schema taken from one footer on the driver.
    * `spark.read.parquet` infers the schema with a Spark job
    * (`mergeSchemasInParallel`), and that job's closure carries the whole
    * Hadoop conf; a footer read runs none. The footer is the one Spark's
    * inference would read (see [[footerSchema]]), so the frame is the
    * same. Without one (a missing path, an empty directory, a glob, an
    * unreadable footer) the read is plain `spark.read.parquet`, which
    * fails as it always did. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The data schema Spark infers for `paths` (without `mergeSchema`),
    * read from one footer: `_common_metadata`, else `_metadata`, else the
    * first data file by path string, among the files Spark's own file
    * index lists (hidden names skipped, partition directories walked).
    * The footer goes through `ParquetFileFormat.readSchemaFromFooter`
    * with the converter `mergeSchemasInParallel` builds, so the Spark
    * schema key and the nanos, NTZ and int96 confs act as they do in
    * inference. Partition columns are not in a footer; Spark adds them
    * from the directory names as before. None when there is no file to
    * read: a missing path lists empty. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    if (paths.isEmpty || paths.exists(_.exists(GlobChars.contains(_))))
      return None
    try {
      val index = new InMemoryFileIndex(spark,
        paths.map(new org.apache.hadoop.fs.Path(_)), Map.empty, None)
      val (summaries, data) = index.allFiles().sortBy(_.getPath.toString)
        .partition(f => Summaries.contains(f.getPath.getName))
      Summaries.flatMap(n => summaries.find(_.getPath.getName == n))
        .headOption.orElse(data.headOption)
        .map { f =>
          val sql = spark.sessionState.conf
          val footer = new org.apache.parquet.hadoop.Footer(f.getPath,
            ParquetFooterReader.readFooter(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f,
                spark.sessionState.newHadoopConf()),
              org.apache.parquet.format.converter.ParquetMetadataConverter
                .SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = sql.isParquetBinaryAsString,
              assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
              inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
              nanosAsLong = sql.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                sql.parquetReaderRespectUnknownTypeAnnotation))
        }
    } catch {
      // Spark's own read then infers, and fails, as it always did.
      case NonFatal(_) => None
    }
  }

  /** Parquet's summary files, in the order Spark's inference prefers. */
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** Hadoop's glob metacharacters (`GlobPattern`). */
  private val GlobChars: Set[Char] = "{}[]*?\\".toSet

  /** Read one fixture table from a scale-factor directory. Nanosecond
    * parquet timestamps (read as long via `nanosAsLong`) are normalized to
    * Spark microsecond timestamps with integer division — no double
    * round-trip, matching DuckDB's `CAST(ts AS TIMESTAMP)` truncation.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    else if (name == "events" &&
        df.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampNTZType &&
        spark.conf.get("spark.sql.session.timeZone") == "UTC")
      // Session created outside Engine.session (NTZ inference on):
      // normalize to the engine-wide TIMESTAMP family. The cast
      // interprets naive values in the SESSION time zone, so it is
      // value-preserving vs the naive oracle only under UTC — which
      // the guard requires. A non-UTC session keeps the NTZ column
      // untouched (loud NTZ type errors downstream beat silently
      // offset instants).
      df.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    else df
  }

  /** Register every fixture table under `dir` as a temp view so that
    * arbitrary SQL (the reference's S6 passthrough surface) runs natively.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { n =>
      table(spark, dir, n).createOrReplaceTempView(n)
    }

  /** S6 replacement: arbitrary SQL over the registered views. Mirrors the
    * reference's query-path error contract (log + None) vs the load path
    * which throws — SURVEY §7.4.7.
    */
  def sql(spark: SparkSession, query: String): Option[DataFrame] =
    try Some(spark.sql(query))
    catch {
      case e: Exception =>
        System.err.println(s"[engine.sql] query failed: ${e.getMessage}")
        None
    }
}
