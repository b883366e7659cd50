package graft.sources.scrape

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.engine.Engine

/** S9 — scrape-manifest source: the engine-side half of the reference's
  * web-ingest stage. The reference crawls with driver-side Selenium
  * spiders (`neulix_dataflow/spiders/base_spider.py:5-16`,
  * `example_spider.py:4-8`) and lands what it fetched; crawling itself
  * is NOT an engine operator (no Selenium on executors — SURVEY scopes
  * it to the DAG's ingest task). What the ENGINE owns is everything
  * after the crawl: a batch of landed pages, recorded in a manifest,
  * becomes a DataFrame without a driver funnel.
  *
  * The manifest is JSON lines — one `{url, path, fetched_at}` object
  * per fetched page ([[ScrapeManifest.write]] produces one; the crawl
  * task appends as it lands pages). The source reads the manifest
  * driver-side (a crawl batch is bounded by contract — it lists ONE
  * crawl's output, not a corpus), ships entry chunks to executors as
  * input partitions, and the EXECUTORS open the landed files: page
  * bodies never pass through the driver, so a 10k-page crawl reads on
  * 10k/[[ScrapeScan.EntriesPerPartition]] cores.
  *
  * Column pruning reaches file IO: a metadata-only query (urls, fetch
  * times) never opens the landed pages at all. A manifest entry whose
  * landed file has gone missing yields a NULL `content` (logged) rather
  * than failing the scan — the ingest posture of the reference's
  * file-load path (`db_core.py:116-117`, swallow-and-log), and the
  * downstream quality gate drops nulls anyway.
  *
  * Usage: `spark.read.format("graft-scrape").option("path", manifest)`.
  */
class ScrapeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-scrape"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-scrape requires a path (the manifest file)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ScrapeManifest.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ScrapeTable(properties.get("path"))
}

/** Manifest helpers: the write side is what a crawl task calls per
  * landed page batch; the read side is the planner's. */
object ScrapeManifest {
  /** One landed page: where it came from, where it landed, when. */
  case class Entry(url: String, path: String, fetchedAtMicros: Long)

  val Schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("fetched_at", TimestampType, nullable = false),
    StructField("content", StringType, nullable = true)))

  /** Write a manifest file (JSON lines, one entry per landed page). */
  def write(entries: Seq[(String, String, java.time.Instant)],
            manifestPath: String): Unit = {
    val mapper = new ObjectMapper()
    val p = new Path(manifestPath)
    val out = p.getFileSystem(Engine.hadoopConf).create(p, true)
    try {
      val w = new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8)
      entries.foreach { case (url, path, at) =>
        val node = mapper.createObjectNode()
        node.put("url", url)
        node.put("path", path)
        node.put("fetched_at", at.toString) // ISO-8601, UTC
        w.write(mapper.writeValueAsString(node))
        w.write("\n")
      }
      w.flush()
    } finally out.close()
  }

  /** Parse the manifest. `fetched_at` accepts ISO-8601 instants
    * (`2024-01-01T00:00:00Z`) or epoch milliseconds — the two shapes a
    * crawler plausibly records. */
  def read(manifestPath: String): Seq[Entry] = {
    val mapper = new ObjectMapper()
    val p = new Path(manifestPath)
    val in = new BufferedReader(new InputStreamReader(
      p.getFileSystem(Engine.hadoopConf).open(p), StandardCharsets.UTF_8))
    try {
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.trim.nonEmpty)
        .map { line =>
          val node = mapper.readTree(line)
          require(node.hasNonNull("url") && node.hasNonNull("path") &&
            node.hasNonNull("fetched_at"),
            s"scrape manifest line missing url/path/fetched_at: $line")
          val at = node.get("fetched_at")
          val micros =
            if (at.isNumber) at.asLong() * 1000L
            else java.time.Instant.parse(at.asText()).toEpochMilli * 1000L
          Entry(node.get("url").asText(), node.get("path").asText(), micros)
        }.toVector
    } finally in.close()
  }
}

private[scrape] class ScrapeTable(path: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-scrape `$path`"
  override def schema(): StructType = ScrapeManifest.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScrapeScanBuilder(path)
}

private[scrape] class ScrapeScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ScrapeManifest.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ScrapeScan(path, required)
}

private[scrape] case class ScrapeChunk(
    entries: Seq[ScrapeManifest.Entry]) extends InputPartition

private[scrape] object ScrapeScan {
  /** Entries per input partition: small enough that a modest crawl
    * still fans out across the cluster, large enough that the per-task
    * overhead stays amortized over file opens. */
  val EntriesPerPartition = 32
}

private[scrape] class ScrapeScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScrapeScan manifest=$path required=[${
      required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    ScrapeManifest.read(path)
      .grouped(ScrapeScan.EntriesPerPartition)
      .map(ScrapeChunk(_)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ScrapeReaderFactory(required,
      new SerializableConfiguration(Engine.hadoopConf))
}

private[scrape] class ScrapeReaderFactory(required: StructType,
                                          conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ScrapeChunkReader(p.asInstanceOf[ScrapeChunk].entries, required,
      conf.value)
}

/** Emits one row per manifest entry; opens the landed file only when
  * `content` survived column pruning. */
private[scrape] class ScrapeChunkReader(
    entries: Seq[ScrapeManifest.Entry], required: StructType,
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val wantContent = required.fieldNames.contains("content")
  private val it = entries.iterator
  private var current: InternalRow = _

  private def readContent(file: String): UTF8String =
    try {
      val p = new Path(file)
      val fs = p.getFileSystem(conf)
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        UTF8String.fromBytes(out.toByteArray)
      } finally in.close()
    } catch {
      case e: java.io.IOException =>
        System.err.println(
          s"[graft-scrape] $file unreadable, content=null: ${e.getMessage}")
        null
    }

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val e = it.next()
    val row = new GenericInternalRow(required.length)
    var i = 0
    required.fields.foreach { f =>
      val v: Any = f.name match {
        case "url" => UTF8String.fromString(e.url)
        case "path" => UTF8String.fromString(e.path)
        case "fetched_at" => e.fetchedAtMicros
        case "content" => if (wantContent) readContent(e.path) else null
        case other => throw new IllegalArgumentException(
          s"graft-scrape: unknown column $other")
      }
      row.update(i, v)
      i += 1
    }
    current = row
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
