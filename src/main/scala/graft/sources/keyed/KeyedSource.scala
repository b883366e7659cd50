package graft.sources.keyed

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.engine.Engine

/** S7 — keyed-document-store source as a real DataSource V2 connector with
  * filter / limit / top-N / column pushdown, replacing the reference's
  * Firestore query builder (`core/utils/db_core.py:235-270`: conjunctive
  * `==` filters at `:253-255`, order-by asc/desc `:257-259`, limit
  * `:261-262` — all evaluated BY THE STORE, not the client).
  *
  * The store itself is a JSON-lines directory (each file = one shard of
  * documents; [[KeyedStore.write]] materializes one from a DataFrame and
  * records the schema as DDL). What matters architecturally is the scan
  * contract: Catalyst hands the source its equality predicates, required
  * columns, limit, and composite-key top-N, and the source evaluates them
  * during the shard scan — so at 100 TB the executors read and decode only
  * the surviving documents instead of materializing the collection and
  * filtering post-hoc. Unsupported predicates are returned to Spark and
  * evaluated post-scan (standard DSv2 split), and top-N is declared
  * partially-pushed: each shard yields its local top-N, Spark merges.
  *
  * Usage: `spark.read.format("graft-keyed").load(path)`.
  */
class KeyedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-keyed"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-keyed requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedStore.readSchema(path(options))

  /** Writes supply their own schema (a fresh store has no sidecar yet). */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KeyedTable(schema, properties.get("path"))
}

/** Store helpers: materialize a DataFrame as a keyed store directory and
  * read back its recorded schema. */
object KeyedStore {
  val SchemaFile = "_schema.ddl"

  /** Write `df` as a JSON-lines shard directory + schema sidecar. */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode(SaveMode.Overwrite).json(path)
    val fs = new Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path, SchemaFile), true)
    try out.write(df.schema.toDDL.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readSchema(path: String): StructType = {
    val p = new Path(path, SchemaFile)
    val fs = p.getFileSystem(Engine.hadoopConf)
    val in = new BufferedReader(new InputStreamReader(fs.open(p),
      StandardCharsets.UTF_8))
    try StructType.fromDDL(in.lines().toArray.mkString("\n"))
    finally in.close()
  }

  private[keyed] def dataFiles(path: String): Seq[String] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(Engine.hadoopConf)
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }
}

private[keyed] class KeyedTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-keyed `$path`"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedScanBuilder(schema, path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KeyedWriteBuilder(info.schema(), path)
}

private[keyed] class KeyedScanBuilder(tableSchema: StructType, path: String)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var limit: Option[Int] = None
  // composite ordering: (field, descending) per sort level, and n
  private var topN: Option[(Seq[(String, Boolean)], Int)] = None

  /** Conjunctive equality predicates are the store's native surface
    * (`db_core.py:253-255`); IsNotNull is accepted too — Catalyst infers
    * one next to every null-intolerant equality, and rejecting it would
    * leave a residual post-scan Filter that blocks limit/top-N pushdown
    * (the Sort must sit directly on the scan relation to push). Everything
    * else goes back to Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(attr, _) => tableSchema.fieldNames.contains(attr)
      case org.apache.spark.sql.sources.IsNotNull(attr) =>
        tableSchema.fieldNames.contains(attr)
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Composite order-by with Spark's default null ordering per level.
    * The reference store's order_by is one field asc/desc
    * (`db_core.py:257-259`); the scan generalizes to any prefix of plain
    * column references so deterministic tie-broken top-N (the common
    * `ORDER BY metric DESC, id` shape) also evaluates store-side. Any
    * non-column or non-default-nulls level declines the whole push. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val levels = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            tableSchema.fieldNames.contains(nr.fieldNames()(0)) =>
          val desc = o.direction() == SortDirection.DESCENDING
          val defaultNulls = // NULLS FIRST for asc, NULLS LAST for desc
            if (desc) "NULLS LAST" else "NULLS FIRST"
          if (o.nullOrdering().toString == defaultNulls)
            Some((nr.fieldNames()(0), desc))
          else None
        case _ => None
      }
    }
    if (levels.nonEmpty && levels.forall(_.isDefined)) {
      topN = Some((levels.flatten, n)); true
    } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new KeyedScan(tableSchema, required, path, pushed, limit, topN)
}

private[keyed] case class KeyedShard(file: String) extends InputPartition

private[keyed] class KeyedScan(tableSchema: StructType, required: StructType,
                               path: String, filters: Array[Filter],
                               limit: Option[Int],
                               topN: Option[(Seq[(String, Boolean)], Int)])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val topNDesc = topN.map { case (orders, n) =>
      orders.map { case (c, d) => s"$c ${if (d) "DESC" else "ASC"}" }
        .mkString("[", ", ", s"] LIMIT $n")
    }.getOrElse("None")
    s"GraftKeyedScan pushedFilters=[${filters.mkString(", ")}] " +
      s"pushedLimit=$limit pushedTopN=$topNDesc required=[${
        required.fieldNames.mkString(",")}]"
  }

  override def planInputPartitions(): Array[InputPartition] =
    KeyedStore.dataFiles(path).map(KeyedShard(_)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedReaderFactory(tableSchema, required, filters, limit, topN,
      new SerializableConfiguration(Engine.hadoopConf))
}

private[keyed] class KeyedReaderFactory(tableSchema: StructType,
                                        required: StructType,
                                        filters: Array[Filter],
                                        limit: Option[Int],
                                        topN: Option[(Seq[(String, Boolean)], Int)],
                                        conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new KeyedShardReader(p.asInstanceOf[KeyedShard].file, tableSchema,
      required, filters, limit, topN, conf.value)
}

/** Reads one JSON-lines shard, evaluating pushed predicates per document
  * during the scan and keeping at most limit/top-N survivors — the bounded
  * buffer means a shard never materializes in memory. */
private[keyed] class KeyedShardReader(file: String, tableSchema: StructType,
                                      required: StructType,
                                      filters: Array[Filter],
                                      limit: Option[Int],
                                      topN: Option[(Seq[(String, Boolean)], Int)],
                                      conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val reader: BufferedReader = {
    val p = new Path(file)
    new BufferedReader(new InputStreamReader(
      p.getFileSystem(conf).open(p), StandardCharsets.UTF_8))
  }

  private def extract(node: JsonNode, field: StructField): Any = {
    val v = node.get(field.name)
    if (v == null || v.isNull) null
    else field.dataType match {
      case LongType => v.asLong()
      case IntegerType => v.asInt()
      case DoubleType => v.asDouble()
      case FloatType => v.asDouble().toFloat
      case BooleanType => v.asBoolean()
      case StringType => v.asText()
      case dt => throw new IllegalArgumentException(
        s"graft-keyed: unsupported document field type $dt")
    }
  }

  private def matches(node: JsonNode): Boolean = filters.forall {
    case EqualTo(attr, value) =>
      val f = tableSchema(attr)
      val v = extract(node, f)
      v != null && v == value
    case org.apache.spark.sql.sources.IsNotNull(attr) =>
      extract(node, tableSchema(attr)) != null
    case _ => true
  }

  private def toRow(node: JsonNode): InternalRow =
    new GenericInternalRow(required.fields.map { f =>
      extract(node, f) match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
    }.asInstanceOf[Array[Any]])

  /** Iterator over matching documents, bounded by pushed limit/top-N. */
  private val docs: Iterator[InternalRow] = {
    val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(mapper.readTree).filter(matches)
    topN match {
      case Some((orders, n)) =>
        // bounded heap of the n best per shard (partial top-N: Spark
        // merges and re-sorts across shards). Composite lexicographic
        // key; per level, nulls rank per Spark's default ordering for
        // the direction.
        val fields = orders.map { case (c, _) => tableSchema(c) }
        val levelOrds: IndexedSeq[Ordering[Any]] =
          orders.zip(fields).map { case ((_, desc), f) =>
            val base: Ordering[Any] = f.dataType match {
              case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
              case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
              case DoubleType => Ordering.Double.TotalOrdering
                .on[Any](_.asInstanceOf[Double])
              case FloatType => Ordering.Float.TotalOrdering
                .on[Any](_.asInstanceOf[Float])
              case StringType => Ordering.String.on[Any](_.asInstanceOf[String])
              case BooleanType => Ordering.Boolean.on[Any](_.asInstanceOf[Boolean])
              case dt => throw new IllegalArgumentException(s"unorderable $dt")
            }
            val nullsSmallest: Ordering[Any] = (a, b) => (a, b) match {
              case (null, null) => 0
              case (null, _) => -1
              case (_, null) => 1
              case _ => base.compare(a, b)
            }
            if (desc) nullsSmallest.reverse else nullsSmallest
          }.toIndexedSeq
        val keyOrd: Ordering[IndexedSeq[Any]] = (a, b) => {
          var i = 0; var c = 0
          while (i < levelOrds.length && c == 0) {
            c = levelOrds(i).compare(a(i), b(i)); i += 1
          }
          c
        }
        // heap head = worst kept (max in keep-order)
        val pairOrd: Ordering[(IndexedSeq[Any], InternalRow)] =
          Ordering.by[(IndexedSeq[Any], InternalRow), IndexedSeq[Any]](
            _._1)(keyOrd)
        val heap =
          mutable.PriorityQueue.empty[(IndexedSeq[Any], InternalRow)](pairOrd)
        lines.foreach { node =>
          val key: IndexedSeq[Any] = fields.map(extract(node, _)).toIndexedSeq
          if (heap.size < n) heap.enqueue((key, toRow(node)))
          else if (keyOrd.lt(key, heap.head._1)) {
            heap.dequeue(); heap.enqueue((key, toRow(node)))
          }
        }
        heap.iterator.map(_._2).toIndexedSeq.iterator
      case None =>
        val base = lines.map(toRow)
        limit.map(base.take).getOrElse(base)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (docs.hasNext) { current = docs.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
