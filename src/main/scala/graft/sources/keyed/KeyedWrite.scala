package graft.sources.keyed

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.engine.Engine

/** DSv2 write path for the keyed store: each task writes one JSON-lines
  * shard (`shard-<partition>-<task>.json`), the driver commit publishes
  * the schema sidecar. Executors write their partitions directly — no
  * driver funnel — and a failed task's shard is simply never published
  * (files are written to a task-unique name; abort deletes it), giving
  * the usual task-commit idempotence.
  *
  * Truncate (SaveMode.Overwrite / `truncate()`) clears existing shards at
  * commit time, mirroring the reference's `replace` load behavior
  * (`core/utils/db_core.py:349`).
  */
private[keyed] class KeyedWriteBuilder(schema: StructType, path: String)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KeyedBatchWrite(schema, path,
      doTruncate)
  }
}

private[keyed] case class KeyedCommitMessage(file: String)
  extends WriterCommitMessage

private[keyed] class KeyedBatchWrite(schema: StructType, path: String,
                                     truncate: Boolean) extends BatchWrite {

  private val conf = Engine.hadoopConf

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new KeyedWriterFactory(schema, path, new SerializableConfiguration(conf))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncate) {
      // compare by shard NAME (task-unique): listStatus returns
      // fully-qualified URIs while commit messages may carry scheme-less
      // paths — a string compare on full paths would delete the new shards
      val keep = messages
        .map(m => new Path(m.asInstanceOf[KeyedCommitMessage].file).getName)
        .toSet
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          if (st.isFile && !keep.contains(name) &&
              name != KeyedStore.SchemaFile)
            fs.delete(st.getPath, false)
        }
    }
    val out = fs.create(new Path(dir, KeyedStore.SchemaFile), true)
    try out.write(schema.toDDL.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    messages.foreach {
      case KeyedCommitMessage(f) if f != null =>
        fs.delete(new Path(f), false)
      case _ =>
    }
  }
}

private[keyed] class KeyedWriterFactory(schema: StructType, path: String,
                                        conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new KeyedShardWriter(schema, path, partitionId, taskId, conf.value)
}

/** Writes one shard as JSON lines; field values come straight off the
  * InternalRow per the logical schema. */
private[keyed] class KeyedShardWriter(schema: StructType, path: String,
                                      partitionId: Int, taskId: Long,
                                      conf: Configuration)
    extends DataWriter[InternalRow] {

  private val file = new Path(path,
    f"shard-$partitionId%05d-$taskId.json")
  private val fs = file.getFileSystem(conf)
  private val out = fs.create(file, true)

  private def jsonValue(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "null"
    else dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case StringType =>
        val s = row.getUTF8String(i).toString
        "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      case other => throw new IllegalArgumentException(
        s"graft-keyed write: unsupported field type $other")
    }

  override def write(row: InternalRow): Unit = {
    val line = schema.fields.zipWithIndex.map { case (f, i) =>
      "\"" + f.name + "\":" + jsonValue(row, i, f.dataType)
    }.mkString("{", ",", "}\n")
    out.write(line.getBytes(StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    KeyedCommitMessage(file.toString)
  }

  override def abort(): Unit = {
    out.close()
    if (fs.exists(file)) fs.delete(file, false)
  }

  override def close(): Unit = ()
}
