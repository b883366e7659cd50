package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K9 — keyed upsert (merge) sink, reproducing the Firestore batch-set
  * loop at `core/utils/db_core.py:272-337`: each row becomes a document
  * keyed by `str(row[id_column])`, written insert-or-overwrite, committed
  * in batches of 500 (`db_core.py:321-326`) with a final flush
  * (`db_core.py:328-331`).
  *
  * Spark-first shape: the row→document conversion is a distributed
  * projection (`to_json(struct(*))`, codegen'd), and the batched client
  * writes run in `foreachPartition` — every executor talks to the store
  * directly, nothing funnels through the driver. At 1000 executors this is
  * exactly the fan-out a document store wants (each partition = one client,
  * batches amortize RPC cost).
  */
object Upsert {

  /** Batch size mandated by the reference (`db_core.py:322`). */
  val DefaultBatchSize = 500

  /** One commit's worth of (docId, jsonDoc) pairs. */
  type Batch = Seq[(String, String)]

  /** Target store abstraction: a single batched, idempotent set-all.
    * Implementations must be serializable — instances ship to executors. */
  trait KeyedStore extends Serializable {
    /** Insert-or-overwrite every (id, doc) in one commit. */
    def setAll(batch: Batch): Unit
  }

  /** Upsert `df` into `store` keyed by `idColumn` and return the number
    * of rows written, counted by an accumulator inside the write job (an
    * action, so a retried task's rows count once) — callers branch on
    * it instead of probing `df` for rows first. Returns 0 without
    * writing when the id column is missing, mirroring the reference's
    * abort path (`db_core.py:293-295`).
    */
  def keyedUpsert(df: DataFrame, idColumn: String, store: KeyedStore,
                  batchSize: Int = DefaultBatchSize): Long = {
    if (!df.columns.contains(idColumn)) return 0L
    val docs = df.select(
      col(idColumn).cast("string").as("_id"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("_doc"))
    val written = df.sparkSession.sparkContext.longAccumulator
    docs.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.map(r => (r.getString(0), r.getString(1)))
        .grouped(batchSize)
        .foreach { b => store.setAll(b); written.add(b.size.toLong) }
    }
    written.sum
  }

  /** Filesystem-backed KeyedStore: one file per document id under `dir`.
    * The zero-egress stand-in for a document DB — used by tests and as a
    * local merge target (id collisions overwrite, i.e. true upsert).
    * Ids are sanitized for path safety; the doc body is the JSON string.
    */
  final class FileStore(dir: String) extends KeyedStore {
    new java.io.File(dir).mkdirs()
    override def setAll(batch: Batch): Unit = batch.foreach { case (id, doc) =>
      val safe = java.net.URLEncoder.encode(id, "UTF-8")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$safe.json"),
        doc.getBytes("UTF-8"))
    }
  }
}
