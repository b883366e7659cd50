package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.Upsert

object UpsertSpec {
  /** Records every commit's size; local-mode executors share the JVM so a
    * static concurrent queue observes all partitions. */
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  class RecordingStore extends Upsert.KeyedStore {
    override def setAll(batch: Upsert.Batch): Unit =
      batchSizes.add(batch.size)
  }
}

/** K9 keyed-upsert semantics vs `core/utils/db_core.py:272-337`. */
class UpsertSpec extends SparkSpec {

  test("upsert batches per partition at the batch size with a final flush (db_core.py:321-331)") {
    import spark.implicits._
    UpsertSpec.batchSizes.clear()
    // 1 partition of 1203 rows, batch 500 → commits of 500, 500, 203.
    val df = spark.range(1203).toDF("id").coalesce(1)
    assert(Upsert.keyedUpsert(df, "id", new UpsertSpec.RecordingStore,
      500) == 1203L)
    val sizes = UpsertSpec.batchSizes.toArray(Array.empty[Integer]).map(_.toInt)
    assert(sizes.sorted.toSeq == Seq(203, 500, 500))
  }

  test("missing id column aborts without writing (db_core.py:293-295)") {
    import spark.implicits._
    UpsertSpec.batchSizes.clear()
    val df = Seq((1, "a")).toDF("k", "v")
    assert(Upsert.keyedUpsert(df, "nope", new UpsertSpec.RecordingStore) == 0L)
    assert(UpsertSpec.batchSizes.isEmpty)
  }

  test("FileStore upserts: same id overwrites, docs are row JSON") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert").toString
    val store = new Upsert.FileStore(dir)
    Upsert.keyedUpsert(Seq((1, "old"), (2, "two")).toDF("id", "v"), "id", store)
    Upsert.keyedUpsert(Seq((1, "new")).toDF("id", "v"), "id", store)
    val docs = new java.io.File(dir).listFiles().map { f =>
      f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")
    }.toMap
    assert(docs.keySet == Set("1.json", "2.json"))
    assert(docs("1.json").contains("\"v\":\"new\""))
    assert(docs("2.json").contains("\"v\":\"two\""))
  }
}
