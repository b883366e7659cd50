package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Engine

/** Table-maintenance operators — the jobs a 100 TB parquet estate needs
  * on a schedule, independent of any single query:
  *
  *  - [[compact]]: the small-file problem. Streaming ingest and
  *    fine-grained appends leave thousands of KB-sized files per
  *    partition; each costs a task + an open + a footer read, so scan
  *    parallelism degenerates into scheduler overhead. Compaction
  *    rewrites a directory into ~targetBytes files via the same
  *    copy-on-write + atomic-swap used by DML.
  *  - [[sortedWrite]]: row-group min/max pruning only helps when data is
  *    clustered — writing sorted-within-partitions gives parquet stats
  *    real selectivity (a filter on the sort key skips whole row groups).
  */
object Maintenance {

  /** Rewrite `path` into files of ~`targetBytes` (default 128 MB — the
    * classic HDFS-block-aligned size). File count derives from the
    * directory's actual bytes, so compaction is idempotent: a compacted
    * table maps to the same file count again. Returns the new file count.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hive-partitioned table: recurse into each name=value directory and
    // compact it independently — a flat rewrite at the root would read
    // the partition columns as data and write back WITHOUT the directory
    // layout, silently destroying partition pruning. Per-partition
    // compaction is also the right unit of work at scale (bounded,
    // restartable, parallelizable across jobs).
    val partDirs = fs.listStatus(p)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    if (partDirs.nonEmpty) {
      partDirs.map(d => compact(spark, d.getPath.toString, targetBytes)).sum
    } else {
      val bytes = fs.getContentSummary(p).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val df = Engine.readParquet(spark, path)
      rewriteSwap(spark, path, df.repartition(nFiles))
      nFiles
    }
  }

  /** Write `df` with rows sorted by `sortCols` WITHIN each output file:
    * parquet records per-row-group min/max for every column, and a scan
    * filtering on a sort column skips row groups wholesale. Cost is one
    * local sort per partition — no shuffle beyond the optional
    * `repartitionBy` (pass a column list to cluster related keys into the
    * same files first, e.g. the filter column itself). */
  def sortedWrite(df: DataFrame, path: String, sortCols: Seq[String],
                  behavior: String = "replace",
                  repartitionBy: Seq[String] = Nil): Boolean = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (repartitionBy.nonEmpty)
        df.repartition(repartitionBy.map(col): _*)
      else df
    Sinks.writeParquet(
      clustered.sortWithinPartitions(sortCols.map(col): _*),
      path, behavior)
  }

  /** Copy-on-write rewrite with atomic swap (same contract as Dml). */
  private def rewriteSwap(spark: SparkSession, tablePath: String,
                          out: DataFrame): Unit = {
    val table = new Path(tablePath)
    val tmp = new Path(tablePath + "._maint_tmp")
    val old = new Path(tablePath + "._maint_old")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true); fs.delete(old, true)
    out.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(table, old))
      throw new java.io.IOException(s"compact swap failed: $table")
    if (!fs.rename(tmp, table)) {
      fs.rename(old, table)
      throw new java.io.IOException(s"compact swap failed: $tmp")
    }
    fs.delete(old, true)
  }
}
