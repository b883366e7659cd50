package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.transform.Sanitize

/** K1-K8 — file/table sinks with the reference's load behaviors.
  *
  * Save-mode surface mirrors `core/utils/db_core.py:349,360`
  * (`if_exists = fail | replace | append`) and the empty-input guard at
  * `db_core.py:99-101,351-353` (empty frame → skip the write, don't fail).
  *
  * Scale notes: every writer here is a plain distributed `df.write` — no
  * driver collection, no coalesce; output file count follows the upstream
  * partitioning (callers with tiny results should `.coalesce` themselves).
  */
object Sinks {

  /** `fail|replace|append` → SaveMode (`db_core.py:349`). Unknown behaviors
    * are an immediate error, matching pandas-gbq's ValueError. */
  def saveMode(behavior: String): SaveMode = behavior.trim.toLowerCase match {
    case "fail" => SaveMode.ErrorIfExists
    case "replace" => SaveMode.Overwrite
    case "append" => SaveMode.Append
    case other => throw new IllegalArgumentException(
      s"unknown loading behavior '$other' (expected fail|replace|append)")
  }

  /** K1/K2 — parquet write; compression ∈ snappy|gzip|lz4|zstd|none
    * (`storage.py:102` names snappy/gzip/brotli/lz4; brotli needs a codec
    * jar Spark doesn't ship, so it is rejected up front). Returns true when
    * the write happened, false when the empty-guard skipped it. */
  def writeParquet(df: DataFrame, path: String, behavior: String = "replace",
                   compression: String = "snappy",
                   partitionBy: Seq[String] = Nil): Boolean =
    guarded(df) { df =>
      val w = df.write.mode(saveMode(behavior))
        .option("compression", compression)
      // Hive-style directory partitioning: the 100 TB layout primitive —
      // a reader's filter on the partition column prunes whole
      // directories at planning time (PartitionFilters in the scan)
      // instead of scanning and discarding. Choose low-cardinality
      // columns (date, source); high-cardinality keys → bucketing
      // (sources/Bucketing) instead.
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path)
    }

  /** K3 — CSV write with delimiter + header (`data_core.py:57-63`). */
  def writeCsv(df: DataFrame, path: String, behavior: String = "replace",
               delimiter: String = ","): Boolean =
    guarded(df) {
      _.write.mode(saveMode(behavior))
        .option("delimiter", delimiter).option("header", "true").csv(path)
    }

  /** K4 — JSON write; Spark emits UTF-8 natively, matching
    * `force_ascii=False` (`data_core.py:85`). */
  def writeJson(df: DataFrame, path: String, behavior: String = "replace"): Boolean =
    guarded(df) { _.write.mode(saveMode(behavior)).json(path) }

  /** K5 — text write: one string column, line per row (`data_core.py:98-105`). */
  def writeText(df: DataFrame, path: String, behavior: String = "replace"): Boolean =
    guarded(df) { _.write.mode(saveMode(behavior)).text(path) }

  /** K7 — "load a DataFrame into a destination table": sanitize column
    * names + nulls exactly like the reference load path
    * (`db_core.py:104-107`), then write parquet under the warehouse dir.
    * Raises on write failure (the reference's DF-load path re-raises,
    * `db_core.py:366-367`, unlike the file path — SURVEY §7.4.7). */
  def loadDataFrame(df: DataFrame, tablePath: String, behavior: String): Boolean = {
    val clean = Sanitize.sanitizeNulls(Sanitize.sanitizeColumnNames(df))
    writeParquet(clean, tablePath, behavior)
  }

  /** JDBC sink with the reference's `fail|replace|append` behaviors
    * (`db_core.py:349,360` — its result store is PostgreSQL,
    * `README.md:73`). Delegates to `df.write.jdbc`: executors write their
    * partitions concurrently (no driver funnel); `replace` maps to
    * SaveMode.Overwrite (drop + recreate, matching pandas `if_exists`).
    * Batch size / isolation tune via `options`
    * (`batchsize`, `isolationLevel`). Same empty-input guard as the file
    * sinks. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                behavior: String = "replace",
                options: Map[String, String] = Map.empty): Boolean =
    guarded(df) { df =>
      val props = new java.util.Properties()
      options.foreach { case (k, v) => props.setProperty(k, v) }
      df.write.mode(saveMode(behavior)).jdbc(url, table, props)
    }

  /** Empty-input guard (`db_core.py:99-101`): skip the write for an
    * empty frame. The frame's plan runs once
    * ([[org.apache.spark.sql.graft.RunOnce]]): its upstream stages run,
    * a probe computes the final stage's partitions one at a time until
    * it finds a row, and the write reads the same computed RDD, so it
    * skips the upstream stages. */
  private def guarded(df: DataFrame)(write: DataFrame => Unit): Boolean =
    org.apache.spark.sql.graft.RunOnce.nonEmpty(df) match {
      case Some(computed) => write(computed); true
      case None => false
    }
}
