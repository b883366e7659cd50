package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import graft.engine.Engine
import graft.transform.Sanitize

/** S1-S5 file sources + the loose-schema helpers (SURVEY §2.1, §2.3 P1).
  *
  * Everything reads through `spark.read` so Catalyst owns pushdown and
  * partitioned listing; only delimiter sniffing does a driver-side
  * one-line peek (a planning step, same cost class as schema inference).
  */
object Sources {

  /** Delimiter candidates, in reference order (`db_core.py:86`). */
  val DelimiterCandidates: Seq[String] = Seq(",", ";", "\t")

  /** S1 — CSV scan with explicit delimiter (`data_core.py:65-71`).
    * PERMISSIVE mode = the reference's `on_bad_lines='warn'` tolerance;
    * header + schema inference mirror `pd.read_csv` defaults.
    */
  def readCsv(spark: SparkSession, path: String, delimiter: String = ",",
              header: Boolean = true, inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("delimiter", delimiter)
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S2 — delimiter sniffing (`db_core.py:86-95`): try `,` `;` `\t`,
    * accept the first that parses the header into >1 column; all fail →
    * error (the reference raises ValueError). The probe reads ONE line per
    * candidate on the driver; the real scan stays distributed.
    */
  def sniffDelimiter(spark: SparkSession, path: String): String = {
    val firstLine = spark.read.textFile(path).head(1).headOption.getOrElse("")
    DelimiterCandidates.find { d =>
      // quote-aware split of the probe line, like the csv parser would
      splitOutsideQuotes(firstLine, d.head).length > 1
    }.getOrElse(throw new IllegalArgumentException(
      s"cannot determine CSV delimiter for $path (tried , ; \\t)"))
  }

  /** S2 composed — sniff then read. */
  def readCsvSniffed(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, sniffDelimiter(spark, path))

  /** S3 — parquet scan (`data_core.py:73-79`). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    Engine.readParquet(spark, path)

  /** S4 — parquet-or-empty: a missing object is an EMPTY frame, not an
    * error (`storage.py:181-189` returns `pd.DataFrame()` on missing). */
  def readParquetOrEmpty(spark: SparkSession, path: String): DataFrame =
    try Engine.readParquet(spark, path)
    catch { case _: AnalysisException => spark.emptyDataFrame }

  /** S5 — text scan, line per row (`data_core.py:89-96`). */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** S5 whole-blob variant: the reference returns one string per file. */
  def readWholeText(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  /** P1 — loose column resolution (`sheets_core.py:47-59`): exact
    * case-insensitive trimmed match first, then first substring match;
    * None when nothing matches. First-match-wins tie-break is reference
    * behavior (documented ambiguity, SURVEY §7.4.3).
    */
  def resolveColumn(df: DataFrame, target: String): Option[String] = {
    val t = target.trim.toLowerCase
    val cols = df.columns
    cols.find(_.trim.toLowerCase == t)
      .orElse(cols.find(_.trim.toLowerCase.contains(t)))
  }

  /** K6 — load-from-file composition (`db_core.py:74-117`): extension
    * dispatch (.parquet | .csv w/ sniffing), empty guard, sanitize names +
    * nulls, then load. Errors are swallowed-and-logged — the reference's
    * file-load path does NOT re-raise (`db_core.py:116-117`), unlike the
    * DataFrame-load path (SURVEY §7.4.7). Returns true iff data landed.
    */
  def loadFromFile(spark: SparkSession, dataPath: String, tablePath: String,
                   behavior: String): Boolean =
    try {
      val df =
        if (dataPath.endsWith(".parquet")) readParquet(spark, dataPath)
        else if (dataPath.endsWith(".csv")) readCsvSniffed(spark, dataPath)
        else throw new IllegalArgumentException(
          s"unsupported format (use .csv or .parquet): $dataPath")
      graft.sinks.Sinks.loadDataFrame(df, tablePath, behavior)
    } catch {
      case e: Exception =>
        System.err.println(s"[loadFromFile] $dataPath failed: ${e.getMessage}")
        false
    }

  /** JDBC source (the reference reads result tables back from its
    * PostgreSQL store, `README.md:73`, and SQL Server via pyodbc,
    * `pyproject.toml:10-28`): delegates to `spark.read.jdbc` so Catalyst
    * keeps filter/column pushdown into the remote SQL. For large tables
    * pass `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` in
    * `options` — without them the read is a single partition (fine for
    * dimension-sized tables only). */
  def readJdbc(spark: SparkSession, url: String, table: String,
               options: Map[String, String] = Map.empty): DataFrame = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    spark.read.jdbc(url, table, props)
  }

  /** K8 — batch directory load (`db_core.py:137-185`): a manifest of
    * file→table targets, each loaded with `replace`, missing files skipped
    * (logged), like the reference's fixed CSV→dataset maps. */
  def loadBatch(spark: SparkSession, manifest: Map[String, String],
                behavior: String = "replace"): Map[String, Boolean] =
    manifest.map { case (dataPath, tablePath) =>
      dataPath -> loadFromFile(spark, dataPath, tablePath, behavior)
    }

  private def splitOutsideQuotes(line: String, d: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    line.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case c if c == d && !inQ => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.toArray
  }
}
