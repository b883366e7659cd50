package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.Log

/** Object-store operations surface
  * (`/root/reference/core/utils/storage.py:34-97` —
  * `CloudStorageManager.upload_file/download_file/delete_file/
  * list_files`, and `:99-190` `save_dataframe_to_parquet`/
  * `read_parquet_from_gcs`), re-expressed over the Hadoop `FileSystem`
  * API: the SAME code runs against `file://` in tests and any
  * connector-backed scheme (`gs://`, `s3a://`, `abfs://`, `hdfs://`)
  * on a cluster, which is how a Spark-native engine talks to object
  * stores — per-scheme SDK clients would bypass the connector's
  * committers, retry policy, and credential chain.
  *
  * Reference postures preserved:
  *   - `delete_file` on a missing object RAISES (the GCS client throws
  *     NotFound, `storage.py:56-65`) — silent-success delete masks
  *     cleanup bugs.
  *   - `list_files` returns object NAMES relative to the root
  *     (`storage.py:67-78` returns blob names, not URLs); sorted here
  *     because Hadoop listing order is scheme-dependent and callers
  *     deserve determinism.
  *   - `save_dataframe_to_parquet` returns false for an empty frame
  *     (`storage.py:115-117`, same rule as the K2 empty guard) and
  *     false — not an exception — on write failure (`storage.py:143-145`
  *     catches and logs).
  *
  * `hadoopConf` defaults to the running session's, so connector
  * settings made through `spark.hadoop.*` reach the store.
  *
  * Signed URLs live in [[Storage]] (pure compute, no filesystem). */
class ObjectStore(root: String,
                  hadoopConf: Configuration = graft.engine.Engine.hadoopConf) {

  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(hadoopConf)

  /** Object names are opaque blob KEYS within the root, as in the GCS
    * reference — never paths that can escape it. Three escape routes
    * exist through `Path(parent, child)` and all are rejected rather
    * than silently re-rooted: an absolute child replaces the parent
    * outright; `..` segments climb out during normalization; and a
    * SCHEME-QUALIFIED child (`file:/etc/passwd`, `gs://other-bucket/x`)
    * also replaces the parent outright — its URI is absolute even
    * though the string has no leading '/'. A colon before the first
    * '/' is exactly what `java.net.URI` parses as a scheme, so such
    * names are refused up front; belt-and-braces, the resolved path is
    * then verified to still sit under the qualified root. */
  private def resolve(name: String): Path = {
    val firstSlash = { val i = name.indexOf('/'); if (i < 0) name.length else i }
    require(name.nonEmpty && !name.startsWith("/") &&
        !name.split('/').contains("..") &&
        name.lastIndexOf(':', firstSlash - 1) < 0,
      s"object name must be a scheme-less relative key without '..': '$name'")
    val resolved = fs.makeQualified(new Path(rootPath, name))
    val qualifiedRoot = fs.makeQualified(rootPath).toString
    require(resolved.toString.startsWith(qualifiedRoot + "/"),
      s"object name resolves outside the store root: '$name'")
    resolved
  }

  /** Upload a local file to `destName` under the store root
    * (`storage.py:34-42`). Overwrites, like `blob.upload_from_filename`. */
  def uploadFile(localFilePath: String, destName: String): Unit = {
    fs.copyFromLocalFile(false, true, new Path(localFilePath),
      resolve(destName))
    Log.inf(s"Uploaded '$localFilePath' to '$destName'")
  }

  /** Download `name` to a local path (`storage.py:44-54`). */
  def downloadFile(name: String, localDestPath: String): Unit = {
    fs.copyToLocalFile(false, resolve(name), new Path(localDestPath), true)
    Log.inf(s"Downloaded '$name' to '$localDestPath'")
  }

  /** Delete `name`; a missing object raises FileNotFoundException —
    * the GCS `blob.delete()` NotFound posture (`storage.py:56-65`). */
  def deleteFile(name: String): Unit = {
    if (!fs.delete(resolve(name), false))
      throw new java.io.FileNotFoundException(
        s"object '$name' not found under $root")
    Log.inf(s"Deleted '$name'")
  }

  /** All object names under the root, relative, sorted
    * (`storage.py:67-78`). Directories are transparent, as in a flat
    * blob namespace. */
  def listFiles(): Seq[String] = {
    if (!fs.exists(rootPath)) return Seq.empty
    val rootUri = fs.makeQualified(rootPath).toUri.getPath
    val it = fs.listFiles(rootPath, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath.toUri.getPath
      out += p.stripPrefix(rootUri).stripPrefix("/")
    }
    out.result().sorted
  }

  /** Write a DataFrame as parquet under the root
    * (`storage.py:99-150`): false for an empty frame (nothing written),
    * false on failure (logged, not thrown), true on success. Unlike the
    * reference's single in-memory buffer, the write is the distributed
    * parquet committer — executors stream parts directly to the store. */
  def saveDataFrameParquet(df: DataFrame, name: String,
                           compression: String = "snappy"): Boolean = {
    if (graft.engine.Engine.isEmpty(df)) {
      Log.war(s"Empty DataFrame, nothing saved at '$name'")
      return false
    }
    try {
      df.write.mode("overwrite").option("compression", compression)
        .parquet(resolve(name).toString)
      Log.inf(s"DataFrame saved as parquet: $name")
      true
    } catch {
      case e: Exception =>
        Log.err(s"Failed to save parquet at '$name': $e")
        false
    }
  }

  /** Read a parquet object back (`storage.py:152-190`). DELIBERATE
    * DEVIATION: the reference returns an empty DataFrame both when the
    * blob is missing and on any read exception (`storage.py:168-190`)
    * — which makes "object deleted" indistinguishable from "object
    * present and empty" and lets credential/connector failures
    * masquerade as empty data. Here a missing path raises (the
    * `db_core.py:366-367` read-path posture); callers that want the
    * reference's empty-frame fallback compose
    * [[Sources.readParquetOrEmpty]]. */
  def readParquet(spark: SparkSession, name: String): DataFrame =
    graft.engine.Engine.readParquet(spark, resolve(name).toString)
}
