package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Using

import SparkEntry.{attempt, jsonString}

/** Driver-run correctness dump: each selected catalog query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = SparkEntry.selected
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.engine.Engine.session(
      "graft-verify", Some(s"local[$cpus]"), shufflePartitions = cpus)
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      dump(outDir, q.name)(
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(_))
        .foreach(e => System.err.println(s"[verify] ${q.name} failed: $e"))
    }
    val names = selected.map(_.name).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    // A filtered run must never masquerade as the full contract: a stray
    // SPARK_GRAFT_ONLY in a CI/driver env would otherwise dump a partial
    // oracle_sql.json indistinguishable from the complete one. Write the
    // partial dump under a distinct name, drop any full one, and warn.
    val partial = selected.size < SparkEntry.catalog.size
    if (partial)
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set — dumping PARTIAL " +
        s"contract (${selected.size}/${SparkEntry.catalog.size} queries) " +
        "as oracle_sql.partial.json")
    writeContract(outDir, json, partial)
    spark.stop()
  }

  /** Deletes `outDir/name`, then attempts `write` on that path. A query
    * that fails before its write (at analysis, or in an eager probe or
    * checkpoint while building) must not leave an earlier run's result
    * there for selfcheck to read as this run's. */
  private[graft] def dump(outDir: String, name: String)(
      write: String => Unit): Option[String] = {
    val dest = Paths.get(outDir, name)
    if (Files.exists(dest))
      Using.resource(Files.walk(dest))(
        _.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))
    attempt(write(dest.toString))
  }

  /** Writes the oracle contract and deletes the other kind, so that a
    * directory never holds a partial dump next to a full one from an
    * earlier run (selfcheck would check the stale full contract). */
  private[graft] def writeContract(outDir: String, json: String,
                                   partial: Boolean): Unit = {
    val (write, stale) =
      if (partial) ("oracle_sql.partial.json", "oracle_sql.json")
      else ("oracle_sql.json", "oracle_sql.partial.json")
    Files.deleteIfExists(Paths.get(outDir, stale))
    Files.writeString(Paths.get(outDir, write), json)
  }
}
