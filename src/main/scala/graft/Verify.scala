package graft

import java.nio.file.{Files, Paths}

import SparkEntry.{attempt, jsonString}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.engine.Engine.session(
      "graft-verify", Some(s"local[$cpus]"), shufflePartitions = cpus)
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.only
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach {
      case (name, fn) =>
        attempt(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
          .foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    // A filtered run must never masquerade as the full contract: a stray
    // SPARK_GRAFT_ONLY in a CI/driver env would otherwise dump a partial
    // oracle_sql.json indistinguishable from the complete one. Write the
    // partial dump under a distinct name, drop any full one, and warn.
    if (only.isDefined)
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set — dumping PARTIAL " +
        s"contract (${SparkEntry.oracleSql.count(kv => selected(kv._1))}/" +
        s"${SparkEntry.oracleSql.size} queries) as oracle_sql.partial.json")
    writeContract(outDir, json, partial = only.isDefined)
    spark.stop()
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
