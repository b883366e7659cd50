package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.engine.Engine

/** Forces every catalog query once on the query_mix fixture and writes
  * name -> (sha256 of its oracle SQL, checksum, seconds) as JSON lines;
  * `perfbench/make_checksums.py` turns two such runs into the table.
  *
  * args: <fixtureDir> <outJsonl> <cores> <workDir> */
object Checksums {
  def main(args: Array[String]): Unit = {
    val Array(fixture, out, cores, work) = args
    val spark = Engine.session("perfbench-checksums",
      Some(s"local[$cores]"), shufflePartitions = cores.toInt)
    Main.warmup(spark, s"$work/warmup")
    val w = Files.newBufferedWriter(Paths.get(out))
    try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val j = Main.mapper.createObjectNode()
      j.put("name", name)
      j.put("oracle_sql_sha256",
        Workloads.sha256(SparkEntry.oracleSql.getOrElse(name, "")))
      j.put("has_oracle_sql", SparkEntry.oracleSql.contains(name))
      val t0 = System.nanoTime()
      try j.put("checksum", Workloads.force(fn(spark, fixture)))
      catch { case scala.util.control.NonFatal(e) =>
        j.put("error", String.valueOf(e.getMessage).take(300)) }
      j.put("seconds", (System.nanoTime() - t0) / 1e9)
      w.write(Main.mapper.writeValueAsString(j)); w.newLine(); w.flush()
    } finally w.close()
    spark.stop()
  }
}
