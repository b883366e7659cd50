package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.Sources

/** K1-K7 sink semantics vs `core/utils/db_core.py:339-367` +
  * `core/utils/data_core.py:49-105`. */
class SinksSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-sinks").toString

  test("saveMode maps fail|replace|append and rejects junk (db_core.py:349)") {
    import org.apache.spark.sql.SaveMode._
    assert(Sinks.saveMode("fail") == ErrorIfExists)
    assert(Sinks.saveMode("replace") == Overwrite)
    assert(Sinks.saveMode(" APPEND ") == Append)
    intercept[IllegalArgumentException](Sinks.saveMode("upsert"))
  }

  test("parquet round-trip with behaviors: replace overwrites, append stacks, fail throws") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Sinks.writeParquet(df, dir, "replace"))
    Sinks.writeParquet(df, dir, "append")
    assert(spark.read.parquet(dir).count() == 4)
    Sinks.writeParquet(df, dir, "replace")
    assert(spark.read.parquet(dir).count() == 2)
    intercept[Exception](Sinks.writeParquet(df, dir, "fail"))
  }

  test("empty-input guard skips the write (db_core.py:99-101)") {
    import spark.implicits._
    val dir = tmp() + "/empty"
    val none = Seq.empty[(Int, String)].toDF("k", "v")
    assert(!Sinks.writeParquet(none, dir))
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("csv round-trip preserves delimiter and header (data_core.py:57-63)") {
    import spark.implicits._
    val dir = tmp() + "/csv"
    val df = Seq((1, "x;y"), (2, "plain")).toDF("k", "v")
    assert(Sinks.writeCsv(df, dir, delimiter = ";"))
    val back = Sources.readCsv(spark, dir, delimiter = ";")
    assert(back.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("x;y", "plain"))
  }

  test("json round-trip keeps non-ascii (data_core.py:85 force_ascii=False)") {
    import spark.implicits._
    val dir = tmp() + "/json"
    val df = Seq((1, "ação é voo")).toDF("k", "v")
    assert(Sinks.writeJson(df, dir))
    assert(spark.read.json(dir).collect()(0).getAs[String]("v") == "ação é voo")
  }

  test("loadDataFrame sanitizes names and nulls before landing (db_core.py:104-107)") {
    import spark.implicits._
    val dir = tmp() + "/load"
    val df = Seq((Some(1), Some("x")), (None, None))
      .toDF("Bad Col!", "9name")
    assert(Sinks.loadDataFrame(df, dir, "replace"))
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq == Seq("Bad_Col", "col_9name"))
    val r = back.orderBy("Bad_Col").collect()
    assert(r(0).getInt(0) == 0 && r(0).getString(1) == "")
  }

  test("partitioned write: directory layout + planning-time pruning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_part").toString + "/t"
    val df = Seq(
      ("2026-01-01", 1L, 10.0), ("2026-01-01", 2L, 20.0),
      ("2026-01-02", 3L, 30.0), ("2026-01-03", 4L, 40.0)
    ).toDF("day", "id", "v")
    assert(Sinks.writeParquet(df, dir, partitionBy = Seq("day")))
    // Hive-style directories per partition value
    val days = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(days.toSeq == Seq("day=2026-01-01", "day=2026-01-02",
      "day=2026-01-03"))
    // A filter on the partition column prunes at planning time: the scan
    // carries it as a PartitionFilter and reads one directory only.
    val q = spark.read.parquet(dir).filter(col("day") === "2026-01-02")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      scan)
    assert(q.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("a guarded write runs the frame's shuffle once: the write skips " +
      "the shuffle-map stage the probe ran") {
    import org.apache.spark.graft.JobBudget
    val dir = tmp()
    // the filter on the count keeps the shuffle in any emptiness probe
    // (a group-only aggregate under `limit 1` would lose it)
    def shuffled = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 10).as("k")).count().where(col("count") > 0)
    Seq[(String, String => Boolean)](
      "parquet" -> (p => Sinks.writeParquet(shuffled, p)),
      "csv" -> (p => Sinks.writeCsv(shuffled, p))).foreach {
      case (name, write) =>
        val (wrote, c) = JobBudget.measure(spark)(write(s"$dir/$name"))
        assert(wrote, name)
        assert(c.shuffleStages == 1, s"$name: $c")
    }
    assert(spark.read.parquet(s"$dir/parquet").count() == 10)
    assert(Sources.readCsv(spark, s"$dir/csv").count() == 10)
  }

  test("an empty frame under replace returns false and leaves the " +
      "existing table byte-identical") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Sinks.writeParquet(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    def snapshot: Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles().map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val before = snapshot
    val empty = spark.range(0, 100, 1, 4).where(col("id") < 0)
      .groupBy(col("id").as("k")).count()
    assert(!Sinks.writeParquet(empty, dir, "replace"))
    assert(!Sinks.writeCsv(empty, dir, "replace"))
    assert(snapshot == before)
  }
}
