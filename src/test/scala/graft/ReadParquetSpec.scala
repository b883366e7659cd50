package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.graft.JobBudget
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.sources.Sources

/** [[Engine.readParquet]]: the schema from one footer on the driver is
  * the schema Spark's inference gives, and planning the read runs no
  * job; where there is no footer to read, the read fails (or
  * `readParquetOrEmpty` falls back) exactly as `spark.read.parquet`. */
class ReadParquetSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-read").toString

  /** Same schema as Spark's inference, same rows, and no job to plan. */
  private def sameAsSpark(paths: String*): DataFrame = {
    val (df, c) = JobBudget.measure(spark)(Engine.readParquet(spark, paths: _*))
    assert(c.jobs == 0, s"${paths.mkString(",")}: $c")
    val inferred = spark.read.parquet(paths: _*)
    assert(df.schema == inferred.schema, paths.mkString(","))
    assert(df.except(inferred).isEmpty && inferred.except(df).isEmpty,
      paths.mkString(","))
    df
  }

  test("every fixture table reads with the inferred schema and no job") {
    Engine.TableNames.foreach(t => sameAsSpark(s"$fixtureDir/$t.parquet"))
  }

  test("a TIMESTAMP(NANOS) events table reads as long, and Engine.table " +
      "turns it into microsecond timestamps, with no job") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = tmp()
    val path = s"$dir/events.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), Engine.hadoopConf))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000000L)
      .foreach { case (u, ts) =>
        w.write(rows.newGroup().append("user_id", u).append("ts", ts))
      }
    finally w.close()
    val raw = sameAsSpark(path)
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val (events, c) = JobBudget.measure(spark)(
      Engine.table(spark, dir, "events"))
    assert(c.jobs == 0, c.toString)
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(events.orderBy("user_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq ==
      Seq(1700000000123456L, 1700000001000000L))
  }

  test("a Spark-written directory: _SUCCESS and .crc files are skipped") {
    val dir = s"${tmp()}/t"
    Engine.table(spark, fixtureDir, "nation").repartition(3)
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names)
    sameAsSpark(dir)
  }

  test("a partitionBy table keeps Spark's partition columns") {
    val dir = s"${tmp()}/t"
    Engine.table(spark, fixtureDir, "nation")
      .write.partitionBy("n_regionkey").parquet(dir)
    val df = sameAsSpark(dir)
    assert(df.columns.last == "n_regionkey", df.columns.mkString(","))
  }

  test("two files with different schemas: the file Spark picks decides") {
    import spark.implicits._
    val dir = tmp()
    // Spark reads the first data file by path string: b/ sorts after a/.
    Seq((1L, "x")).toDF("id", "s").write.parquet(s"$dir/t/b")
    Seq((2L, 3.5)).toDF("id", "d").write.parquet(s"$dir/t/a")
    val df = sameAsSpark(s"$dir/t/b", s"$dir/t/a")
    assert(df.columns.toSeq == Seq("id", "d"))
    // one directory holding both: the file under a/ is still first
    val flat = s"$dir/flat"
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.parquet(flat)
    val other = new java.io.File(s"$dir/t/a").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(other.toPath, Paths.get(s"$flat/part-0-a.parquet"))
    assert(sameAsSpark(flat).columns.toSeq == Seq("id", "d"))
  }

  test("a multi-path read of data files, as Dml reads the files it touched") {
    val dir = s"${tmp()}/t"
    Engine.table(spark, fixtureDir, "nation").repartition(4).write.parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toURI.toString).toSeq
    assert(files.size == 4)
    sameAsSpark(files.take(2): _*)
  }

  test("a missing path fails as spark.read.parquet does; " +
      "readParquetOrEmpty still returns an empty frame") {
    val missing = s"${tmp()}/nope.parquet"
    val ours = intercept[AnalysisException](Engine.readParquet(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
    assert(ours.getMessage == theirs.getMessage)
    val empty = Sources.readParquetOrEmpty(spark, missing)
    assert(empty.columns.isEmpty && empty.isEmpty)
  }

  test("an empty directory fails as spark.read.parquet does") {
    val dir = tmp()
    Files.createFile(Paths.get(s"$dir/_SUCCESS"))
    val ours = intercept[AnalysisException](Engine.readParquet(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition, ours.getMessage)
  }

  test("src/main reads parquet only through Engine.readParquet") {
    import scala.jdk.CollectionConverters._
    val reads = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        """\.read\.parquet\(""".r.findAllMatchIn(src).map(_ => p.getFileName.toString)
      }.toSeq
    assert(reads == Seq("Engine.scala"), reads)
  }
}
