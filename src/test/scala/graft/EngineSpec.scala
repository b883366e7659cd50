package graft

import org.apache.spark.sql.functions._
import graft.engine.Engine

/** S6 facade + session/table plumbing, incl. the reference's
  * error-contract asymmetry (SURVEY §7.4.7): the QUERY path logs and
  * returns None; load paths raise (SinksSpec) or swallow (SourcesSpec). */
class EngineSpec extends SparkSpec {

  test("registerAll exposes every fixture table as a view") {
    Engine.registerAll(spark, fixtureDir)
    Engine.TableNames.foreach { t =>
      assert(spark.catalog.tableExists(t), t)
    }
    assert(Engine.sql(spark,
      "SELECT COUNT(*) AS n FROM lineitem").get.collect()(0).getLong(0) > 0)
  }

  test("sql returns None (not an exception) on a broken query") {
    assert(Engine.sql(spark, "SELECT FROM WHERE").isEmpty)
    assert(Engine.sql(spark, "SELECT * FROM no_such_table_xyz").isEmpty)
  }

  test("events.ts loads as a usable microsecond timestamp") {
    val events = Engine.table(spark, fixtureDir, "events")
    val dt = events.schema("ts").dataType
    assert(dt == org.apache.spark.sql.types.TimestampType
      || dt == org.apache.spark.sql.types.TimestampNTZType, dt.toString)
    val r = events.agg(min("ts"), max("ts")).collect()(0)
    assert(!r.isNullAt(0) && !r.isNullAt(1))
  }

  test("native graft_* functions are registered on every Engine session") {
    import spark.implicits._
    val out = Seq(Seq(1L, 2L, 3L)).toDF("hs")
      .selectExpr("graft_minhash_sig(hs, 8) AS sig",
        "graft_simhash(hs) AS sh")
      .collect()(0)
    assert(out.getSeq[Long](0).length == 8)
  }

  test("materialize takes the reliable-checkpoint path when checkpointDir is set") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val out = Engine.materialize(Seq(1, 2, 3).toDF("v"))
      assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
      // a reliable checkpoint wrote files under the configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
      // iterative op end-to-end on the reliable path
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val comp = graft.ext.DedupOps.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("spread parallelizes a 1-partition input and no-ops on a wide one") {
    val narrow = spark.range(100).coalesce(1).toDF("id")
    val spreadOut = Engine.spread(narrow)
    assert(spreadOut.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val wide = spark.range(100)
      .repartition(spark.sparkContext.defaultParallelism).toDF("id")
    assert(Engine.spread(wide) eq wide) // no extra exchange at scale
  }

  test("spread no-ops on streaming frames instead of throwing") {
    val stream = spark.readStream.format("rate").load()
    assert(Engine.spread(stream) eq stream) // old .rdd probe threw here
  }

  test("spread's width probe is plan-side: no job runs, even under AQE") {
    // Old probe: df.rdd on a shuffling plan eagerly executed the AQE
    // query stages at plan time. The plan-side probe must decide
    // fire/no-fire without submitting any Spark job.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // Only spread is measured: build the frames first, baseline after.
    val agg = Engine.table(spark, fixtureDir, "events")
      .groupBy("user_id").count()
    val scan = Engine.table(spark, fixtureDir, "nation")
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Engine.spread(agg) eq agg) // post-shuffle width ≥ floor
      Engine.spread(scan) // small single-file scan → fires, still no job
      Thread.sleep(500)   // listener bus is async; give events time
      assert(jobs.get() == 0, s"spread submitted ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("plan-side width probe agrees with the RDD probe on fixture scans") {
    // On a pure scan .rdd is side-effect-free, so the old probe is a
    // safe ground truth here: the new estimator must make the same
    // fire/no-fire call for every fixture table.
    val floor = math.min(spark.sparkContext.defaultParallelism, 8)
    Engine.TableNames.foreach { t =>
      val df = Engine.table(spark, fixtureDir, t)
      val actual = df.rdd.getNumPartitions
      val fired = !(Engine.spread(df) eq df)
      assert(fired == (actual < floor),
        s"$t: actual=$actual floor=$floor fired=$fired")
    }
  }

  test("tokens is codegen-resident: no interpreted lambda in the plan") {
    import spark.implicits._
    val plan = Seq("a b c").toDF("text")
      .select(graft.ext.TextOps.tokens(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"),
      s"tokens must not use a higher-order lambda:\n$plan")
  }

  test("stream-static enrichment joins events with a broadcast dimension") {
    import spark.implicits._
    val events = Engine.table(spark, fixtureDir, "events")
      .withColumn("nationkey", pmod(col("user_id"), lit(25)).cast("int"))
    val dim = Engine.table(spark, fixtureDir, "nation")
      .withColumnRenamed("n_nationkey", "nationkey")
    val out = graft.streaming.Streaming.enriched(events, dim, "nationkey")
    assert(out.count() == events.count())
    assert(out.columns.contains("n_name"))
  }

  test("a table read plans with no job, also after a DML rewrite it sees") {
    val (_, again) = org.apache.spark.graft.JobBudget.measure(spark)(
      Engine.table(spark, fixtureDir, "nation"))
    assert(again.jobs == 0, again.toString)

    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    Engine.table(spark, fixtureDir, "nation")
      .write.parquet(s"$dir/nation.parquet")
    Engine.table(spark, dir, "nation")
    graft.sinks.Dml.update(spark, s"$dir/nation.parquet",
      Map("n_name" -> lit("X")), col("n_nationkey") === 0)
    val (after, read) = org.apache.spark.graft.JobBudget.measure(spark)(
      Engine.table(spark, dir, "nation"))
    assert(read.jobs == 0, read.toString)
    assert(after.where(col("n_name") === "X").count() == 1)
  }

  test("isEmpty probes one partition of a non-empty frame: one job, " +
      "one task, no shuffle; answers like Dataset.isEmpty") {
    val wide = spark.range(0, 1000, 1, 4).filter(col("id") % 3 === 0)
    assert(wide.rdd.getNumPartitions >= 4)
    val (empty, c) = org.apache.spark.graft.JobBudget.measure(spark)(
      Engine.isEmpty(wide))
    assert(!empty)
    assert(c.jobs == 1 && c.tasks == 1 && c.shuffleStages == 0, c.toString)
    val cases = Seq(
      "empty" -> spark.range(0, 0, 1, 4).toDF(),
      "filtered to empty" -> spark.range(0, 1000, 1, 4)
        .filter(col("id") < 0).toDF(),
      "non-empty" -> wide.toDF())
    cases.foreach { case (name, df) =>
      assert(Engine.isEmpty(df) == df.isEmpty, name)
    }
    assert(cases.map(c => Engine.isEmpty(c._2)) == Seq(true, true, false))
  }
}
