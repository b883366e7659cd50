package graft

import org.apache.spark.sql.functions._
import graft.transform.Ids

/** W1 contiguous-id semantics vs `core/utils/data_core.py:169-171`. */
class IdsSpec extends SparkSpec {

  test("assignContiguousIds is dense, starts at start, follows the order") {
    import spark.implicits._
    val n = 10007 // prime → uneven partition boundaries
    val df = spark.range(n).select(
        (col("id") * 2654435761L % 1000003L).as("key"),
        col("id").as("payload"))
      .repartition(8) // ≥8 partitions, arbitrary placement before the op
    val out = Ids.assignContiguousIds(df, col("key"), "new_id", start = 100L)
    val rows = out.select("key", "new_id").collect()
    assert(rows.length == n)
    val ids = rows.map(_.getLong(1)).sorted
    assert(ids.head == 100L && ids.last == 100L + n - 1)
    assert(ids.toSet.size == n) // dense + unique
    // ids ordered by the ordering key
    val byId = rows.sortBy(_.getLong(1)).map(_.getLong(0))
    assert(byId.zip(byId.tail).forall { case (a, b) => a <= b })
  }

  test("assignContiguousIds runs its input's shuffle stage once") {
    val agg = spark.range(0, 5000, 1, 4)
      .groupBy((col("id") % 101).as("k")).agg(count(lit(1)).as("n"))
    val (out, c) = org.apache.spark.graft.JobBudget.measure(spark)(
      Ids.assignContiguousIds(agg, col("k")))
    // one shuffle stage for the aggregate, one for the range exchange
    assert(c.shuffleStages == 2, c.toString)
    val rows = out.select("k", "new_id").collect()
    assert(rows.map(_.getLong(1)).sorted.toSeq == (0L until 101L))
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("cached RDDs do not ACCUMULATE across calls (no per-call cache " +
    "pin)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // Four calls — the old `.cache().count()` materialization pinned one
    // full table copy in the block store PER CALL for the session's
    // lifetime (4 calls → 4 pins); localCheckpoint blocks drain via the
    // ContextCleaner once the result is unreachable. The assertion is
    // "no accumulation" (≤ 1 lingering), not "zero": a single
    // most-recent-execution residue can survive GC for a while when an
    // earlier query in the session ran a broadcast exchange — an
    // idle-thread/reference quirk of stock Spark reproduced with a
    // minimal probe (broadcast join → two plain localCheckpoints →
    // null refs → 60 s of GC loops keeps exactly ONE block pinned,
    // regardless of which graft operator ran). The regression this
    // test guards is the unbounded per-call pin, and 4 calls → ≤ 1
    // lingering block distinguishes the two decisively.
    var out = Ids.assignContiguousIds(
      spark.range(5000).select(col("id").as("k")), col("k"))
    assert(out.count() == 5000)
    (1 to 2).foreach { i =>
      out = Ids.assignContiguousIds(
        spark.range(1000L * i).select(col("id").as("k")), col("k"))
      assert(out.count() == 1000L * i)
    }
    // Snapshot before the FINAL call: RDD ids are monotone and never
    // reused, so anything in this set was created by calls 1-3.
    // `.keys.toArray` forces a REAL copy of the ids — `keySet.toSet`
    // returns a view that retains the map and therefore the RDD
    // objects themselves, which would pin the very blocks this test
    // watches drain (measured: 4 pinned blocks with the view form).
    val beforeFinal =
      spark.sparkContext.getPersistentRDDs.keys.toArray.toSet
    out = Ids.assignContiguousIds(
      spark.range(3000L).select(col("id").as("k")), col("k"))
    assert(out.count() == 3000L)
    out = null // drop the only reference → ContextCleaner may reclaim
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var extra = Set.empty[Int]
    while ({
      System.gc()
      extra = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      extra.size > 1 && System.nanoTime() < deadline
    }) Thread.sleep(200)
    assert(extra.size <= 1,
      s"persistent RDDs accumulated across calls (cache pin): $extra")
    // r11 advice: the tolerated residue must belong to the FINAL call —
    // a lingering block from an EARLIER call would mean a pin that the
    // ≤1-count alone can't distinguish from the broadcast-residue quirk.
    assert(extra.forall(id => !beforeFinal.contains(id)),
      s"lingering block is not from the final call: $extra " +
        s"(pre-final set: $beforeFinal)")
  }

  test("assignGroupedRanks: skewed + null groups rank like row_number") {
    import spark.implicits._
    // one mega-group (4/5 of rows), one tiny group, one NULL group —
    // ranks and group sizes must equal the window form's
    val rnd = new scala.util.Random(3)
    val rows = (0 until 400).map(i =>
      (i.toLong, if (i % 5 == 4) "tiny" else "mega", rnd.nextInt(7))) ++
      Seq((400L, null, 1), (401L, null, 0))
    val df = rows.toDF("id", "g", "s").repartition(7)
    val got = Ids.assignGroupedRanks(df, "g",
        Seq(col("s").desc, col("id").asc), "rk", "ng")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("rk")), r.getLong(r.fieldIndex("ng"))))
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("id").asc)
    val want = df
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("ng", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(r.fieldIndex("rk")).toLong, r.getLong(r.fieldIndex("ng"))))
      .toMap
    assert(got == want)
  }

  test("appendIdsAfterMax continues after the existing max") {
    import spark.implicits._
    val existing = Seq(3L, 9L, 7L).toDF("id")
    val incoming = spark.range(5).select(col("id").as("k"))
    val out = Ids.appendIdsAfterMax(existing, incoming, "id", col("k"))
    val ids = out.select("id_new").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(10L, 11L, 12L, 13L, 14L))
  }
}
