package graft

import org.apache.spark.graft.JobBudget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tiers

/** r18 optimization-round kernels, pinned bit-identical to the
  * compositional forms they replaced (the NativeExprsSpec discipline):
  *
  *  - `graft_h60` vs the interpreted conv(substring(md5)) chain
  *  - `graft_bloom_positions` / `graft_bloom_pos` vs the per-salt chain
  *  - `graft_merge_dot` vs the exploded (pair, term) join + sum
  *  - every op gated by [[graft.engine.Tiers]]: its small side
  *    (broadcast or driver-local) and its distributed side agree
  */
class R18KernelsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$fixtureDir/documents.parquet")

  private def chainH60(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  test("graft_h60 == conv(substring(md5, 1, 15), 16, 10) on fixture " +
    "text, tokens, and edge strings") {
    import spark.implicits._
    val edge = Seq("", " ", "é\u0301", "0:x", "a b c").toDF("s")
    val both = docs.select(col("text").as("s")).unionByName(edge)
      .select(call_function("graft_h60", col("s")).as("fast"),
        chainH60(col("s")).as("ref"))
    assert(both.filter(!(col("fast") <=> col("ref"))).count() == 0)
  }

  test("graft_bloom_positions / graft_bloom_pos == the per-salt " +
    "pmod(h60(\"j:\" + u), m) chain, unit-major order") {
    val m = 16384L
    val toks = ext.TextOps.tokens(col("text"))
    val fast = docs.select(col("doc_id"),
      call_function("graft_bloom_positions", toks, lit(m), lit(3))
        .as("fast"))
    val ref = docs.select(col("doc_id"),
      flatten(transform(toks, t => array((0 until 3).map(j =>
        pmod(chainH60(concat(lit(s"$j:"), t)), lit(m))): _*)))
        .as("ref"))
    val j = fast.join(ref, Seq("doc_id"))
    assert(j.filter(!(col("fast") <=> col("ref"))).count() == 0)
    val single = docs
      .select(explode(toks).as("u"))
      .select(
        call_function("graft_bloom_pos", col("u"), lit(m), lit(2))
          .as("fast"),
        pmod(chainH60(concat(lit("2:"), col("u"))), lit(m)).as("ref"))
    assert(single.filter(!(col("fast") <=> col("ref"))).count() == 0)
  }

  test("graft_merge_dot == exploded (pair, term) join + integer sum " +
    "on the APSS posting relation") {
    val (w, _, prefix, _) = ext.DedupOps.apssPostings(
      docs.limit(200), "doc_id", "text", tNum = 3, tDen = 5,
      gramN = 3, idfScale = 1000L)
    val full = w.select(col("_t"), col("_id").as("_fid"))
    val cand = prefix.join(full, Seq("_t"))
      .filter(col("_pid") =!= col("_fid"))
      .select(least(col("_pid"), col("_fid")).as("_a"),
        greatest(col("_pid"), col("_fid")).as("_b"))
      .distinct()
    val vec = w.groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_t"), col("_w"))))
        .as("_vec"))
    val fast = cand
      .join(vec.select(col("_id").as("_a"), col("_vec").as("_va")),
        Seq("_a"))
      .join(vec.select(col("_id").as("_b"), col("_vec").as("_vb")),
        Seq("_b"))
      .select(col("_a"), col("_b"),
        call_function("graft_merge_dot", col("_va"), col("_vb"))
          .as("fast"))
    val ref = cand
      .join(w.select(col("_id").as("_a"), col("_t"),
        col("_w").as("_wa")), Seq("_a"))
      .join(w.select(col("_id").as("_b"), col("_t"),
        col("_w").as("_wb")), Seq("_b", "_t"))
      .groupBy(col("_a"), col("_b"))
      .agg(sum(col("_wa") * col("_wb")).as("ref"))
    val j = fast.join(ref, Seq("_a", "_b"), "left")
      .select(col("fast"), coalesce(col("ref"), lit(0L)).as("ref"))
    // pairs with NO shared term never reach the exploded join (inner
    // join drops them); merge_dot reports their true dot of 0.
    assert(j.filter(col("fast") =!= col("ref")).count() == 0)
    assert(fast.count() > 0)
  }

  test("DML rewrite invalidates (session, dir) caches: a memo filled " +
    "before Dml.update/delete is dropped, unrelated dirs survive") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dml_inv").toString
    val table = s"$dir/documents.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(table)
    val cache = graft.engine.SessionCaches.register(
      new java.util.concurrent.ConcurrentHashMap[
        (org.apache.spark.sql.SparkSession, String), Long]())
    // the fill reads the table; a stale entry would keep serving 2
    def rowsMemo(): Long =
      graft.engine.SessionCaches.memo(cache, (spark, dir))(
        spark.read.parquet(table).count())
    assert(rowsMemo() == 2L)
    cache.put((spark, "/somewhere/else"), 99L)
    sinks.Dml.delete(spark, table, col("doc_id") === 2L)
    assert(!cache.containsKey((spark, dir)),
      "delete must drop the memo keyed on the mutated table's dir")
    assert(cache.containsKey((spark, "/somewhere/else")),
      "unrelated dirs must survive invalidation")
    assert(rowsMemo() == 1L, "refilled memo must see the rewrite")
    sinks.Dml.update(spark, table,
      Map("text" -> lit("z")), col("doc_id") === 1L)
    assert(!cache.containsKey((spark, dir)),
      "update must drop the memo too")
  }

  test("SessionCaches.memo keeps no fill that an invalidation of its " +
    "dir overlapped") {
    val cache = graft.engine.SessionCaches.register(
      new java.util.concurrent.ConcurrentHashMap[
        (org.apache.spark.sql.SparkSession, String), Long]())
    val dir = "/tables/memo_race"
    // the fill read the old files; the DML lands before it publishes
    val v = graft.engine.SessionCaches.memo(cache, (spark, dir)) {
      graft.engine.SessionCaches.invalidate(spark, s"$dir/documents.parquet")
      7L
    }
    assert(v == 7L, "the racing fill still answers its own caller")
    assert(!cache.containsKey((spark, dir)),
      "a fill overlapped by an invalidation must not be kept")
    assert(graft.engine.SessionCaches.memo(cache, (spark, dir))(8L) == 8L)
    assert(cache.get((spark, dir)) == 8L, "the next fill is kept")
  }

  test("the only spark.graft.* confs in src/main are checkpointDir and " +
    "tierBudgetBytes") {
    import scala.jdk.CollectionConverters._
    val key = """(?<![\w.])spark\.graft\.([A-Za-z][\w.]*\w)""".r
    val keys = java.nio.file.Files.walk(java.nio.file.Paths.get(
        "src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(_.group(1)))
      .toSet
    assert(keys == Set("checkpointDir", "tierBudgetBytes"), keys)
  }

  // ---- tier equality: every op gated by graft.engine.Tiers, run at
  // budget Long.MaxValue (every small side) and at budget 0 (every
  // distributed side). Outputs must be identical, and `small` — tier
  // evidence read off the run — must be larger on the small side, so a
  // gate that ignores the budget fails here. Planner auto-broadcast is
  // off during the runs: only the gates' hints plan a broadcast join.

  private case class Gated(name: String, run: () => DataFrame,
                           small: (DataFrame, JobBudget.Counts) => Int)

  private def byBroadcasts(df: DataFrame, c: JobBudget.Counts): Int =
    c.broadcastJoins

  /** Sorted output rows and tier evidence of `g` at `budget`. */
  private def atBudget(g: Gated, budget: Long): (Seq[String], Int) = {
    spark.conf.set(Tiers.BudgetConf, budget.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ((df, rows), c) = JobBudget.measure(spark) {
        val df = g.run()
        (df, df.collect().map(_.toString).sorted.toSeq)
      }
      (rows, g.small(df, c))
    } finally {
      spark.conf.unset(Tiers.BudgetConf)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  /** A materialized near-dup index (no planner stats, like production's)
    * of the fixture documents whose id has `parity`. */
  private def index(parity: Int) = graft.engine.Engine.materialize(
    ext.DedupOps.buildNearDupIndex(docs.filter(col("doc_id") % 2 === parity),
      "doc_id", "text", 2, 64))

  /** The curation disposition with its gate forced to class grain
    * (`rep`) or row grain. */
  private def curation(rep: Boolean, nearDup: Double) =
    graft.engine.GrainProbe.forcing(rep)(jobs.CurationJob.disposition(
      docs.select(col("doc_id"), col("text")),
      jobs.CurationJob.Config(idCol = "doc_id", textCol = "text",
        allowedLangs = Seq("en"), nearDupThreshold = nearDup)))._1

  private val gated: Seq[Gated] = Seq(
    Gated("connectedComponents: driver union-find tier == iterative " +
      "closure on adversarial layouts (bit-reversed path, stars, self " +
      "loops, isolated pairs)", () => {
      import spark.implicits._
      // bit-reversed long path (the DedupOpsSpec adversarial case) plus
      // a star, a self loop, and disjoint pairs
      val n = 64
      val path = (0 until n - 1).map { i =>
        def rev(x: Int) = Integer.reverse(x) >>> (32 - 6)
        (rev(i).toLong + 100, rev(i + 1).toLong + 100)
      }
      val star = (1 to 5).map(i => (1000L, 1000L + i))
      val extra = Seq((5000L, 5000L), (7000L, 7001L), (7002L, 7003L))
      ext.DedupOps.connectedComponents(
        (path ++ star ++ extra).toDF("id_a", "id_b"))
    }, (df, _) => if (df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])) 1
      else 0), // the driver tier returns a LocalRelation
    Gated("bpeMergesBatched: driver-local vocabulary tier == distributed " +
      "rounds (same merges, ranks, freqs) on the fixture corpus",
      () => ext.TextOps.bpeMergesBatched(docs, "text", rounds = 3,
        window = 8),
      (_, c) => -c.jobs), // the driver rounds run no job
    Gated("exactPercentiles: small one-aggregate path == distributed " +
      "dbits-binned path on a continuous column (every edge)",
      () => graft.transform.Sanitize.exactPercentiles(
        spark.read.parquet(s"$fixtureDir/events.parquet"), col("value"),
        Seq(0.05, 0.5, 0.95)),
      // only the distributed two-level rank plans a window
      (df, _) => if (df.queryExecution.analyzed.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.Window])) 0 else 1),
    Gated("allPairsCosine: broadcast prefix/vector/norm joins == shuffle " +
      "joins", () => ext.DedupOps.allPairsCosine(docs, "doc_id", "text",
        tNum = 3, tDen = 5), byBroadcasts),
    Gated("incrementalNearDupPairsBetweenIndexes: broadcast band probe " +
      "and shingle slice == shuffle joins",
      () => ext.DedupOps.incrementalNearDupPairsBetweenIndexes(index(1),
        index(0)), byBroadcasts),
    Gated("nearDupMatchedIds: broadcast band probe and history slice == " +
      "shuffle joins", () => ext.DedupOps.nearDupMatchedIds(
        docs.filter(col("doc_id") % 2 === 1), index(0), "doc_id", "text"),
      byBroadcasts),
    Gated("CurationJob rep-grain gate: broadcast rep-id and flag joins == " +
      "shuffle joins", () => curation(rep = true, 0.0), byBroadcasts),
    Gated("CurationJob near-dup population: broadcast id semi-join == " +
      "shuffle join", () => curation(rep = false, 0.8), byBroadcasts),
    Gated("dedupeAppend: broadcast existing-id anti-join == shuffle join",
      () => graft.transform.Dedupe.dedupeAppend(docs,
        docs.filter(col("doc_id") % 3 === 0), "doc_id"), byBroadcasts))

  gated.foreach { g =>
    test(g.name) {
      val (small, smallTier) = atBudget(g, Long.MaxValue)
      val (dist, distTier) = atBudget(g, 0L)
      assert(small == dist)
      assert(small.nonEmpty)
      info(s"tier evidence: small side $smallTier, distributed $distTier")
      assert(smallTier > distTier,
        s"budgets chose the same tier ($smallTier vs $distTier)")
    }
  }

  test("incrementalNearDupPairsBetweenIndexes at budget 0 plans no " +
    "BroadcastHashJoin (band probe included)") {
    val (_, tier) = atBudget(gated.find(_.name.startsWith(
      "incrementalNearDupPairsBetweenIndexes")).get, 0L)
    assert(tier == 0)
  }
}
