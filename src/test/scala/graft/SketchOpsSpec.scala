package graft

import org.apache.spark.sql.functions._
import graft.ext.SketchOps

/** Sketch family (SURVEY §2.14): KMV distinct counting, count-min
  * frequency, vocabulary coverage. The laws here are the
  * partition-independence and never-undercount contracts the scaladocs
  * claim; the engine-vs-DuckDB bit-exactness is CORRECTNESS's job. */
class SketchOpsSpec extends SparkSpec {

  private def docs = graft.engine.Engine.table(spark, fixtureDir,
    "documents")

  // -------------------------------------------------------- KMV

  test("kmvSketch: under-full sketch reports the exact distinct count") {
    import spark.implicits._
    val df = Seq((1, "a b c a b"), (1, "c d"), (2, "x y"))
      .toDF("g", "text")
    val out = SketchOps.kmvSketch(df, "g", "text", k = 256).collect()
      .map(r => r.getAs[Int]("g") ->
        (r.getAs[Int]("n_seen"), r.getAs[Long]("est_distinct"))).toMap
    assert(out(1) == (4, 4L)) // a b c d
    assert(out(2) == (2, 2L))
  }

  test("kmvSketch: estimate is partition-layout independent") {
    val base = docs.select(col("source"), col("text"))
    val a = SketchOps.kmvSketch(base.repartition(1), "source", "text",
      k = 32).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val b = SketchOps.kmvSketch(base.repartition(7, col("text")),
      "source", "text", k = 32)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("kmvSketch: k=256 estimate lands within the theoretical band") {
    // σ/μ ≈ 1/√(k−2) ≈ 6.3% at k=256; a deterministic fixture either
    // passes or fails reproducibly — 25% is a 4σ guard against a BROKEN
    // estimator (off by 2× fails), not a statistical coin flip.
    val exact = docs.select(col("source"),
        explode(graft.ext.TextOps.tokens(col("text"))).as("t"))
      .select(col("source"), SketchOps.h60(col("t")).as("h"))
      .distinct().groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SketchOps.kmvSketch(docs, "source", "text", k = 256)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (g, e) =>
      val x = exact(g).toDouble
      assert(math.abs(e - x) / x <= 0.25,
        s"source $g: est $e vs exact $x")
    }
  }

  test("KMinDistinct buffer: duplicate-blind, capped, merge == union") {
    import spark.implicits._
    // values engineered so group hashing is irrelevant: feed longs
    // directly through the SQL function on a one-group frame
    val vals = Seq(5L, 3L, 9L, 3L, 1L, 7L, 5L, 2L, 8L, 1L)
    val df = vals.toDF("v")
    val out = df.repartition(3).agg(
        call_function("graft_kmin", col("v"), lit(4)).as("m"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(1L, 2L, 3L, 5L)) // 4 smallest distinct, sorted
  }

  // -------------------------------------------------------- CMS

  test("cmsSketch: estimates never undercount and hit exact for top-20") {
    val sketch = SketchOps.cmsSketch(docs, "text")
    val exact = docs
      .select(explode(graft.ext.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_exact"))
    val probes = exact.orderBy(col("n_exact").desc, col("token")).limit(20)
    val est = SketchOps.cmsEstimate(sketch, probes, "token").collect()
    assert(est.length == 20)
    est.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("n_exact"),
        s"CMS undercounted ${r.getAs[String]("token")}")
    }
  }

  test("cmsSketch: every depth row sums to the total token count") {
    val total = docs.select(
        size(graft.ext.TextOps.tokens(col("text"))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val rows = SketchOps.cmsSketch(docs, "text")
      .groupBy("j").agg(sum(col("cnt")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(0, 1, 2, 3))
    rows.values.foreach(s => assert(s == total))
  }

  test("sketch rep tier: weighted-distinct grid == member grain, heavy " +
      "hitters == naive, on a clone-heavy corpus") {
    // 6 copies of every document → dup factor 6 ≥ 4 fires the
    // distinct-text tier (one cheap HLL probe); instance counts are
    // per-text functions, so Σ_rows = Σ_classes m·count must hold
    // CELL-FOR-CELL, not just in aggregate.
    val heavy = (1 to 6).map(_ => docs.select(col("text")))
      .reduce(_ unionAll _)
    val grid = SketchOps.cmsSketch(heavy, "text").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (memberDf, _) = graft.engine.GrainProbe.forcing(rep = false)(
      SketchOps.cmsSketch(heavy, "text"))
    val member = memberDf.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(grid == member)
    val hh = SketchOps.heavyHitters(heavy, "text", minCount = 30L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val naive = heavy
      .select(explode(graft.ext.TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 30L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == naive && hh.nonEmpty)
  }

  test("duplicate-blind sketches: distinct-pair tier == row grain per " +
      "group on clone mass") {
    import spark.implicits._
    // KMV minima, HLL registers, and Bloom words are pure functions of
    // each group's distinct text SET, so per-group results cannot
    // change when (a) the group's rows are cloned 6× (fires the
    // distinct tier) or (b) a filler GROUP is added (dilutes dup
    // factor below 4 → row grain). Compare group g1/g2 under both.
    val gtexts = Seq(("g1", "alpha beta gamma delta epsilon"),
      ("g1", "zeta eta theta iota kappa"),
      ("g2", "lambda mu nu xi omicron pi rho"))
    val a = (for { (g, t) <- gtexts; c <- 0 until 6 } yield (g, t))
      .toDF("g", "text")
    val filler = (0 until 200)
      .map(i => ("gf", s"filler row $i carries token ${i * 31}"))
      .toDF("g", "text")
    val b = a.unionAll(filler)
    def kmv(d: org.apache.spark.sql.DataFrame) =
      SketchOps.kmvSketch(d, "g", "text", k = 64)
        .filter(col("g").isin("g1", "g2"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .toSet
    def hll(d: org.apache.spark.sql.DataFrame) =
      SketchOps.hllSketch(d, "g", "text", p = 6)
        .filter(col("g").isin("g1", "g2"))
        .collect().map(_.toSeq).toSet
    def bloom(d: org.apache.spark.sql.DataFrame) =
      SketchOps.bloomWords(d, "g", "text", mBits = 126, depth = 2,
          gramN = 1)
        .filter(col("g").isin("g1", "g2"))
        .collect().map(_.toSeq).toSet
    assert(kmv(a) == kmv(b) && kmv(a).nonEmpty)
    assert(hll(a) == hll(b) && hll(a).nonEmpty)
    assert(bloom(a) == bloom(b) && bloom(a).nonEmpty)
  }

  // -------------------------------------------------------- HLL

  test("hllSketch: p=8 estimate lands within the theoretical band") {
    // σ/μ ≈ 1.04/√m ≈ 6.5% at m=256; 26% is a 4σ broken-estimator
    // guard on a deterministic fixture, not a coin flip
    val exact = docs.select(col("source"),
        explode(graft.ext.TextOps.shingles(
          graft.ext.TextOps.tokens(col("text")), 3)).as("t"))
      .select(col("source"), SketchOps.h60(col("t")).as("h"))
      .distinct().groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SketchOps.hllSketch(docs, "source", "text", p = 8,
        gramN = 3)
      .collect().map(r => r.getString(0) ->
        r.getAs[Long]("est_distinct")).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (g, e) =>
      val x = exact(g).toDouble
      assert(math.abs(e - x) / x <= 0.26, s"source $g: est $e vs $x")
    }
  }

  test("hllSketch: duplicate-blind and partition-layout independent") {
    val base = docs.select(col("source"), col("text"))
    def run(df: org.apache.spark.sql.DataFrame) =
      SketchOps.hllSketch(df, "source", "text", p = 6, gramN = 3)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Int]("n_zero_registers"),
            r.getAs[Long]("t_harmonic"),
            r.getAs[Long]("est_distinct"))).toMap
    val once = run(base.repartition(1))
    assert(once == run(base.repartition(7, col("text"))))
    assert(once == run(base.union(base))) // set semantics: max-merge
  }

  test("hllRegisters merge by elementwise max (the sketch IS mergeable)") {
    import spark.implicits._
    val a = Seq((1, "alpha beta gamma delta")).toDF("g", "text")
    val b = Seq((1, "gamma delta epsilon zeta eta")).toDF("g", "text")
    def regs(df: org.apache.spark.sql.DataFrame) =
      SketchOps.hllRegisters(df, "g", "text", 4, 1)
        .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    val merged = (regs(a).toSeq ++ regs(b).toSeq)
      .groupBy(_._1).map { case (j, vs) => j -> vs.map(_._2).max }
    assert(regs(a.union(b)) == merged)
  }

  test("hllSketch: no distinct Expand, two keyed exchanges " +
      "(register fold + register-table decode)") {
    val p = plan(SketchOps.hllSketch(docs, "source", "text", p = 8,
      gramN = 3))
    assert(!p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  // -------------------------------------------------------- heavy hitters

  private def naiveHeavy(minCount: Long, gramN: Int) = {
    val toks = graft.ext.TextOps.tokens(col("text"))
    val units = if (gramN <= 1) toks
      else coalesce(graft.ext.TextOps.shingles(toks, gramN),
        array().cast("array<string>"))
    docs.select(explode(units).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") >= minCount)
  }

  test("heavyHitters equals the naive exact HAVING — wide and " +
      "saturated grids alike") {
    // width=4 forces every cell over threshold: the pre-filter prunes
    // NOTHING, so equality exercises the no-false-negatives half of the
    // proof; width=8192 actually prunes and exercises the
    // collision-false-positive removal half.
    for (w <- Seq(4, 8192)) {
      val got = SketchOps.heavyHitters(docs, "text", minCount = 6L,
          width = w, gramN = 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = naiveHeavy(6L, 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"width=$w: ${got.size} vs ${want.size}")
    }
  }

  test("heavyHitters: grid probe is a plan literal — no join, one " +
      "keyed exchange carrying candidates only") {
    val p = plan(SketchOps.heavyHitters(docs, "text", minCount = 6L,
      width = 8192, gramN = 3))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // the candidate filter runs BEFORE the exchange (map side)
    assert(p.indexOf("Filter") < p.indexOf("Exchange hashpartitioning"), p)
  }

  // -------------------------------------------------------- overlap

  test("kmvOverlapMatrix: under-full sketches give exact set algebra") {
    import spark.implicits._
    val df = Seq((1, "a b c d"), (2, "c d e f"), (3, "x y"))
      .toDF("g", "text")
    val out = SketchOps.kmvOverlapMatrix(df, "g", "text", k = 256)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Int]("k_union"), r.getAs[Int]("n_shared"),
          r.getAs[Long]("union_est_distinct"),
          r.getAs[Long]("jaccard_ppm"))).toMap
    assert(out.keySet == Set((1, 2), (1, 3), (2, 3)))
    assert(out((1, 2)) == (6, 2, 6L, 2L * 1000000L / 6L)) // {c,d} of {a..f}
    assert(out((1, 3)) == (6, 0, 6L, 0L))
    assert(out((2, 3)) == (6, 0, 6L, 0L))
  }

  test("kmvOverlapMatrix: identical sources read as full overlap") {
    import spark.implicits._
    val df = Seq((1, "p q r s t"), (2, "p q r s t")).toDF("g", "text")
    val row = SketchOps.kmvOverlapMatrix(df, "g", "text", k = 8)
      .collect()(0)
    assert(row.getAs[Long]("jaccard_ppm") == 1000000L)
    assert(row.getAs[Int]("n_shared") == row.getAs[Int]("k_union"))
  }

  test("kmvOverlapMatrix: partition-layout independent") {
    val base = docs.select(col("source"), col("text"))
    def run(df: org.apache.spark.sql.DataFrame) =
      SketchOps.kmvOverlapMatrix(df, "source", "text", k = 64, gramN = 3)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("union_est_distinct"),
            r.getAs[Long]("jaccard_ppm"))).toMap
    assert(run(base.repartition(1)) ==
      run(base.repartition(7, col("text"))))
  }

  test("kmvOverlapMatrix: pair stage broadcasts the sketch side") {
    val p = plan(SketchOps.kmvOverlapMatrix(docs, "source", "text",
      k = 64, gramN = 3))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // -------------------------------------------------------- coverage

  test("vocabCoverage equals the window-rank naive mirror") {
    val ks = Seq(3, 10, 100000)
    val got = SketchOps.vocabCoverage(docs, "text", ks)
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Long]("covered_tokens"), r.getAs[Long]("coverage_ppm")))
      .toMap
    // naive mirror: explicit global window rank
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("t"))
    val vocab = docs
      .select(explode(graft.ext.TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
    val total = vocab.agg(sum("c")).collect()(0).getLong(0)
    ks.foreach { k =>
      val cov = vocab.filter(col("rk") <= k)
        .agg(coalesce(sum("c"), lit(0L))).collect()(0).getLong(0)
      assert(got(k) == (cov, cov * 1000000L / total), s"k=$k")
    }
    // the cut beyond the vocabulary covers everything
    assert(got(100000)._2 == 1000000L)
    // monotone in k
    assert(got(3)._1 <= got(10)._1 && got(10)._1 <= got(100000)._1)
  }

  // -------------------------------------------------------- plan pins

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("kmvSketch plans one ObjectHashAggregate pair — no distinct " +
      "Expand, no corpus-distinct shuffle") {
    val p = plan(SketchOps.kmvSketch(docs, "source", "text", k = 256))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Expand"), p)
    // exactly one KEYED exchange — the (group) partial->final hop; the
    // narrow-scan spread's RoundRobin repartition doesn't count
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("vocabCoverage: no window anywhere (two-pass rank instead)") {
    val p = plan(SketchOps.vocabCoverage(docs, "text", Seq(10, 100)))
    assert(!p.contains("Window"), p)
  }

  test("cmsEstimate: grid side broadcasts") {
    val sketch = SketchOps.cmsSketch(docs, "text")
    val probes = docs
      .select(explode(graft.ext.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_exact"))
      .limit(5)
    val p = plan(SketchOps.cmsEstimate(sketch, probes, "token"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  // -------------------------------------------------------- Bloom

  test("bloomWords/bloomProbe: no false negatives — every built unit " +
      "probes true; bounded word count; duplicate-blind") {
    import spark.implicits._
    val df = Seq(("a", "x y z x y"), ("a", "z w"), ("b", "p q"))
      .toDF("g", "text")
    val sk = SketchOps.bloomWords(df, "g", "text",
      mBits = 630, depth = 3, gramN = 1)
    // word index bounded by ceil(m/63); bits never 0 (every row is a
    // folded slab, empty slabs simply don't exist as rows)
    val rows = sk.collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 10))
    assert(rows.forall(r => r.getLong(2) != 0L))
    // duplicate-blind: the same corpus repeated builds the SAME filter
    val sk2 = SketchOps.bloomWords(df.union(df), "g", "text",
      mBits = 630, depth = 3, gramN = 1)
    assert(sk.collect().toSet == sk2.collect().toSet)
    // membership: every unit that went in probes true in its own group
    val probes = df.select(col("g"),
      explode(graft.ext.TextOps.tokens(col("text"))).as("u")).distinct()
    val probed = SketchOps.bloomProbe(sk, probes, "g", "u",
      mBits = 630, depth = 3)
    assert(probed.collect().forall(_.getAs[Boolean]("bloom_hit")))
    // a never-seen unit in an m >> n filter probes false
    val miss = SketchOps.bloomProbe(sk,
      Seq(("a", "never_seen_token_42")).toDF("g", "u"), "g", "u",
      mBits = 630, depth = 3).collect()
    assert(miss.length == 1 && !miss(0).getAs[Boolean]("bloom_hit"))
  }

  test("bloomWords plans one keyed exchange with map-side partial " +
      "bit_or — no Expand, no distinct") {
    val p = plan(SketchOps.bloomWords(docs, "source", "text",
      mBits = 16384, depth = 3, gramN = 3))
    assert(!p.contains("Expand"), p)
    // one partial->final hop on (group, word); the narrow-scan spread's
    // RoundRobin repartition doesn't count
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_bit_or") || p.contains("bit_or"), p)
  }

  // ------------------------------------------- log-hist quantiles

  test("logHistSketch: buckets clear all but the top mBits+1 " +
      "significant bits; non-positive rows excluded by contract") {
    import spark.implicits._
    // scale=1 on integer-valued doubles: i = v exactly.
    val df = Seq(("g", 37.0), ("g", 100.0), ("g", 3.0), ("g", 0.0),
      ("g", -5.0)).toDF("g", "v")
    val out = SketchOps.logHistSketch(df, "g", "v", mBits = 2,
        scale = 1.0).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("cnt")).toMap
    // 37 = 100101b (len 6, shift 3) -> 100000b = 32
    // 100 = 1100100b (len 7, shift 4) -> 1100000b = 96
    // 3 = 11b (len 2 <= mBits+1) -> exact bucket 3
    assert(out == Map(32L -> 1L, 96L -> 1L, 3L -> 1L))
  }

  test("histQuantiles: rank/bucket decode equals a Scala mirror of " +
      "the integer arithmetic on 1..100") {
    import spark.implicits._
    val m = 3
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val sk = SketchOps.logHistSketch(df, "g", "v", mBits = m,
      scale = 1.0)
    val out = SketchOps.histQuantiles(sk, "g", Seq(50, 90, 99, 100),
        scale = 1.0).collect()
      .map(r => r.getAs[Long]("p") ->
        (r.getAs[Long]("n"), r.getAs[Long]("bucket_lo"),
          r.getAs[Double]("est"))).toMap
    def bucket(i: Long): Long = {
      val sh = math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(i))
        - 1 - m)
      i - i % (1L << sh)
    }
    val buckets = (1L to 100L).map(bucket)
    def expect(p: Int): Long = {
      val r = (100L * p + 99) / 100
      buckets.sorted.apply((r - 1).toInt)
    }
    for (p <- Seq(50, 90, 99, 100)) {
      val (n, lo, est) = out(p.toLong)
      assert(n == 100L && lo == expect(p) && est == lo.toDouble, s"p$p")
    }
    // relative-error guarantee: bucket_lo <= true disc quantile
    // < bucket_lo * (1 + 2^-m)
    for (p <- Seq(50, 90, 99, 100)) {
      val trueQ = (1 to 100).sorted.apply(
        (math.ceil(100.0 * p / 100).toInt - 1)).toDouble
      val lo = out(p.toLong)._2.toDouble
      assert(lo <= trueQ && trueQ < lo * (1.0 + math.pow(2, -m)),
        s"p$p: lo=$lo true=$trueQ")
    }
  }

  test("logHistSketch: mergeable (union sketch = summed counts) and " +
      "partition-layout independent; one keyed exchange, no window") {
    import spark.implicits._
    val a = (1 to 60).map(i => ("g", i * 7.0 % 300 + 1)).toDF("g", "v")
    val b = (1 to 40).map(i => ("g", i * 13.0 % 300 + 1)).toDF("g", "v")
    def m(df: org.apache.spark.sql.DataFrame) =
      SketchOps.logHistSketch(df, "g", "v", mBits = 4, scale = 10.0)
        .collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("cnt")).toMap
    val (ma, mb, mu) = (m(a), m(b), m(a.unionAll(b)))
    assert(mu == (ma.keySet ++ mb.keySet).map(k =>
      k -> (ma.getOrElse(k, 0L) + mb.getOrElse(k, 0L))).toMap)
    val re = m(a.repartition(17, col("v")))
    assert(re == ma)
    val p = plan(SketchOps.logHistSketch(a, "g", "v", mBits = 4,
      scale = 10.0))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Window"), p)
  }

  test("bloomWords: partition-layout independent; probe side " +
      "broadcasts the sketch") {
    val base = docs.select(col("source"), col("text"))
    val a = SketchOps.bloomWords(base.repartition(1), "source", "text",
      mBits = 16384, depth = 3, gramN = 3).collect().toSet
    val b = SketchOps.bloomWords(base.repartition(13, col("text")),
      "source", "text", mBits = 16384, depth = 3, gramN = 3)
      .collect().toSet
    assert(a == b)
    val sk = SketchOps.bloomWords(base, "source", "text",
      mBits = 16384, depth = 3, gramN = 3)
    val probes = docs.select(col("source"), lit("x y z").as("u"))
      .distinct()
    val p = plan(SketchOps.bloomProbe(sk, probes, "source", "u",
      mBits = 16384, depth = 3))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cmsEstimate keeps a null-token probe row with cms_est = 0") {
    import spark.implicits._
    val sketch = SketchOps.cmsSketch(Seq("alpha beta alpha").toDF("text"),
      "text", width = 1024)
    val probes = Seq(Some("alpha"), None, Some("absent")).toDF("token")
    val got = SketchOps.cmsEstimate(sketch, probes, "token", width = 1024)
      .collect()
      .map(r => Option(r.getString(0)) -> r.getAs[Long]("cms_est")).toMap
    assert(got == Map(Some("alpha") -> 2L, None -> 0L, Some("absent") -> 0L),
      got.toString)
  }
}
