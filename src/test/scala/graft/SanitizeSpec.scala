package graft

import org.apache.spark.sql.functions._
import graft.transform.Sanitize

/** W3-W6 sanitizer semantics vs `core/utils/db_core.py:41-72` and
  * `core/utils/sheets_core.py:80-84,194-209`. */
class SanitizeSpec extends SparkSpec {

  test("sanitizeName matches reference rules (db_core.py:55-72)") {
    assert(Sanitize.sanitizeName("  My Col!  ") == "My_Col")
    assert(Sanitize.sanitizeName("a  b--c") == "a_b_c")
    assert(Sanitize.sanitizeName("__x__") == "x")
    assert(Sanitize.sanitizeName("9lives") == "col_9lives")
    assert(Sanitize.sanitizeName("col") == "col")
    assert(Sanitize.sanitizeName("!!!") == "col")
    assert(Sanitize.sanitizeName("preço médio") == "pre_o_m_dio")
  }

  test("sanitizeName is idempotent and warehouse-safe (property, 2000 cases)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abZ09 _-!é.çõ\t中%"
    (1 to 2000).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      val once = Sanitize.sanitizeName(s)
      assert(Sanitize.sanitizeName(once) == once, s"not idempotent on ${s.inspect}")
      assert(once.matches("[A-Za-z][A-Za-z0-9_]*"), s"unsafe name $once from ${s.inspect}")
      assert(!once.endsWith("_"), s"edge underscore in $once")
    }
  }

  private implicit class Inspect(s: String) {
    def inspect: String = s.map(c => f"\\u${c.toInt}%04x").mkString("\"", "", "\"")
  }

  test("sanitizeColumnNames renames without touching data") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("Bad Name!", "9col")
    val out = Sanitize.sanitizeColumnNames(df)
    assert(out.columns.toSeq == Seq("Bad_Name", "col_9col"))
    assert(out.collect()(0).getInt(0) == 1)
  }

  test("sanitizeNulls fills numeric→0 and string→'' (db_core.py:41-53)") {
    import spark.implicits._
    val df = Seq[(Option[Int], Option[String], Option[Double])](
      (Some(1), Some("x"), Some(1.5)), (None, None, None))
      .toDF("i", "s", "d")
    val rows = Sanitize.sanitizeNulls(df).orderBy(desc("i")).collect()
    assert(rows(1).getInt(0) == 0)
    assert(rows(1).getString(1) == "")
    assert(rows(1).getDouble(2) == 0.0)
  }

  test("stringifyForExport: ISO timestamps, null→empty, rest cast to string") {
    import spark.implicits._
    val df = Seq(
      (Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05")), Some(42), Some("x")),
      (None, None, None))
      .toDF("ts", "n", "s")
    val rows = Sanitize.stringifyForExport(df).orderBy(desc("n")).collect()
    assert(rows(0).getString(0) == "2024-01-02T03:04:05")
    assert(rows(0).getString(1) == "42")
    assert(rows(1).toSeq == Seq("", "", ""))
  }

  test("isoFormatTimestamps converts only timestamp columns") {
    import spark.implicits._
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), 7))
      .toDF("ts", "n")
    val out = Sanitize.isoFormatTimestamps(df)
    assert(out.schema("ts").dataType.typeName == "string")
    assert(out.schema("n").dataType.typeName == "integer")
    assert(out.collect()(0).getString(0) == "2024-01-02T03:04:05")
  }

  test("winsorize clips to the exact-percentile band, raw column intact") {
    import spark.implicits._
    // values 1..10: p10 = 1.9, p90 = 9.1 (exact interpolated percentile)
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val out = graft.transform.Sanitize.winsorize(df, "v", 0.1, 0.9)
      .collect().map(r => (r.getAs[Double]("v"), r.getAs[Double]("v_wins"),
        r.getAs[Double]("v_lo"), r.getAs[Double]("v_hi")))
    out.foreach { case (_, _, lo, hi) =>
      assert(lo == 1.9 && hi == 9.1, s"band ($lo, $hi)")
    }
    out.foreach { case (v, w, _, _) =>
      val expect = math.min(math.max(v, 1.9), 9.1)
      assert(w == expect, s"v=$v wins=$w")
      assert(v == out.find(_._1 == v).get._1) // raw survives
    }
    assert(out.count { case (v, w, _, _) => v != w } == 2) // 1 and 10
  }

  test("winsorizeApprox edges sit within the documented rank bound of exact") {
    import spark.implicits._
    // 10 000 distinct values, deliberately scrambled across partitions
    // so per-buffer summaries actually merge. With accuracy = 1000 the
    // guarantee is rank error ≤ n/accuracy = 10 ranks; values are the
    // identity function of rank, so |approx − exact| ≤ 10 in VALUE
    // space too — assert with that exact slack, no fuzz factor.
    val n = 10000
    val acc = 1000
    val df = new scala.util.Random(42).shuffle((1 to n).toVector)
      .map(_.toDouble).toDF("v").repartition(8)
    val exact = graft.transform.Sanitize.winsorize(df, "v", 0.05, 0.95)
      .select("v_lo", "v_hi").head()
    val approx = graft.transform.Sanitize
      .winsorizeApprox(df, "v", 0.05, 0.95, accuracy = acc)
      .select("v_lo", "v_hi").head()
    val slack = n.toDouble / acc
    assert(math.abs(approx.getDouble(0) - exact.getDouble(0)) <= slack,
      s"lo: approx=${approx.getDouble(0)} exact=${exact.getDouble(0)}")
    assert(math.abs(approx.getDouble(1) - exact.getDouble(1)) <= slack,
      s"hi: approx=${approx.getDouble(1)} exact=${exact.getDouble(1)}")
    // approx edges are actual data values, never interpolated ones
    assert(approx.getDouble(0) == approx.getDouble(0).floor)
    assert(approx.getDouble(1) == approx.getDouble(1).floor)
  }

  test("madOutliers: hand-checked robust band; mean-corrupting spike") {
    import spark.implicits._
    // 9 values near 10 plus one wild spike: med = 10, MAD = 1.
    // Classic z-score with the spike in the moments would need the
    // spike to shift mean/sigma; the robust band ignores it entirely.
    val df = (Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0) :+
      1000.0).toDF("v")
    val out = graft.transform.Sanitize.madOutliers(df, "v", k = 3.0)
    val med = out.select("_med").head().getDouble(0)
    val mad = out.select("_mad").head().getDouble(0)
    assert(med == 10.0 && mad == 1.0)
    val flagged = out.filter(col("is_outlier")).select("v")
      .collect().map(_.getDouble(0)).toSeq
    // band is 10 ± 3·1.4826 = [5.55, 14.45]: only the spike flags
    assert(flagged == Seq(1000.0))
    // layout independence
    val re = graft.transform.Sanitize.madOutliers(df.repartition(4),
      "v", k = 3.0).filter(col("is_outlier")).select("v")
      .collect().map(_.getDouble(0)).toSeq
    assert(re == flagged)
  }

  test("quantileNormalize: equal-size groups land on identical " +
    "distributions; rank-preserving; extremes map to pooled extremes") {
    import spark.implicits._
    // group a scores low (0..9), group b scores high (100..109):
    // after normalization both must carry the SAME value multiset
    val df = ((0 until 10).map(i => (i.toLong, "a", i.toLong * 10)) ++
      (0 until 10).map(i => (100L + i, "b", 1000L + i))).toDF(
      "id", "g", "score")
    val out = Sanitize.quantileNormalize(df, "g", "id", "score")
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("g"),
        r.getAs[Long]("score"), r.getAs[Long]("grp_rank"),
        r.getAs[Long]("norm_score")))
    val byG = out.groupBy(_._2)
    val aVals = byG("a").map(_._5).sorted.toSeq
    val bVals = byG("b").map(_._5).sorted.toSeq
    assert(aVals == bVals, s"a=$aVals b=$bVals")
    // each group sees every SECOND pooled value (rank·20/10 even ranks)
    val pooled = df.collect().map(_.getLong(2)).sorted
    assert(aVals == (1 to 10).map(i => pooled(2 * i - 1)).toSeq)
    // rank-preserving within the group
    byG.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq)
    }
    // the group maximum maps to the pooled maximum
    assert(out.filter(_._4 == 10L).forall(_._5 == pooled.last))
    // layout independence
    val again = Sanitize.quantileNormalize(df.repartition(7), "g",
        "id", "score").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("norm_score"))
      .toMap
    assert(again == out.map(t => t._1 -> t._5).toMap)
  }

  test("exactPercentiles size gate: a fatal error from the stats read " +
      "propagates; a non-fatal one takes the distributed tier") {
    import org.apache.spark.sql.graft.FailingStats
    val fatal = intercept[StackOverflowError] {
      Sanitize.exactPercentiles(
        FailingStats.frame(spark, new StackOverflowError("stats read")),
        col("v"), Seq(0.5))
    }
    assert(fatal.getMessage == "stats read")
    val routed = Sanitize.exactPercentiles(
      FailingStats.frame(spark, new IllegalStateException("stats read")),
      col("v"), Seq(0.5))
    // only the distributed two-level rank plans a window
    assert(routed.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]))
  }
}
