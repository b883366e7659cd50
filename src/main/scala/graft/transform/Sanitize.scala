package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tiers
import graft.functions.Functions

/** Schema/value sanitizers (SURVEY §2.7 W3-W6).
  *
  * Name sanitization is a driver-side rename (schema operation, zero data
  * movement); null-filling compiles to a single projection that Catalyst
  * fuses with neighbors — both are scale-free.
  */
object Sanitize {

  /** W4 — warehouse-safe column-name normalization
    * (`core/utils/db_core.py:55-72`): trim, non-alnum → `_`, collapse
    * runs of `_`, strip edge `_`, prefix `col_` when starting with a digit.
    * Idempotent (property-tested).
    */
  def sanitizeName(name: String): String = {
    val cleaned = name.trim
      .replaceAll("[^a-zA-Z0-9_]", "_")
      .replaceAll("_+", "_")
      .replaceAll("^_+|_+$", "")
    val base = if (cleaned.isEmpty) "col" else cleaned
    if (base.head.isDigit) s"col_$base" else base
  }

  /** W4 applied to a frame — pure rename, no shuffle, no scan. */
  def sanitizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(sanitizeName).toIndexedSeq: _*)

  /** W3 — type-class null fill (`core/utils/db_core.py:41-53`):
    * numeric → 0, string → "". Timestamp coercion (errors → null) happens
    * at parse time via [[Functions.coercingTimestamp]], so nothing to do
    * for datetime columns here.
    */
  def sanitizeNulls(df: DataFrame): DataFrame = {
    val numericCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    df.na.fill(0, numericCols.toIndexedSeq).na.fill("", stringCols.toIndexedSeq)
  }

  /** W5 — format every timestamp column as an ISO-8601 string
    * (`core/utils/sheets_core.py:80-84`). */
  def isoFormatTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (acc, f) if isTimestamp(f.dataType) =>
        acc.withColumn(f.name, Functions.isoFormat(col(f.name)))
      case (acc, _) => acc
    }

  /** Parquet TIMESTAMP without timezone loads as TimestampNTZType (Spark
    * infers NTZ by default) — treat both flavors as timestamps. */
  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** W6 — stringify every cell for export: timestamps → ISO, null → "",
    * everything else → `cast(string)` (`core/utils/sheets_core.py:194-209`).
    */
  /** Exact percentiles of a double column as ONE 1-row frame
    * `(_p0, _p1, ...)` — value-identical to
    * `percentile(col, array(ps...))` (the q_percentiles-proven DuckDB
    * `quantile_cont` pairing) but DISTRIBUTED: Spark's exact
    * `percentile` accumulates a boxed value→count OpenHashMap per
    * aggregation buffer and merges the maps on one task — ~30 s for
    * 60M rows at sf10 where a codegen'd value-count aggregate does the
    * same reduction in ~2 s. Rows reduce through a plain
    * `groupBy(value).count()` (distributed, compiled, map-side
    * partials); the cumulative rank runs over the DISTINCT values (a
    * single-partition window, but over distinct-value rows — bounded
    * for the repeated-value columns this engine winsorizes; truly
    * unbounded domains belong to the approx variant, as before); the
    * interpolation replays Percentile.getPercentile's exact branch
    * structure — `pos = p·(n−1)`,
    * `(ceil(pos)−pos)·v_lo + (pos−floor(pos))·v_hi`, integral-position
    * and equal-keys branches returning v_lo — the identical IEEE
    * expression tree, so edges match bit-for-bit (selfcheck-pinned via
    * t_winsorize / t_mad_outliers). Nulls are skipped, like
    * `percentile`; an empty/all-null column yields one row of null
    * edges (so caller cross-joins stay non-annihilating). */
  private[graft] def exactPercentiles(
      df: DataFrame, value: org.apache.spark.sql.Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"bad percentiles $ps")
    // SIZE-GATED plan tier: the two paths below are value-identical
    // (the distributed interpolation replays Percentile.getPercentile's
    // exact IEEE branches), so the gate only picks a plan shape. Small
    // inputs take Spark's exact `percentile` — ONE aggregate pass; its
    // per-buffer value→count map and single-task merge are the right
    // shape for a small domain, where the distributed form costs ~4
    // extra stages. Large inputs take the distributed two-level rank:
    // on a continuous column the boxed map grows with the distinct
    // count and its merge funnels through one reducer (~30 s/60M rows
    // at sf10). The gate prices the value column's plan estimate (no
    // job) as objects on one JVM.
    if (Tiers.fitsLocal(df.sparkSession)(Tiers.planned(df.select(value)))) {
      val arr = df.agg(
        percentile(value.cast("double"),
          array(ps.map(lit): _*)).as("_ps"))
      return arr.select(ps.indices.map(i =>
        element_at(col("_ps"), i + 1).as(s"_p$i")): _*)
    }
    // Two-level cumulative rank over the DISTINCT values — the r17
    // verdict's scale hazard was a `Window.orderBy(_v)` with no
    // partitioning here: on a continuous double column distinct ≈ n
    // and the whole domain sorted on ONE task. Values bin by the top
    // 16 bits of their order-preserving IEEE long (graft_dbits — a
    // PURE function of the value: no min/max pre-pass, no
    // range-partitioner sampling, deterministic under plan re-use);
    // the prefix sum then runs per-bin in parallel, per-bin offsets
    // and the row total come from the ≤2¹⁶-row bin relation. `_cum`
    // is the identical exact integer either way, so the interpolation
    // (and the t_winsorize / t_mad_outliers oracle hashes) are
    // unchanged. Arithmetic shiftright keeps the signed order, so the
    // bin is monotone nondecreasing in _v under Spark's total
    // ordering (NaN greatest) — all the offsets arithmetic needs.
    val cnt = df.select(value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
    val binned = cnt.withColumn("_bin",
      shiftright(call_function("graft_dbits", col("_v")), 48))
    val wOffCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("_bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("_bin"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val offs = binned.groupBy(col("_bin")).agg(sum(col("_c")).as("_bc"))
      .select(col("_bin"),
        (sum(col("_bc")).over(wOffCum) - col("_bc")).as("_off"),
        sum(col("_bc")).over(wAll).as("_n"))
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bin")).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val withN = binned.join(broadcast(offs), Seq("_bin"))
      .withColumn("_cum", sum(col("_c")).over(wLoc) + col("_off"))
    def pos(i: Int) = lit(ps(i)) * (col("_n") - 1).cast("double")
    val rawAggs = ps.indices.flatMap { i =>
      Seq(
        min(when(col("_cum") >= floor(pos(i)).cast("long") + 1,
          col("_v"))).as(s"_vlo$i"),
        min(when(col("_cum") >= ceil(pos(i)).cast("long") + 1,
          col("_v"))).as(s"_vhi$i"))
    } :+ max(col("_n")).as("_n2")
    val agged = withN.agg(rawAggs.head, rawAggs.tail: _*)
      .withColumnRenamed("_n2", "_n")
    ps.indices.foldLeft(agged) { case (a, i) =>
      val p = pos(i)
      val lo = floor(p)
      val hi = ceil(p)
      a.withColumn(s"_p$i",
        when(col("_n").isNull, lit(null).cast("double"))
          .when(hi === lo || col(s"_vhi$i") === col(s"_vlo$i"),
            col(s"_vlo$i"))
          .otherwise((hi - p) * col(s"_vlo$i") +
            (p - lo) * col(s"_vhi$i")))
    }.select(ps.indices.map(i => col(s"_p$i")): _*)
  }

  /** Winsorize a numeric column: clip values outside the [lo, hi]
    * exact-percentile band to the band edges (Tukey's outlier-taming
    * transform — the numeric-cleaning analog of the text quality
    * filters; `value < p_lo → p_lo`, `value > p_hi → p_hi`). Appends
    * `<col>_wins` (double) plus the band edges, leaving the raw column
    * intact for audit.
    *
    * Scale shape: one exact-percentile aggregate (a per-buffer
    * value→count map — fine at fixture scale; use [[winsorizeApprox]]
    * at 100 TB, same plan shape with constant-memory buffers)
    * cross-joined back as a broadcast 1-row frame; the clip itself is
    * a narrow projection.
    * Exact `percentile` matches DuckDB's `quantile_cont` (the
    * q_percentiles-proven pairing), so the edges are oracle-exact. */
  def winsorize(df: DataFrame, valueCol: String, lo: Double = 0.01,
                hi: Double = 0.99): DataFrame = {
    require(lo >= 0.0 && lo < hi && hi <= 1.0, s"bad band [$lo, $hi]")
    // BOTH percentiles from one aggregate call: `percentile` builds a
    // value→count map per buffer, so two separate calls would pay the
    // build+merge+sort twice for the same column. Column reference is
    // built from the Column API (no string splice — a backtick in the
    // name can't break out of the quoted identifier).
    val bounds = exactPercentiles(df, col(valueCol), Seq(lo, hi))
      .select(col("_p0").as("_plo"), col("_p1").as("_phi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_wins",
        least(greatest(col(valueCol).cast("double"), col("_plo")),
          col("_phi")))
      .withColumnRenamed("_plo", s"${valueCol}_lo")
      .withColumnRenamed("_phi", s"${valueCol}_hi")
  }

  /** MAD (median-absolute-deviation) outlier flags — the robust
    * replacement for mean/σ z-scores, whose moments the outliers
    * themselves corrupt: flag rows with
    * `|x − median| > k · 1.4826 · MAD` (1.4826 is the Gaussian
    * consistency constant, so k reads as "k robust sigmas"; Iglewicz &
    * Hoaglin's classic k=3.5, default 3).
    *
    * Two sequential exact `percentile` aggregates (the median, then
    * the median of |x − median|), each a 1-row broadcast — same
    * value→count buffer caveat as [[winsorize]]; swap the percentile
    * calls for `approx_percentile` on corpus-scale columns exactly as
    * [[winsorizeApprox]] does. Appends `_med`/`_mad`/`is_outlier`. */
  def madOutliers(df: DataFrame, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    require(k > 0.0, s"k must be > 0: $k")
    val v = col(valueCol).cast("double")
    val med = exactPercentiles(df, v, Seq(0.5))
      .select(col("_p0").as("_med"))
    val dev = df.crossJoin(broadcast(med))
      .withColumn("_absdev", abs(v - col("_med")))
    val mad = exactPercentiles(dev, col("_absdev"), Seq(0.5))
      .select(col("_p0").as("_mad"))
    dev.crossJoin(broadcast(mad))
      .withColumn("is_outlier",
        col("_absdev") > lit(k) * lit(1.4826) * col("_mad"))
      .drop("_absdev")
  }

  /** [[winsorize]] with `approx_percentile` band edges — the 100 TB
    * path. Exact `percentile` accumulates a value→count map PER
    * AGGREGATION BUFFER: on high-cardinality doubles the buffer grows
    * with the distinct count, and at corpus scale the merge phase
    * funnels gigabyte maps through one reducer — the aggregate itself
    * becomes the bottleneck. `approx_percentile` keeps a fixed-size
    * quantile summary (Greenwald-Khanna) per buffer instead: constant
    * memory, cheap merges, same one-aggregate-then-broadcast plan.
    *
    * Error bound (the documented contract, asserted in SanitizeSpec):
    * with `accuracy` = a, the returned edge is the value at SOME rank
    * within ±n/a of the requested rank (Spark guarantees rank error ≤
    * floor(1/a · n)) — so the clip band is off by at most that rank
    * slack, never by an out-of-distribution VALUE (edges are always
    * actual data values). Not oracle-exact by design; the oracled
    * `t_winsorize` keeps the exact variant. Default a=10000 ⇒ ≤0.01 %
    * rank error. */
  def winsorizeApprox(df: DataFrame, valueCol: String, lo: Double = 0.01,
                      hi: Double = 0.99, accuracy: Int = 10000): DataFrame = {
    require(lo >= 0.0 && lo < hi && hi <= 1.0, s"bad band [$lo, $hi]")
    require(accuracy >= 1, s"bad accuracy $accuracy")
    val bounds = df.agg(
        approx_percentile(col(valueCol).cast("double"),
          array(lit(lo), lit(hi)), lit(accuracy)).as("_pband"))
      .select(element_at(col("_pband"), 1).as("_plo"),
        element_at(col("_pband"), 2).as("_phi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_wins",
        least(greatest(col(valueCol).cast("double"), col("_plo")),
          col("_phi")))
      .withColumnRenamed("_plo", s"${valueCol}_lo")
      .withColumnRenamed("_phi", s"${valueCol}_hi")
  }

  def stringifyForExport(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = f.dataType match {
        case dt if isTimestamp(dt) => Functions.isoFormat(col(f.name))
        case _ => col(f.name).cast("string")
      }
      coalesce(c, lit("")).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Quantile normalization of a per-group score distribution onto the
    * POOLED distribution (Bolstad et al. 2003's microarray recipe,
    * here the cross-source score-calibration step): a document's
    * normalized score is the pooled score found at the same relative
    * rank — `ceil(rank_g · N / n_g)` — so every group's normalized
    * distribution becomes (a rank-preserving resample of) the pooled
    * one, and a "keep score ≥ t" cut stops meaning different things
    * for sources whose classifiers drift apart. Rank-preserving within
    * each group by construction; EXACT integers end to end (the rank
    * product rides DECIMAL(38,0) — rank·N passes 2⁶³ at corpus scale;
    * scores themselves are the caller's integers, never interpolated).
    *
    * Scale shape: both rank passes are the two-pass range-partitioned
    * machinery ([[Ids.assignContiguousIds]]/[[Ids.assignGroupedRanks]])
    * — neither the pooled nor any mega-group ordering ever meets a
    * single-partition window — and the remap is ONE long-keyed
    * equi-join of the corpus against the narrow (rank, score) pooled
    * relation. Ties order by `idCol` in both passes, so the map is a
    * deterministic bijection on ranks.
    *
    * Appends `grp_rank`, `n_group`, and `norm_score` (same type as
    * `scoreCol`). */
  def quantileNormalize(df0: DataFrame, groupCol: String, idCol: String,
                        scoreCol: String): DataFrame = {
    // Score ONCE (the scoreTiles lesson): each rank pass range-samples
    // AND shuffles its input, so an un-cut caller chain (a classifier
    // scoring a corpus) would re-evaluate ~4× across the two passes —
    // the r11c sf10 probe measured 183.8 s for what is 42.1 s with the
    // input checkpointed. The frame is narrow by contract (group, id,
    // score ride the ranks; everything else joins back by id if the
    // caller wants it).
    val df = graft.engine.Engine.materialize(df0)
    val pooledRanked = graft.engine.Engine.materialize(
      Ids.assignContiguousIds(df,
        struct(col(scoreCol), col(idCol)), "_prk", 1L))
    val pooled = pooledRanked
      .select(col("_prk").as("_trk"), col(scoreCol).as("norm_score"))
    val n = pooledRanked.agg(count(lit(1)).as("_n"))
    val granked = Ids.assignGroupedRanks(df, groupCol,
      Seq(col(scoreCol), col(idCol)), "grp_rank", "n_group")
    granked.crossJoin(broadcast(n))
      .withColumn("_trk",
        expr("cast((cast(grp_rank as decimal(38,0)) * _n + n_group - 1)" +
          " div n_group as bigint)"))
      .join(pooled, Seq("_trk"))
      .drop("_trk", "_n")
  }
}
