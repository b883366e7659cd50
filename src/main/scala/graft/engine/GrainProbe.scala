package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** The class tier of the per-text ops: one gate ([[classes]]) and one
  * class relation ([[TextClasses]]).
  *
  * A per-text op computes something that is a pure function of a
  * document's text. When the input holds at least 4× as many rows as
  * distinct texts, it runs once per class of equal texts and copies the
  * results back to each member row; otherwise it runs per row. The
  * caller names the class key, because what counts as "equal" is the
  * op's own contract: raw `md5(text)` when the derived values are case
  * or length sensitive, [[graft.ext.TextOps.fingerprint]] when they
  * depend only on `tokens(text)`, and a null sentinel in the key where
  * null-text rows must keep a row. Both grains return the same rows and
  * columns (pinned per op in ClassTierSpec), so the gate picks a plan
  * shape, never a result.
  *
  * The gate is one count plus a fixed-size HyperLogLog aggregate over
  * the key: an eager Spark job at DataFrame-construction time. Its
  * verdict is memoized per (session, canonicalized probe plan), so a
  * loop of ops over the same input probes once per session:
  *   - the key is the canonicalized logical plan of the probe aggregate
  *     itself, so two ops share an entry only when their input plan AND
  *     key expression are semantically identical;
  *   - a mid-session rewrite (Dml sinks) clears the session's verdicts
  *     through [[SessionCaches.invalidate]]; a probe racing the rewrite
  *     may keep a verdict for the old data, which costs at most a
  *     slower plan, never a different result.
  *
  * Streaming inputs always take row grain (no extra action per
  * micro-batch). Specs run one op at both grains on the same input
  * with [[forcing]]. */
object GrainProbe {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, LogicalPlan), java.lang.Boolean]

  /** A spec's forced grain and the number of tier decisions it took. */
  private final class Force(val rep: Boolean) {
    @volatile var decisions = 0
  }

  private val forced = new scala.util.DynamicVariable[Option[Force]](None)

  /** Build `body` with every class-tier decision taken as `rep` (class
    * grain when true) on this thread and the threads it starts; returns
    * the result and how many decisions `body` took. Ops decide at
    * construction, so only building the frame needs to run inside. */
  private[graft] def forcing[A](rep: Boolean)(body: => A): (A, Int) = {
    val f = new Force(rep)
    val a = forced.withValue(Some(f))(body)
    (a, f.decisions)
  }

  /** The class tier of one per-text op over `rows`: the gate decides
    * once whether the op runs per class of `key` or per row. `text` is
    * the text column the op reads; `id` is the column per-row results
    * are keyed on (needed by [[TextClasses.fanOut]] and the `_k`/`_mid`
    * columns of the relation). */
  def classes(rows: DataFrame, key: Column, text: Column,
              id: Column = null): TextClasses = {
    val rep = !rows.isStreaming && (forced.value match {
      case Some(f) => f.decisions += 1; f.rep
      case None => dupTier(rows, key)
    })
    new TextClasses(rows, key, text, Option(id), rep)
  }

  /** True when `key`'s distinct mass is ≤ 1/4 of the row count over
    * `df`: fire the class tier. Empty input is row grain (the HLL cell
    * of zero rows reads 0, not null). */
  private[graft] def dupTier(df: DataFrame, key: Column): Boolean = {
    val probe = df.agg(count(lit(1)), approx_count_distinct(key))
    val plan = probe.queryExecution.analyzed.canonicalized
    // Unbounded growth guard: a long-lived session probing ever-new
    // plans (not the bench shape) would otherwise pin plans forever.
    if (cache.size > 4096) cache.clear()
    val k = (df.sparkSession, plan)
    // Probe OUTSIDE the map lock: computeIfAbsent would hold the bin
    // lock for the probe job's whole duration, blocking concurrent
    // probes that hash to the same bin. Duplicate probes under a race
    // are idempotent (same verdict either way).
    val hit = cache.get(k)
    if (hit != null) hit.booleanValue()
    else {
      val r = probe.head()
      val v = java.lang.Boolean.valueOf(
        r.getLong(0) > 0 && r.getLong(1) * 4 <= r.getLong(0))
      val prev = cache.putIfAbsent(k, v)
      (if (prev != null) prev else v).booleanValue()
    }
  }

  /** Drop every verdict of one session — the
    * [[SessionCaches.invalidate]] hook (plan-keyed entries cannot be
    * mapped to a table dir, so a DML rewrite clears the session). */
  private[engine] def clearSession(spark: SparkSession): Unit = {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }
}

/** One op's class tier, decided once by [[GrainProbe.classes]]. An op
  * writes its per-text work once against [[relation]] and copies the
  * results back with [[fanOut]] (results keyed by `_k`) or [[derive]]
  * (columns appended to every row). At row grain the relation is the
  * rows themselves and both are projections, so the row-grain plan is
  * the op's plain per-row plan. */
final class TextClasses private[engine] (rows: DataFrame, key: Column,
    text: Column, id: Option[Column], val rep: Boolean) {

  /** `(_k, _m, _t, _mid, carry…)`. Class grain: one row per class of the
    * key and the `carry` columns, `_k` the key, `_m` the member count,
    * `_t` the min text, `_mid` the min id. Row grain: one row per input
    * row, `_k = _mid = id` and `_m = 1` (no `_k`/`_mid` without an id).
    * Carry columns must be constant within a class, or be part of what
    * the op groups on (they refine the class at class grain). */
  def relation(carry: Column*): DataFrame =
    if (rep)
      rows.groupBy(key.as("_k") +: carry: _*)
        .agg(count(lit(1)).as("_m"),
          (min(text).as("_t") +: id.map(min(_).as("_mid")).toSeq): _*)
    else
      rows.select(id.map(_.as("_k")).toSeq ++
        Seq(lit(1L).as("_m"), text.as("_t")) ++
        id.map(_.as("_mid")).toSeq ++ carry: _*)

  /** The map from rows to their relation rows: `(idName, _k)`, with
    * `_k` the class key at class grain and the id at row grain. */
  def keys(idName: String): DataFrame = {
    val idc = id.getOrElse(throw new IllegalArgumentException(
      "the class tier has no id column"))
    rows.select(idc.as(idName), (if (rep) key else idc).as("_k"))
  }

  /** Per-class results keyed by `_k` → per-row results keyed by
    * `idName`, through [[keys]]. `how = "inner"` keeps the rows whose
    * class has a result; `"left"` keeps every row (nulls where its
    * class has none). At row grain an inner fan-out is a rename of
    * `_k`. */
  def fanOut(perClass: DataFrame, idName: String,
             how: String = "inner"): DataFrame =
    if (!rep && how == "inner") perClass.withColumnRenamed("_k", idName)
    else keys(idName).join(perClass, Seq("_k"), how).drop("_k")

  /** `rows` plus the pure-text columns of `f` (name → column over the
    * text), evaluated by a sequential `withColumn` fold, so later
    * columns may name earlier ones. A derived name that exists in
    * `rows` replaces it in place. At class grain the columns evaluate
    * once per class and come back through one key join, whose class
    * side is broadcast when it fits [[Tiers]]' budget; the result
    * keeps the row-grain column order. Row order is not kept. */
  def derive(f: Column => Seq[(String, Column)]): DataFrame =
    if (!rep) f(text).foldLeft(rows) { case (a, (n, c)) => a.withColumn(n, c) }
    else {
      val derived = f(col("_t"))
      val names = derived.map(_._1)
      val stats = derived.foldLeft(relation()) {
        case (a, (n, c)) => a.withColumn(n, c)
      }.drop("_m", "_t")
      val order = rows.columns.toSeq ++
        names.distinct.filterNot(rows.columns.contains)
      names.foldLeft(rows.withColumn("_k", key))(_ drop _)
        .join(Tiers.broadcastIfFits(stats)(Tiers.planned(stats)),
          Seq("_k"))
        .select(order.map(n => col(s"`$n`")): _*)
    }

  /** Member rows behind a group of relation rows: `count(1)` at row
    * grain, `Σ _m` at class grain (group on [[keepWeight]] keys). */
  def members: Column = if (rep) sum(col("_m")) else count(lit(1))

  /** Σ over member rows of a per-relation-row value `c`: `sum(c)` at
    * row grain, `Σ _m·c` at class grain. */
  def memberSum(c: Column): Column =
    if (rep) sum(col("_m") * c) else sum(c)

  /** Grouping `keys`, plus `_m` at class grain so that a later
    * [[members]]/[[memberSum]] still sees each class's weight. */
  def keepWeight(keys: Column*): Seq[Column] =
    if (rep) keys :+ col("_m") else keys
}
