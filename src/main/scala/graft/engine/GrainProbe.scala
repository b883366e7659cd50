package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Memoized dup-mass probe behind every rep-tier decision (the
  * `fanOutPerText` rule: class grain at ≥4× duplication factor).
  *
  * The probe itself is one count + fixed-size-HLL aggregate over the
  * key expression — cheap per call, but it is an EXTRA eager corpus
  * pass and an extra Spark job fired at DataFrame-construction time,
  * once per op invocation. A bench/driver loop calls ~40 per-text ops
  * against the same immutable fixture dir, so the identical probe plan
  * re-executes ~40+ times per session (r16 verdict "what's wrong" #2:
  * one whole extra corpus read per query). The verdict is therefore
  * memoized per (session, canonicalized probe plan).
  *
  * Why memoizing is sound and NOT result caching:
  *   - The probed value only picks a PLAN SHAPE — the row-grain and
  *     class-grain tiers are result-identical by construction (pinned
  *     rep==member in TextOpsSpec/SketchOpsSpec/DedupOpsSpec), so even
  *     a stale verdict can never change any query's output.
  *   - The key is the canonicalized logical plan of the probe
  *     aggregate itself: two ops probe the same cache entry only when
  *     their input plan AND key expression are semantically identical.
  *   - A mid-session rewrite (Dml sinks) clears the session's
  *     verdicts through [[SessionCaches.invalidate]]; a probe racing
  *     the rewrite may still keep a verdict for the old data, which
  *     costs at most a suboptimal-but-correct plan.
  *
  * Streaming inputs never reach this (callers keep their
  * `!df.isStreaming` guard — tier probes are batch-only by contract).
  */
object GrainProbe {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, LogicalPlan), java.lang.Boolean]

  /** True when `key`'s distinct mass is ≤ 1/4 of the row count over
    * `df` — fire the class/rep tier. Empty input (null HLL cell) is
    * row grain. */
  def dupTier(df: DataFrame, key: Column): Boolean = {
    val probe = df.agg(count(lit(1)), approx_count_distinct(key))
    val plan = probe.queryExecution.analyzed.canonicalized
    // Unbounded growth guard: a long-lived session probing ever-new
    // plans (not the bench shape) would otherwise pin plans forever.
    if (cache.size > 4096) cache.clear()
    val k = (df.sparkSession, plan)
    // Probe OUTSIDE the map lock (r17 advice): computeIfAbsent would
    // hold the bin lock for the probe job's whole duration, blocking
    // concurrent probes that hash to the same bin. Duplicate probes
    // under a race are idempotent (same verdict either way).
    val hit = cache.get(k)
    if (hit != null) hit.booleanValue()
    else {
      val r = probe.head()
      val v = java.lang.Boolean.valueOf(
        !r.isNullAt(1) && r.getLong(1) * 4 <= r.getLong(0))
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
