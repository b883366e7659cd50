package graft.engine

import org.apache.spark.sql.SparkSession

/** Central registry of the (session, fixture-dir)-keyed memo maps
  * (ExtQueries' stagesCache/ccCache/fuzzyCache/bpeCache/lmSumsCache/…,
  * TextOps' lmKeySums) plus the [[GrainProbe]] verdict map — so the
  * DML sinks can INVALIDATE instead of documenting the staleness
  * footgun (r17 verdict "what's wrong" #3 / ask #9: the caches are
  * sound under the bench's immutable-input discipline, but this engine
  * ships rewrite sinks, and a mid-session `Dml.update`/`delete` of a
  * cached table must not serve stale frames).
  *
  * Contract: every cache that memoizes a relation derived from the
  * fixture tables under some directory registers itself here, keyed
  * `(session, dir)`. [[invalidate]] drops every entry whose dir
  * contains the mutated path (and the session-wide GrainProbe verdicts
  * — plan-keyed, so they cannot be mapped back to a dir). Dropping an
  * entry never breaks an in-flight frame: values are checkpoint-backed
  * DataFrames whose blocks the ContextCleaner releases only when
  * unreferenced.
  */
object SessionCaches {

  private val registered = new java.util.concurrent.CopyOnWriteArrayList[
    java.util.concurrent.ConcurrentHashMap[(SparkSession, String), _]]()

  // Observability for the bench artifact (r17 verdict ask #10): the
  // FIRST consumer of a shared subtree pays its materialization inside
  // its timed region, later consumers read it ~free — so per-query
  // times understate standalone cost for warm readers. Bench snapshots
  // these counters around each query and publishes which queries hit a
  // warm entry vs which paid a fill.
  private val fillsCtr = new java.util.concurrent.atomic.AtomicLong
  private val hitsCtr = new java.util.concurrent.atomic.AtomicLong
  def fills: Long = fillsCtr.get()
  def hits: Long = hitsCtr.get()

  /** Bumped by [[invalidate]] before it drops entries. */
  private val epoch = new java.util.concurrent.atomic.AtomicLong

  /** Memoize through a registered map, counting warm hits vs fills.
    * The compute runs OUTSIDE any map lock (the GrainProbe argument:
    * a fill is a multi-second Spark job; holding the bin lock would
    * serialize unrelated fills). A lost race recomputes and discards —
    * idempotent, the maps hold pure functions of immutable inputs. A
    * fill that an [[invalidate]] overlapped may have read the replaced
    * files: it answers its caller but is withdrawn from the map. */
  def memo[V](m: java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), V], k: (SparkSession, String))
      (compute: => V): V = {
    val hit = m.get(k)
    if (hit != null) { hitsCtr.incrementAndGet(); hit }
    else {
      val seen = epoch.get()
      val v = compute
      val prev = m.putIfAbsent(k, v)
      if (epoch.get() != seen) m.remove(k, v)
      if (prev != null) { hitsCtr.incrementAndGet(); prev }
      else { fillsCtr.incrementAndGet(); v }
    }
  }

  /** Register a memo map; returns it so declarations stay one-liners. */
  def register[V](m: java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), V])
      : java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V] = {
    registered.add(m)
    m
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) p.stripPrefix("file:") else p

  /** Drop every cached entry of `spark` whose key dir contains
    * `mutatedPath` (the table path a DML sink just rewrote), plus the
    * session's GrainProbe verdicts. Safe to call concurrently with
    * cache fills: a fill in flight while this runs is served to its
    * own caller but never kept (see [[memo]]). */
  def invalidate(spark: SparkSession, mutatedPath: String): Unit = {
    epoch.incrementAndGet()
    val p = stripScheme(mutatedPath)
    registered.forEach { m =>
      val it = m.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 eq spark) {
          val d = stripScheme(k._2)
          if (p == d || p.startsWith(d + "/") || d.startsWith(p + "/"))
            it.remove()
        }
      }
    }
    GrainProbe.clearSession(spark)
  }
}
