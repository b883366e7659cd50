package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming slice (SURVEY §2.9): the `events` pipeline as a
  * stream — watermarked tumbling/sliding/session windows, stateful dedupe,
  * and `foreachBatch` reuse of the batch sink layer.
  *
  * Every transform takes/returns DataFrame so the SAME code path serves a
  * `readStream` source in production and a `MemoryStream` in tests; the
  * batch twins in [[graft.Queries]] (qEventsHourly / qEventsSessions) pin
  * the expected results.
  *
  * Scale notes: watermarks bound the state store (late data beyond the
  * delay is dropped — the same coerce-and-tolerate posture the reference
  * applies to malformed input, `db_core.py:86-95`); aggregation state is
  * per (window, key) — partitioned by group key across executors;
  * `dropDuplicatesWithinWatermark` keeps only ids newer than the watermark
  * rather than all-time history, so dedupe state is bounded too.
  */
object Streaming {

  /** Exact decimal-accumulated sum of a double expression → double
    * (same oracle-parity accumulator as the batch queries). */
  private def dsum(e: Column): Column =
    sum(e.cast(DecimalType(30, 6))).cast(DoubleType)

  /** Hourly tumbling aggregation — streaming twin of
    * [[graft.Queries.qEventsHourly]] (same output schema, same decimal
    * accumulation, hour rendered as a formatted string). */
  def eventsHourly(events: DataFrame,
                   watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("min_value"), col("max_value"))

  /** Sliding-window event counts (window/slide e.g. "1 hour"/"15 minutes")
    * — each event lands in window/slide overlapping windows. */
  def eventsSliding(events: DataFrame, windowLen: String, slide: String,
                    watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session windows per user: a session closes after `gap` of inactivity
    * — the streaming twin of the batch gap-sessionization in
    * [[graft.Queries.qEventsSessions]] (30-minute gap). */
  def eventsSessions(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stateful exact dedupe on event id, with state BOUNDED by the
    * watermark: an id is remembered only until the watermark passes its
    * event time (vs `dropDuplicates` whose state grows forever). */
  def dedupeEvents(events: DataFrame,
                   watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream inner join with an event-time interval: pair each left
    * event with right events for the same user within `within` AFTER it.
    * Both sides carry watermarks so the join state is bounded — Spark
    * buffers only rows younger than watermark+interval, then evicts.
    * Column prefixes disambiguate the two sides. */
  def correlatedEvents(left: DataFrame, right: DataFrame,
                       within: String = "10 minutes",
                       watermarkDelay: String = "1 hour"): DataFrame =
    correlatedImpl(left, right, within, watermarkDelay, "inner")

  /** Left-outer variant of [[correlatedEvents]]: left events with NO
    * match within the window still emit (null right columns) — but only
    * once the watermark passes the end of their join window, because
    * until then a matching right event could still arrive. This is the
    * "did the user convert within N minutes?" shape where the negative
    * answer matters as much as the positive; the watermark bound is what
    * keeps both join states AND the unmatched buffer finite. */
  def correlatedEventsOuter(left: DataFrame, right: DataFrame,
                            within: String = "10 minutes",
                            watermarkDelay: String = "1 hour"): DataFrame =
    correlatedImpl(left, right, within, watermarkDelay, "leftOuter")

  private def correlatedImpl(left: DataFrame, right: DataFrame,
                             within: String, watermarkDelay: String,
                             joinType: String): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Stream-static enrichment join: the event stream joined against a
    * static dimension frame (re-read per micro-batch if the underlying
    * source changes). The static side is broadcast when small — the
    * standard dimension-enrichment shape; no watermark needed because the
    * static side never ages. */
  def enriched(events: DataFrame, dim: DataFrame,
               joinKey: String): DataFrame =
    events.join(broadcast(dim), joinKey)

  /** Custom keyed state via `mapGroupsWithState`: running per-user totals
    * that survive across micro-batches (the arbitrary-stateful-processing
    * surface — what windowed aggs can't express). State is one (count,
    * sum) pair per user — partitioned across executors by group key; pair
    * with a state TTL/timeout in production to bound it. */
  /** Incremental per-key top-k (SURVEY §2.10 "incremental top-k for
    * sessions"): for each event_type, maintain the k highest-value events
    * seen so far and emit the CURRENT top-k set on every update. State is
    * a bounded k-element list per key (a few KB regardless of stream
    * length); ties break on event_id for determinism. `flatMapGroups
    * WithState` because one input batch can change several ranks — the
    * whole refreshed top-k is emitted, not a delta. */
  def topKPerKey(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.selectExpr("event_type", "event_id", "value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Double)],
        (String, Int, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            rows.map { case (_, id, v) => (id, v) })
            .sortBy { case (id, v) => (-v, id) }
            .take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((id, v), i) =>
            (key, i + 1, id, v)
          }
      }
      .toDF("event_type", "rnk", "event_id", "value")
  }

  /** Incremental nearest-neighbor top-k over a session stream — the
    * streaming twin of [[graft.ext.SimilarityOps.bruteForceTopK]]'s
    * ranking, for "what are this session's k closest corpus items so
    * far" (e.g. retrieval context accumulating as a user session
    * produces embeddings). Each arriving event's vector is scored
    * against the STATIC corpus via a broadcast cross join (corpus never
    * shuffles; cosine is the same codegen'd dot/norm/round-6 pipeline as
    * the batch scorer), then `flatMapGroupsWithState` keyed by session
    * folds candidates into the k best distinct neighbors seen so far
    * (per-neighbor max score, ties by neighbor id) and emits the
    * refreshed top-k on every update.
    *
    * The bounded k-entry state IS the exact answer: an entry is evicted
    * only when k distinct neighbors hold strictly better achieved
    * scores, which disqualifies it from every future top-k too (scores
    * only accumulate). Equality with the batch rank-over-max twin is
    * asserted by the unit test across micro-batch boundaries.
    *
    * Contract: events carry (session_id, vec); corpus supplies
    * (`idCol`, `vecCol`). State per session: k (neighbor, score) pairs —
    * a few hundred bytes regardless of stream length. */
  def sessionNeighborTopK(events: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val c = corpus.select(col(idCol).as("_nid"), col(vecCol).as("_cv"),
      graft.ext.SimilarityOps.norm(col(vecCol)).as("_cn"))
    val scored = events
      .select(col("session_id"), col("vec").as("_qv"),
        graft.ext.SimilarityOps.norm(col("vec")).as("_qn"))
      .join(broadcast(c)) // cross: every corpus item scores per event
      .select(col("session_id"), col("_nid"),
        round(graft.ext.SimilarityOps.dot(col("_qv"), col("_cv")) /
          (col("_qn") * col("_cn")), 6).as("_score"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Double)],
        (Long, Int, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (sess, rows, state) =>
          val best = scala.collection.mutable.Map.empty[Long, Double]
          state.getOption.getOrElse(Seq.empty)
            .foreach { case (n, s) => best(n) = s }
          rows.foreach { case (_, n, s) =>
            if (best.get(n).forall(_ < s)) best(n) = s
          }
          val top = best.toSeq
            .sortBy { case (n, s) => (-s, n) }.take(k)
          state.update(top)
          top.iterator.zipWithIndex.map { case ((n, s), i) =>
            (sess, i + 1, n, s)
          }
      }
      .toDF("session_id", "rnk", "neighbor_id", "score")
  }

  /** Streaming as-of enrichment — the streaming twin of
    * [[graft.transform.Temporal.asofJoinBackward]]: each left event is
    * joined to the right event with the greatest event-time ≤ its own,
    * among right events SEEN SO FAR.
    *
    * Semantics contract (documented, not hidden): within one micro-batch
    * the group's rows are processed in event-time order (right before
    * left on ties), so in-order streams reproduce the batch as-of result
    * exactly — asserted by the unit test. Across micro-batches a late
    * right event does NOT retro-correct matches already emitted (emitted
    * rows are immutable in append semantics), and a left event that
    * arrives after a NEWER right event was recorded gets a null match
    * (the state keeps one latest-by-event-time entry per key, so "was
    * there an older right?" is unanswerable — null is honest, a stale
    * guess is not). For exact as-of over out-of-order history, run the
    * batch operator on completed data.
    *
    * State: ONE (ts, value) pair per key — bounded regardless of stream
    * length, partitioned across executors by key.
    */
  def asofEnriched(left: DataFrame, right: DataFrame): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val l = left.selectExpr("user_id", "ts", "event_id", "value")
      .withColumn("_side", lit(1))
    val r = right.selectExpr("user_id", "ts", "event_id", "value")
      .withColumn("_side", lit(0))
    l.unionByName(r)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"), col("_side"))
      .as[(Long, Long, Long, Double, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double),
        (Long, Long, Long, Double, Option[Long], Option[Double])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var latest = state.getOption // (right ts_us, right value)
          val out = rows.toSeq
            .sortBy { case (_, tsUs, id, _, side) => (tsUs, side, id) }
            .flatMap {
              case (_, tsUs, _, v, 0) =>
                if (latest.forall(_._1 <= tsUs)) latest = Some((tsUs, v))
                None
              case (_, tsUs, id, v, _) =>
                val m = latest.filter(_._1 <= tsUs)
                Some((user, id, tsUs, v, m.map(_._1), m.map(_._2)))
            }
          latest.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "event_id", "ts_us", "purchase_value",
        "click_ts_us", "click_value")
  }

  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0; var s = s0
          rows.foreach { case (_, v) => c += 1; s += v }
          state.update((c, s))
          (user, c, s)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** foreachBatch bridge into the K9 keyed upsert: each micro-batch
    * merges insert-or-overwrite into the store (batched per partition,
    * executors write directly). Because upserts are idempotent per key,
    * a micro-batch replayed after a failure re-writes the same documents
    * — the at-least-once foreachBatch contract becomes effectively
    * exactly-once for the stored state (SURVEY §2.9: "K9 upsert maps
    * naturally to foreachBatch merge"). */
  def startUpsertSink(df: DataFrame, idColumn: String,
                      store: graft.sinks.Upsert.KeyedStore,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!graft.engine.Engine.isEmpty(batch))
          graft.sinks.Upsert.keyedUpsert(batch, idColumn, store)
        ()
      }
      .start()

  /** foreachBatch bridge into the batch sink layer (K-series): every
    * micro-batch appends through [[graft.sinks.Sinks.loadDataFrame]],
    * whose empty-input guard skips an empty batch (the reference's
    * empty-input short-circuit, `db_core.py:99-101`). */
  def startParquetSink(df: DataFrame, path: String, checkpointDir: String,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.Sinks.loadDataFrame(batch, path, "append")
        ()
      }
      .start()
}
