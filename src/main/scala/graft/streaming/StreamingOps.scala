package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo,
  GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor,
  StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming operators for the events stream (SURVEY.md §7.6):
  * the streaming duals of the batch EventQueries. Each transform takes a
  * (possibly streaming) DataFrame with the `events` schema
  * (event_id, ts, user_id, event_type, value) and returns a streaming-safe
  * plan: `readStream -> transform -> writeStream` composes directly.
  *
  * Batch/stream parity: because these are plain DataFrame transforms, the
  * SAME function applied to the batch `events` table gives the reference
  * answer for the streaming output — StreamingSpec asserts that with a
  * MemoryStream source.
  */
object StreamingOps {

  /** Runs `body` with `confs` set on `spark`, then restores each key to
    * what it was before: its earlier explicit value, or unset when it had
    * none. Restored also when `body` throws. */
  private[graft] def withConfs[T](spark: SparkSession,
      confs: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val before = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Starts a stream so that its tasks reuse the generated code that
    * earlier runs of the same pipeline compiled. The one place under
    * `src/main` that calls a stream writer's `start()`.
    *
    * Spark's codegen cache is keyed by the task thread's context class
    * loader together with the generated source. `start()` clones the
    * session, and under the default
    * `spark.sql.artifact.isolation.enabled=true` each clone gets its own
    * executor class-loader scope, so a byte-identical plan is compiled
    * again on every start (~52 Janino classes per `stream_ann_ingest`
    * run), and the cache and the executor's isolated-session cache keep
    * the dead scope's loader and classes alive afterwards. Cloning copies
    * the conf, so isolation is off for the stream's session alone: the
    * conf is set on `spark` only around `start()` and restored at once.
    *
    * The toggle assumes streams are started from one thread: a session
    * that another thread clones from `spark` during `start()` would also
    * lose isolation, and that thread's own change to the key would be
    * overwritten by the restore. */
  def start(spark: SparkSession, writer: DataStreamWriter[_]): StreamingQuery =
    withConfs(spark, "spark.sql.artifact.isolation.enabled" -> "false") {
      writer.start()
    }

  /** Tumbling-window counts/sums per event type, tolerating `lateness`
    * of out-of-order data before a window closes (watermark). */
  def tumblingWindowStats(
      events: DataFrame,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Stateful sessionization: per-user sessions closed after `gapMs` of
    * inactivity, emitted on state timeout. Custom state machine via
    * flatMapGroupsWithState — the streaming dual of the batch
    * lag+running-sum sessionization in EventQueries.
    *
    * Scope: exact for watermark lateness 0 (the spec's deployment).
    * A gap crossed INSIDE one micro-batch emits the earlier session
    * immediately; with lateness > 0 an admissible late event could have
    * bridged that gap, so for late-tolerant pipelines use
    * [[sessionizeWithTimers]], which never emits from input processing
    * (its documented invariant) and holds sessions until the timer. */
  def sessionize(events: Dataset[Event], gapMs: Long = 1800000L,
      lateness: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            // Late events > gapMs BEFORE the carried session can never
            // merge with it. The single-session state can't hold a second
            // open session, so they fold into their own earlier
            // session(s), emitted this batch (an even-later arrival that
            // would have extended one is lost to it — the same
            // emit-on-gap tradeoff the in-batch gap case already makes).
            var pre = Option.empty[SessionState]
            def closeOut(s: SessionState): Unit =
              closed ::= Session(userId, new java.sql.Timestamp(s.start),
                new java.sql.Timestamp(s.end), s.n, s.total)
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t < s.start - gapMs =>
                  pre match {
                    case Some(p) if t - p.end <= gapMs =>
                      pre = Some(p.copy(start = math.min(p.start, t),
                        end = math.max(p.end, t),
                        n = p.n + 1, total = p.total + e.value))
                    case other =>
                      other.foreach(closeOut)
                      pre = Some(SessionState(t, t, 1, e.value))
                  }
                case Some(s) if t - s.end <= gapMs =>
                  // min/max, not t: an admissible late event (t inside or
                  // within gap of the session) merges but must never move
                  // end backward (re-arming the timeout early fragments)
                  // nor leave start unextended (duration misreported)
                  cur = Some(s.copy(start = math.min(s.start, t),
                    end = math.max(s.end, t),
                    n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closeOut(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            // The carried session's start can move BACKWARD during this
            // batch (admissible late merges), so an event routed to `pre`
            // against the old start may now be within gap of the new one:
            // merge instead of emitting a fragment (the batch dual yields
            // one session there). Only the open `pre` can qualify — any
            // earlier pre-session was closed because the next pre event
            // was already > gap after it, and cur.start never drops below
            // that boundary.
            (pre, cur) match {
              case (Some(p), Some(s)) if s.start - p.end <= gapMs =>
                cur = Some(s.copy(start = math.min(p.start, s.start),
                  n = s.n + p.n, total = s.total + p.total))
              case _ => pre.foreach(closeOut)
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup on a key expression within the watermark
    * horizon — `dropDuplicates` with event-time bound state. */
  def streamingDedup(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup: normalized-text fingerprints
    * (graft.operators.TextAnalysis.fingerprint) deduplicated within the
    * watermark horizon — the streaming face of the batch exact-dedup
    * operator, for ingest pipelines that must drop near-real-time
    * duplicate documents. Expects (ts, text) columns; keeps the first
    * arrival of each fingerprint. */
  def streamingContentDedup(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.operators.TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming INGEST CURATION: the batch curation gate composed as one
    * streaming-safe transform — per-row quality scoring (stateless column
    * expressions), a score threshold, then content-fingerprint dedup
    * bounded by the watermark horizon. Docs stream in as (doc_id, ts,
    * text); survivors carry their score and fingerprint. The only state
    * is the dedup key set inside the watermark — the same pipeline a
    * 100 TB/day ingest runs ahead of the batch curation stages, and the
    * SAME function applied to a static frame is the batch reference
    * (parity asserted in StreamingSpec). */
  def streamingCurate(
      docs: DataFrame, minScore: Double = 0.5,
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("quality_score",
        graft.operators.TextAnalysis.qualityFeatures(col("text"))
          .getField("quality_score"))
      .where(col("quality_score") >= minScore)
      .withColumn("fingerprint",
        graft.operators.TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming DRIFT MONITOR: per-event-time-window population-stability
    * index of the `value` distribution against a fixed reference
    * histogram (`refProbs`, the training-time bin shares). One stateful
    * aggregation — the per-bin counts are conditional sums inside a
    * single windowed agg, so state is bins·|open windows| counters, and
    * the PSI arithmetic after it is stateless column math. Emits
    * (window_start, n, psi) when the watermark closes a window; an alert
    * threshold is a `where(col("psi") > x)` on the result. The SAME
    * function on a static frame is the batch reference (parity in
    * StreamingSpec). Bin edges are fixed [lo, hi) — a streaming global
    * min/max cannot exist; at 100 TB these come from the reference
    * profile, and out-of-range values clamp to the edge bins. */
  def streamingDriftMonitor(
      events: DataFrame, refProbs: Seq[Double], lo: Double, hi: Double,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame = {
    val bins = refProbs.length
    require(bins >= 2, "need at least 2 reference bins")
    // a zero reference bin makes psi Infinity for every window (and a
    // negative one makes it NaN, so alerts never fire) — the reference
    // histogram must be smoothed by its producer, exactly like the
    // +0.5-smoothed batch stats_psi_drift
    require(refProbs.forall(_ > 0.0),
      s"reference probabilities must all be > 0 (smooth the reference " +
        s"histogram); got $refProbs")
    // degenerate/inverted range: the bin division is NULL (non-ANSI) or
    // a runtime divide-by-zero (ANSI) — garbage PSI either way; fail at
    // construction like the refProbs check
    require(hi > lo, s"need hi > lo, got lo=$lo hi=$hi")
    val bin = least(greatest(
      floor((col("value") - lit(lo)) * bins / lit(hi - lo)), lit(0.0)),
      lit(bins - 1.0))
    val counts = (0 until bins).map(i =>
      sum(when(bin === i.toDouble, 1L).otherwise(0L)).as(s"c$i"))
    val total = (0 until bins).map(i => col(s"c$i")).reduce(_ + _)
    val psi = (0 until bins).map { i =>
      val p1 = (col(s"c$i") + 0.5) / (col("n") + 0.5 * bins)
      val p2 = lit(refProbs(i))
      (p1 - p2) * log(p1 / p2)
    }.reduce(_ + _)
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n", total)
      .select(col("window.start").as("window_start"), col("n"), psi.as("psi"))
  }

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 arbitrary-state operator (`transformWithState`): per-user
    * running totals in a typed ValueState slot, re-emitted every
    * micro-batch (Update mode). This is the modern replacement for
    * mapGroupsWithState — named state slots (value/list/map) with
    * per-slot TTL, timers, and the RocksDB state-store backend (required:
    * set spark.sql.streaming.stateStore.providerClass to
    * RocksDBStateStoreProvider). At scale the state lives off-heap in
    * RocksDB with incremental checkpointing to the checkpoint location —
    * state size is bounded by distinct keys, not stream length. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var agg: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)]("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserRunning] = {
      var (n, tot) = if (agg.exists()) agg.get() else (0L, 0.0)
      rows.foreach { e => n += 1; tot += e.value }
      agg.update((n, tot))
      Iterator(UserRunning(key, n, tot))
    }
  }

  /** Running per-user (count, sum) via [[RunningTotalsProcessor]]. */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming TOP-K per group: the bounded-heap aggregate
    * ([[graft.operators.TopKAggregator]]) as a streaming aggregation.
    * The batch alternative — row_number() over a window — is ILLEGAL on
    * a stream (non-time-based windows are unsupported); a true aggregate
    * streams naturally because its state is the mergeable k-bounded
    * buffer per group, updated incrementally every micro-batch.
    *
    * Sink modes: Complete re-emits every group's current top-k each
    * batch (what StreamingSpec asserts); Update re-emits only groups
    * whose top-k changed — with an append-only sink (e.g. memory) the
    * consumer must then keep the LATEST row per group, since superseded
    * snapshots remain in the sink. */
  def streamingTopK(events: DataFrame, k: Int = 3): DataFrame = {
    val tk = graft.operators.TopK.udafFor(k)
    events.groupBy(col("event_type"))
      .agg(tk(col("value"), col("event_id")).as("top"))
  }

  case class UserEwma(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming dual of the batch `events_ewma` query: per-user
    * exponentially weighted moving average in O(1) ValueState — the
    * production path for unbounded series (the batch form collects the
    * whole series per user). Each step re-rounds at 1e-9 with the same
    * HALF_UP semantics as the batch `Det.fixed`, so a stream fed in
    * event order reproduces the batch fold bit-for-bit (StreamingSpec).
    * Rows inside a micro-batch are folded in (ts, event_id) order;
    * cross-batch order is arrival order, as for any streaming
    * accumulator. */
  class EwmaProcessor(alpha: Double)
      extends StatefulProcessor[Long, Event, UserEwma] {
    @transient private var st: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("ewma",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    private def fixed9(x: Double): Double =
      scala.math.BigDecimal(x * 1e9)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble / 1e9
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserEwma] = {
      var (n, s) = if (st.exists()) st.get() else (0L, 0.0)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        s = if (n == 0) e.value else fixed9(s * (1 - alpha) + e.value * alpha)
        n += 1
      }
      st.update((n, s))
      Iterator(UserEwma(key, n, s))
    }
  }

  /** Per-user streaming EWMA via [[EwmaProcessor]] (Update mode). */
  def streamingEwma(events: Dataset[Event], alpha: Double = 0.125): Dataset[UserEwma] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor(alpha),
        TimeMode.None(), OutputMode.Update())
  }

  /** Gap-session state machine on the Spark 4 arbitrary-state API with
    * EVENT-TIME TIMERS: the same sessionization semantics as [[sessionize]]
    * but expressed as a [[StatefulProcessor]] — state in a named
    * ListState slot, idle-session eviction via `registerTimer`, emission
    * in `handleExpiredTimer` when the watermark crosses session end + gap.
    *
    * A session is NEVER emitted from `handleInputRows`, even when a gap
    * is crossed inside one micro-batch: until the watermark passes
    * `end + gap`, a still-admissible late event can land inside that gap
    * and must extend or even bridge sessions. So the state is the full
    * list of not-yet-final sessions per key, input rows interval-merge
    * into it (an event joins a session within `gap` of it; two sessions
    * a bridging event connects coalesce into one), and finalization
    * happens only in the timer callback — the point where `watermark >
    * end + gap` guarantees no admissible event can reach the session.
    * Exactly one live timer per key (re-armed at the earliest pending
    * close horizon), so timer state is O(keys) alongside the RocksDB
    * list state; the list length is bounded by the number of distinct
    * in-flight sessions inside the watermark delay, typically 1-2. */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, Session] {
    @transient private var sess: ListState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getListState[SessionState]("sess",
        Encoders.product[SessionState], TTLConfig.NONE)

    private def toSession(key: Long, s: SessionState): Session =
      Session(key, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.total)

    /** Coalesce sessions sorted by start: neighbors within `gapMs` merge
      * (sums accumulate in event-time order — same order as the batch
      * sessionization's running sum). */
    private def coalesceSessions(xs: Seq[SessionState]): List[SessionState] =
      xs.sortBy(s => (s.start, s.end)).foldLeft(List.empty[SessionState]) {
        case (h :: t, s) if s.start - h.end <= gapMs =>
          SessionState(h.start, math.max(h.end, s.end),
            h.n + s.n, h.total + s.total) :: t
        case (acc, s) => s :: acc
      }.reverse

    private def armTimer(pending: Seq[SessionState]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (pending.nonEmpty)
        getHandle.registerTimer(pending.map(_.end).min + gapMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val singletons = rows.map(e =>
        SessionState(e.ts.getTime, e.ts.getTime, 1, e.value)).toSeq
      val merged = coalesceSessions(sess.get().toSeq ++ singletons)
      sess.clear()
      merged.foreach(sess.appendValue)
      armTimer(merged)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      val horizon = math.max(timerValues.getCurrentWatermarkInMs(),
        expiredTimerInfo.getExpiryTimeInMs())
      val (done, live) = sess.get().toSeq.partition(_.end + gapMs <= horizon)
      sess.clear()
      live.foreach(sess.appendValue)
      armTimer(live)
      done.sortBy(_.start).iterator.map(toSession(key, _))
    }
  }

  /** Per-user gap sessions via [[SessionTimerProcessor]] (event-time
    * timers). `lateness` bounds out-of-order arrival; sessions close when
    * the watermark passes last-event + gap. */
  def sessionizeWithTimers(
      events: Dataset[Event], gapMs: Long = 1800000L,
      lateness: String = "1 minute"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-static enrichment join: each streaming event joined to a
    * STATIC dimension table (here: per-user attributes). The static side
    * is broadcast — no streaming state at all, and the dim table is
    * re-read per micro-batch, so slowly-changing dimensions pick up
    * updates without restarting the query. The 100 TB pattern for
    * "attach metadata to an ingest stream". */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Micro-batch sink with exactly-once-per-batch semantics: foreachBatch
    * writing each batch to a parquet dir partitioned by `partitionCol`,
    * tagged with the batch id for idempotent replay (a restarted query
    * re-running batch N overwrites batch N's rows instead of duplicating
    * them — the standard idempotent-sink recipe when the target has no
    * transactional MERGE). */
  def foreachBatchParquetSink(
      transformed: DataFrame, path: String, partitionCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    transformed.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // dynamic partition overwrite keyed by batch id: replaying a batch
        // replaces exactly its own partition, nothing else
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id", partitionCol)
          .parquet(path)
      }

  /** Stream-stream inner join: each click joined to the same user's
    * purchases within (click_ts, click_ts + window]. Both sides carry
    * watermarks and the join condition time-bounds both event times, so
    * Spark can evict join state once the watermark passes a row's
    * horizon — the state-bounded streaming dual of the batch
    * events_range_join. */
  def clickPurchaseJoin(
      clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_event_id"),
        col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("purchase_value"))
      .withWatermark("p_ts", lateness)
    c.join(p,
      col("user_id") === col("p_user") &&
        col("p_ts") > col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr(s"INTERVAL $window"))
      .select(col("click_event_id"), col("p_event_id"), col("user_id"),
        col("click_ts"), col("p_ts"), col("purchase_value"))
  }

  /** Streaming sufficient statistics — the reference's M-step inputs
    * (n, Σx, Σx²; SURVEY §4.3) maintained incrementally per key by
    * built-in streaming aggregation in Update mode. Model parameters
    * (mean, variance) are derived columns of the state, refreshed each
    * micro-batch without ever re-scanning history: the streaming dual
    * of the batch `em_suffstats_udaf` pass. State size is O(keys),
    * merge is associative — the same partial-aggregate machinery as the
    * batch plan, just checkpointed. */
  def streamingSuffStats(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("s1"),
        sum(col("value") * col("value")).as("s2"))
      .select(col("event_type"), col("n"), col("s1"), col("s2"),
        (col("s1") / col("n")).as("mean"),
        (col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
          .as("var_pop"))
}
