package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.11 extension — the reference
  * ships Kafka jars but never streams; incremental behavior there is
  * batch+cursor. Here the streaming ops are real).
  *
  * Every transform is a pure `DataFrame => DataFrame` that works on BOTH a
  * batch frame and a `readStream` frame — the Structured Streaming
  * batch/stream unification. The batch twins are registered in
  * `SparkEntry.queries` (q41/q42) with DuckDB oracles; the streaming
  * execution path (watermarks, incremental state, late-data drop,
  * mapGroupsWithState) is exercised in StreamingSpec via MemoryStream.
  *
  * Scale notes: windowed aggregation state is keyed by (window, grouping
  * key) and partitioned by the shuffle — state size is bounded by the
  * watermark horizon, not the stream length. The session state store is
  * per-user; timeouts evict closed sessions.
  */
object EventStreams {

  /** Tumbling 1-hour windows per event type, 2-hour watermark: the
    * canonical streaming aggregation. On a batch frame the watermark is a
    * no-op and this is a plain windowed groupBy. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding windows (1 hour long, every 30 minutes): each event lands in
    * two windows; shuffle carries (window, partial-agg) rows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("n_events"))

  /** Gap-based sessionization with the built-in `session_window` (1-day
    * inactivity gap): state merges windows as events arrive. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: `dropDuplicates` under a watermark — the
    * streaming form of the d29 exact-dedup operator. State holds one entry
    * per event_id seen within the watermark horizon and is evicted as the
    * watermark advances, so memory is bounded by (arrival rate × horizon),
    * not stream length — the property that makes exactly-once ingest dedup
    * viable on an unbounded 100 TB/day feed. On a batch frame this is a
    * plain dropDuplicates. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      // the EVENT-TIME column must be part of the dedup subset: Spark only
      // watermark-evicts dropDuplicates state when it is, so keying on
      // event_id alone would grow state forever and the bounded-memory
      // claim above would be false (dropDuplicatesWithinWatermark below is
      // the subset-free alternative)
      .dropDuplicates("event_id", "ts")

  /** Stream-stream interval join: view→click attribution. Each click joins
    * the views of the same user in the preceding hour. Both sides carry
    * watermarks and the join condition bounds event time in BOTH directions
    * — that pair of constraints is what lets the streaming join evict state
    * (a buffered view can be dropped once the watermark passes view_ts +
    * 1 hour). On batch frames this is a plain range join. */
  def attributedClicks(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "2 hours")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    v.join(c,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Event-time-bounded dedup: `dropDuplicatesWithinWatermark` — unlike
    * [[dedupEvents]] (one state entry per key until the watermark passes its
    * FIRST arrival), this dedups keys whose duplicates arrive within the
    * watermark delay of each other and evicts by event time, which is the
    * right contract for at-least-once sources that re-deliver within a
    * bounded window (a Kafka replay, an ingest retry). State is again
    * bounded by rate × horizon. Streaming-only API (batch twin = plain
    * dropDuplicates, same as d29). */
  def dedupEventsWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Left-outer stream-stream join: attribution INCLUDING unconverted
    * views. Same state-eviction constraints as [[attributedClicks]] —
    * outer rows (views with no click) can only emit once the watermark
    * proves no matching click can still arrive, so the null-padded results
    * are late by the watermark delay: the streaming form of "conversion
    * rate with a completeness horizon". */
  def attributedClicksOuter(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "2 hours")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    v.join(c,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Per-document LSH band keys, derived MAP-SIDE in one projection
    * (shingle → poly_hash → minhash16 → 4 bands of 4) — the same
    * arithmetic as the batch dedup family's band index, so a stream's keys
    * probe the batch-built artifact directly. Works on static AND
    * streaming frames (stateless, no shuffle). */
  def bandKeys(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHash.shingles
    docs.selectExpr("doc_id",
        s"transform(${shingles(3)}, sh -> poly_hash(sh)) AS hs")
      .selectExpr("doc_id", "minhash16(hs) AS mh")
      // the SAME band-key expression the batch index build uses — the
      // stream-static join matches on these strings verbatim
      .selectExpr("doc_id", graft.operators.Dedup.bandKeyExpr)
  }

  /** Streaming near-dup ADMISSION probe — the d185 batch probe as a
    * continuous query: arriving documents derive band keys map-side
    * ([[bandKeys]]) and stream-static inner-join the PERSISTED band index
    * of the standing corpus; each emitted row is a (new doc, history doc)
    * CANDIDATE for the verification stage. Docs with no output rows are
    * clean admissions — the caller's foreachBatch anti-joins the batch
    * against its candidates (StreamingSpec shows the pattern). Stateless,
    * append-mode, no stream-side shuffle; at 100 TB the static side is the
    * bucketed band layout (d189's admit/compact output) and the join
    * prunes to the buckets the micro-batch touches. */
  def admissionCandidates(docs: DataFrame, bandIndex: DataFrame): DataFrame =
    bandKeys(docs)
      .join(bandIndex.select(col("band_key"), col("doc_id").as("hit_id")),
        "band_key")
      .filter(col("doc_id") =!= col("hit_id"))
      .select("doc_id", "band_key", "hit_id")

  /** Streaming VECTOR admission — s319's frozen-quantizer admit as a
    * `foreachBatch` body (the q313 streaming twin lifted from documents
    * to the retrieval index): each arriving micro-batch of (vec_id, v)
    * rows is assigned to its nearest frozen centroid and PQ-encoded under
    * the frozen codebook ([[graft.operators.Similarity2.freshAdmitPostings]]
    * — the SAME definition the batch build commits), then lands as ONE
    * exactly-once [[graft.sources.TxLog.appendBatch]] posting commit
    * keyed by the micro-batch id. A searcher reading the posting log
    * between micro-batches therefore sees batch N's vectors in batch N+1
    * — read-your-writes freshness through the log — and a restart replay
    * of a committed batch id is a no-op (idempotence inherited from
    * appendBatch, not re-implemented here). Returns the version holding
    * the batch.
    *
    * Scale shape: per micro-batch this is a broadcast of k centroids +
    * 32 codewords against the batch only (the standing index is never
    * rescanned) and a metadata-sized log append; the searcher's cost is
    * unchanged (probed cells over the live posting set). Compaction of
    * the accumulated appends is OPTIMIZE on the posting table — the
    * d189 admit/compact lifecycle applied to the retrieval index. */
  def admitVectorBatch(batch: DataFrame, postingsTable: String,
      centroids: DataFrame, codebook: DataFrame, batchId: Long): Int =
    graft.sources.TxLog.appendBatch(batch.sparkSession,
      graft.operators.Similarity2.freshAdmitPostings(batch, centroids,
        codebook),
      postingsTable, batchId)

  // ---- custom state: flatMapGroupsWithState sessionizer -----------------

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Int, sum: Double)
  case class SessionOut(user_id: Long, start: java.sql.Timestamp,
                        n_events: Int, sum_value: Double)

  /** Custom stateful sessionizer — the `flatMapGroupsWithState` surface for
    * semantics `session_window` can't express (e.g. emitting only CLOSED
    * sessions, custom eviction). Gap = `gapMs`; uses event-time timeout so
    * sessions close when the watermark passes lastTs + gap. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** The same gap sessionizer on `transformWithState` — Spark 4's
    * arbitrary-state API (the successor to flatMapGroupsWithState): typed
    * state via the StatefulProcessorHandle (ValueState here; List/Map
    * state and TTL are the API's scale levers), explicit timer
    * registration instead of a single per-key timeout, and state
    * round-tripped through encoders — which is what binds it to the
    * RocksDB state-store provider (bytes, not heap objects; the only
    * provider transformWithState supports, and the one a 100 TB streaming
    * state deployment runs anyway). StreamingSpec asserts it emits exactly
    * the sessions [[sessionize]] emits on the same input. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var closed = List.empty[SessionOut]
      var cur = if (state.exists()) Some(state.get()) else None
      // new activity supersedes ANY previously registered close-timer —
      // clearing via listTimers (not just lastTs + gapMs) also removes
      // timers orphaned by restart/replay edges where the stored lastTs no
      // longer matches the timer that was persisted with it
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.lastTs <= gapMs =>
            cur = Some(s.copy(lastTs = t, n = s.n + 1, sum = s.sum + e.value))
          case Some(s) =>
            closed ::= SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sum)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        getHandle.registerTimer(s.lastTs + gapMs)
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator(SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sum))
      } else Iterator.empty
    }
  }

  /** Replay-safe event-time sessionizer — the form a REPLAYABLE 100 TB log
    * needs. [[SessionProcessor]] assumes in-order arrival per key: a late
    * (but within-watermark) event regresses its stored `lastTs`, and two
    * provisional sessions that a late "bridge" event joins can never merge.
    * This variant keeps the textbook session-window state instead — a list
    * of DISJOINT candidate intervals (separated by > gap) in `ListState` —
    * and makes emission exclusively WATERMARK-DRIVEN:
    *
    *  - each input event merges every interval it touches (within gap on
    *    either side) into one, so out-of-order and bridging arrivals
    *    converge to the same intervals as an in-order run;
    *  - `handleInputRows` emits NOTHING; only the event-time timer emits,
    *    and it closes exactly the intervals whose `lastTs + gap` the
    *    watermark has passed. Since the stream drops rows older than the
    *    watermark, no future event can touch a closed interval — emission
    *    is final by construction, with no emitted-then-extended races;
    *  - one timer per key (the EARLIEST close), re-registered from the
    *    surviving intervals after every change; stale timers are cleared
    *    wholesale via listTimers.
    *
    * StreamingSpec asserts an out-of-order replay (late arrival + bridge
    * event across micro-batches) emits exactly the sessions the in-order
    * run emits. */
  /** The interval-set session logic shared by [[ReplaySessionProcessor]]
    * and [[BootstrapSessionProcessor]] — a list of DISJOINT candidate
    * intervals in `ListState`, merged on arrival, emitted only by the
    * watermark timer. Factored as a self-typed mixin because the bootstrap
    * variant must extend `StatefulProcessorWithInitialState` (a CLASS, not
    * a trait), so the two processors cannot share a superclass. */
  private[streaming] trait IntervalSessions {
    self: org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] =>
    import org.apache.spark.sql.streaming.{ListState, TTLConfig}

    protected def gapMs: Long
    @transient private var sessions: ListState[SessionState] = _

    protected def initSessions(): Unit =
      sessions = getHandle.getListState[SessionState]("sessions",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    protected def load(): List[SessionState] =
      if (sessions.exists()) sessions.get().toList else Nil

    /** Persist the interval set and re-arm the single earliest close-timer.
      *
      * `notBefore` floors the timer STRICTLY past the current watermark: an
      * interval kept open at its exact boundary (lastTs + gap == wm — the
      * strict-close case in [[expire]]) would otherwise re-arm a timer at a
      * time the watermark has already reached, which never fires again —
      * the session would leak in state forever unless another event touched
      * the key. Callers pass wm + 1 from their TimerValues. */
    protected def store(ss: List[SessionState], notBefore: Long = 0L): Unit = {
      sessions.clear()
      if (ss.nonEmpty) sessions.put(ss.sortBy(_.start).toArray)
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      if (ss.nonEmpty)
        getHandle.registerTimer(
          math.max(ss.map(_.lastTs).min + gapMs, notBefore))
    }

    /** Merge every event into the interval(s) it touches (within gap on
      * either side); out-of-order and bridging arrivals converge to the
      * same intervals as an in-order run. */
    protected def absorb(initial: List[SessionState],
        rows: Iterator[Event]): List[SessionState] = {
      var ss = initial
      rows.foreach { e =>
        val t = e.ts.getTime
        val (touched, rest) =
          ss.partition(s => t >= s.start - gapMs && t <= s.lastTs + gapMs)
        val merged = touched.foldLeft(SessionState(t, t, 1, e.value)) {
          (a, s) => SessionState(math.min(a.start, s.start),
            math.max(a.lastTs, s.lastTs), a.n + s.n, a.sum + s.sum)
        }
        ss = merged :: rest
      }
      ss
    }

    /** Close exactly the intervals the watermark has STRICTLY passed; keep
      * the rest.
      *
      * Strict by defense: absorb's touch range is inclusive
      * (t <= lastTs + gap), so if an engine ever admitted an event at
      * ts == wm, an interval with lastTs + gap == wm could still legally
      * grow, and closing at equality would emit it and then re-open a
      * second session for the same logical one. Spark's transformWithState
      * late filter happens to drop rows AT the watermark (verified in
      * StreamingSpec's boundary test), making equality-close safe there —
      * but that boundary choice is the engine's, not this operator's
      * contract, so the close stays strict and store()'s notBefore floor
      * keeps the boundary-open interval's timer fireable. */
    protected def expire(userId: Long, wm: Long): Iterator[SessionOut] = {
      val (closed, open) = load().partition(s => s.lastTs + gapMs < wm)
      store(open, notBefore = wm + 1) // see store(): a boundary-open
      // interval must not re-arm a timer the watermark already reached
      closed.sortBy(_.start).map(s =>
        SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sum)).iterator
    }
  }

  class ReplaySessionProcessor(protected val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] with IntervalSessions {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues}
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      initSessions()

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      store(absorb(load(), rows),
        notBefore = timers.getCurrentWatermarkInMs() + 1)
      Iterator.empty // emission is exclusively watermark-driven
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      expire(userId, timers.getCurrentWatermarkInMs())
  }

  /** A bootstrap row: the per-user OPEN session as of the batch→stream
    * cutover, read from the batch table that was sessionized offline. */
  case class BootstrapSession(user_id: Long, start: Long, lastTs: Long,
                              n: Int, sum: Double)

  /** [[ReplaySessionProcessor]] with INITIAL STATE — the batch→stream
    * cutover shape (SURVEY §9d round-6 candidate 2): a deployment that has
    * been sessionizing a 100 TB log in batch turns on streaming without
    * either dropping the sessions open at the cutover or replaying history.
    * `transformWithState`'s initial-state surface delivers each key's
    * bootstrap row ONCE, before any input; `handleInitialState` seeds the
    * interval list and arms its close-timer, so a pre-cutover session with
    * no further activity still closes by watermark, and a post-cutover
    * event within gap EXTENDS it (no split, no double-count).
    *
    * Extends `StatefulProcessorWithInitialState[K, I, O, S]` — S is the
    * bootstrap row type, keyed by the same grouping as the stream. */
  class BootstrapSessionProcessor(protected val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, SessionOut, BootstrapSession] with IntervalSessions {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues}
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      initSessions()

    override def handleInitialState(userId: Long, init: BootstrapSession,
        timers: TimerValues): Unit = {
      // the seed INTERVAL merges through the same union absorb() applies
      // to events — a plain cons would stack overlapping intervals (each
      // emitted separately at expiry, double-counting the span) if a key
      // ever received a duplicate seed or an early overlapping session
      val seed = SessionState(init.start, init.lastTs, init.n, init.sum)
      val (touched, rest) = load().partition(s =>
        seed.lastTs + gapMs >= s.start && seed.start - gapMs <= s.lastTs)
      val merged = touched.foldLeft(seed) { (a, s) =>
        SessionState(math.min(a.start, s.start), math.max(a.lastTs, s.lastTs),
          a.n + s.n, a.sum + s.sum)
      }
      store(merged :: rest,
        notBefore = timers.getCurrentWatermarkInMs() + 1)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      // absorb() merges post-cutover events into the seeded interval when
      // within gap — continuity across the cutover, not a fresh session
      store(absorb(load(), rows),
        notBefore = timers.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      expire(userId, timers.getCurrentWatermarkInMs())
  }

  case class RecentOut(user_id: Long, ts: java.sql.Timestamp,
                       n_window: Int, sum_window: Double)

  /** Per-key bounded last-N feature buffer on `ListState` — the streaming
    * feature-serving pattern: each event emits aggregates over the user's
    * most recent `n` events (row-driven, not time-driven — the "last 5
    * transactions" feature a fraud model reads). State per key is EXACTLY
    * ≤ n rows by construction (trimmed on every update), so total state is
    * |active keys|·n regardless of stream length — with the RocksDB
    * provider, the bytes-on-disk shape that holds at any key cardinality.
    * ListState appends are incremental (no read-modify-write of a single
    * blob, unlike packing the buffer into one ValueState row). */
  class RecentEventsProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, RecentOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ListState}
    @transient private var buf: ListState[Event] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Event]("recent",
        org.apache.spark.sql.Encoders.product[Event], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[RecentOut] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val before = if (buf.exists()) buf.get().toList else Nil
      var window = before
      val out = sorted.map { e =>
        window = (window :+ e).takeRight(n)
        RecentOut(userId, e.ts, window.size,
          window.map(_.value).sum)
      }
      // incremental append is the point of ListState: while the buffer is
      // under capacity the new events APPEND (no read-modify-write of the
      // stored rows); only an eviction rewrites the trimmed buffer
      if (before.size + sorted.size <= n) buf.appendList(sorted.toArray)
      else buf.put(window.toArray)
      out.iterator
    }
  }

  case class TypedEvent(user_id: Long, ts: java.sql.Timestamp,
                        event_type: String)
  case class ProfileOut(user_id: Long, ts: java.sql.Timestamp,
                        event_type: String, type_count: Long,
                        distinct_types: Int)

  /** Per-key running profile on `MapState` — completes the typed-state
    * trio (ValueState: [[SessionProcessor]]; ListState:
    * [[RecentEventsProcessor]]): a per-user event-type histogram updated
    * in place, emitting each event's running type count and the user's
    * distinct-type cardinality. MapState gives point lookups and
    * per-entry updates — the state shape for per-key sub-keyed counters
    * (profile/feature stores), where a ValueState blob would rewrite the
    * whole histogram per event and a ListState would scan it. State per
    * key is |distinct types| entries, bounded by the type domain. */
  class ProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEvent, ProfileOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, MapState}
    @transient private var hist: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long]("hist",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[ProfileOut] = {
      rows.toSeq.sortBy(_.ts.getTime).map { e =>
        val n = (if (hist.containsKey(e.event_type))
          hist.getValue(e.event_type) else 0L) + 1L
        hist.updateValue(e.event_type, n)
        ProfileOut(userId, e.ts, e.event_type, n, hist.keys().size)
      }.iterator
    }
  }

  /** [[ProfileProcessor]] over a grouped typed-event stream. */
  def typeProfile(events: Dataset[TypedEvent]): Dataset[ProfileOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** [[RecentEventsProcessor]] over a grouped event stream. */
  def recentWindow(events: Dataset[Event], n: Int): Dataset[RecentOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** [[sessionize]] through the transformWithState API — same contract,
    * same output type; requires the RocksDB state-store provider on the
    * session (see [[SessionProcessor]]). */
  def sessionizeTws(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** [[ReplaySessionProcessor]] over a grouped event stream — the
    * out-of-order-tolerant, watermark-emitting sessionizer. */
  def sessionizeReplay(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new ReplaySessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** [[BootstrapSessionProcessor]] over a grouped event stream, seeded
    * from a batch table of open sessions (the cutover snapshot). The
    * initial-state dataset is keyed by the SAME grouping as the stream, so
    * seeds co-locate with their key's state partition — one shuffle of the
    * (small) snapshot, no history replay. */
  def sessionizeBootstrap(events: Dataset[Event], gapMs: Long,
      openSessions: Dataset[BootstrapSession]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new BootstrapSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        openSessions.groupByKey(_.user_id))
  }

  /** Stream-static enrichment join: each (micro-batch of) events joins a
    * static dimension broadcast to every task. No streaming state at all —
    * the static side is re-planned per batch, so a dim refresh (re-read
    * from storage) picks up new rows without restarting the query. The
    * canonical shape for joining an unbounded fact stream to reference
    * data at any scale. */
  def enriched(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Run a transform as a real stream from a folder of parquet (file
    * source) into an in-memory sink — the readStream→writeStream edge. */
  def runFileStream(spark: SparkSession, srcDir: String, schema: String,
                    transform: DataFrame => DataFrame, queryName: String,
                    outputMode: String = "complete"): Unit = {
    // "complete" suits the aggregating transforms this helper was built
    // for; non-aggregating transforms (dedup, joins, sessionizers) must
    // pass "append" — complete mode rejects them AND disables the
    // watermark state-trimming they rely on
    val q = transform(
      spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("memory").queryName(queryName)
      .outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
  }
}
