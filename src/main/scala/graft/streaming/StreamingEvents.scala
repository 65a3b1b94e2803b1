package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming twins of the batch event-window operators
  * (graft.ops.Events) — SURVEY.md §2.10 T1–T5.
  *
  * The aggregation expressions are shared with the batch path;
  * `window`/`session_window` behave identically on static and streaming
  * DataFrames. These wrappers add only the streaming-specific pieces:
  * event-time watermarks (late-data bound + state eviction) and
  * within-watermark dedup. They accept any streaming DataFrame
  * (readStream source or MemoryStream in tests) — source wiring stays
  * at the call site, transformations stay source-agnostic.
  *
  * Scale posture: state size is bounded by the watermark horizon x key
  * cardinality; all operators shuffle once on the grouping key, state
  * lives in the executor state store (RocksDB-backed on a real
  * cluster via spark.sql.streaming.stateStore.providerClass).
  */
object StreamingEvents {

  /** Tumbling event-time window aggregate with watermark (T1 + T4). */
  def tumbling(stream: DataFrame, ts: Column, duration: String,
               watermark: String, extraKeys: Seq[Column],
               aggs: Seq[Column]): DataFrame =
    stream.withWatermark(tsName(ts), watermark)
      .groupBy(window(ts, duration) +: extraKeys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Sliding event-time window aggregate with watermark (T2). */
  def sliding(stream: DataFrame, ts: Column, duration: String, slide: String,
              watermark: String, extraKeys: Seq[Column],
              aggs: Seq[Column]): DataFrame =
    stream.withWatermark(tsName(ts), watermark)
      .groupBy(window(ts, duration, slide) +: extraKeys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session window with watermark (T3): events closer than `gap` merge;
    * a session closes (and its state is evicted) once the watermark
    * passes session end + gap.
    */
  def session(stream: DataFrame, ts: Column, gap: String, watermark: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    stream.withWatermark(tsName(ts), watermark)
      .groupBy(session_window(ts, gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Stateful streaming dedup (T5): drop rows whose `keys` were already
    * seen within the watermark horizon. State is evicted as the
    * watermark advances — bounded memory, unlike plain dropDuplicates
    * on a stream (whose state grows forever).
    */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           watermark: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming twin of the batch exact-dedup operator (Dedup.exact):
    * an incremental corpus refresh keeps the first-seen document per
    * content fingerprint and drops re-ingested copies. The dedup key
    * is the full 128-bit md5(text) — the same digest the batch path
    * groups on, so batch and stream agree on what counts as a
    * duplicate (a truncated hash would silently drop distinct docs to
    * birthday collisions around 2^(bits/2) fingerprints in the
    * horizon); state is bounded by the watermark horizon (re-ingests
    * older than it are assumed already emitted).
    */
  def dedupByFingerprint(stream: DataFrame, text: Column, tsCol: String,
                         watermark: String): DataFrame =
    stream.withColumn("__fp", md5(text))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__fp"))
      .drop("__fp")

  /** Stream-stream interval join — the streaming twin of the batch
    * range/as-of family (ops.Relational.rangeJoin / ops.Temporal): each
    * left event joins right events of the same key whose timestamp lies
    * in [leftTs - horizon, leftTs]. Both sides carry watermarks and the
    * join condition bounds the event-time distance, so each side's
    * buffered state is evicted once the watermark passes its horizon —
    * bounded state, unlike an unconstrained stream-stream join (which
    * Spark rejects in append mode for exactly that reason).
    *
    * Contract: `left` and `right` must not share column names (rename
    * before calling — same rule as Temporal.asofJoinBackward); the
    * condition references both sides by name, so ambiguity would not
    * resolve.
    */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   leftKey: String, rightKey: String,
                   horizon: String, watermark: String,
                   joinType: String = "inner"): DataFrame = {
    val shared = left.columns.toSeq.intersect(right.columns.toSeq)
    require(shared.isEmpty,
      s"intervalJoin: column name(s) ${shared.mkString(", ")} exist on both " +
        "sides — rename one side first")
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTs BETWEEN $leftTs - INTERVAL $horizon AND $leftTs"),
        joinType)
  }

  /** withWatermark takes a column NAME; accepting a general expression
    * here would silently watermark a column that doesn't exist (the
    * stringified expression). Reject anything but a plain reference —
    * by expression type, not by name shape, so legal-but-unusual names
    * (spaces, non-ASCII) still pass.
    */
  private def tsName(ts: Column): String =
    org.apache.spark.sql.GraftBridge.attributeName(ts).getOrElse(
      throw new IllegalArgumentException(
        s"watermark event-time must be a plain column reference, got: $ts " +
          "(pre-compute the expression into a named column first)"))
}

/** Custom arbitrary-state streaming (flatMapGroupsWithState): the
  * operator family for semantics session_window can't express — here, a
  * sessionizer that assigns stable per-user session ids and emits one
  * summary row per closed session.
  *
  * `session_id` is the session's start epoch millis: a new session for
  * a user starts strictly after the previous session's last event plus
  * the gap, so start times — and therefore ids — never repeat for a
  * user, even across a timeout-close/reopen (a per-user counter would
  * restart at 0 once the timeout evicts the state, silently merging
  * distinct sessions in any downstream join on (user, session_id)).
  *
  * State per key = the open session (bounds, count); an event-time
  * timeout closes it. State size is O(active keys), evicted on timeout —
  * bounded like any watermarked operator.
  *
  * Serializable: the state function [[sessionize]] ships to executors
  * calls [[advance]], so it captures this object.
  */
object StatefulSessions extends Serializable {

  case class Event(user_id: String, ts: java.sql.Timestamp)

  case class SessionState(start: Long, lastTs: Long, n: Long)

  case class SessionOut(user_id: String, session_id: Long,
      start_ms: Long, end_ms: Long, n_events: Long)

  /** The summary row of a closed session. */
  def closed(user: String, s: SessionState): SessionOut =
    SessionOut(user, s.start, s.start, s.lastTs, s.n)

  /** Fold one batch of `user`'s events (any order) into the open
    * session `open`, in event-time order: an event within `gapMs` of
    * the session's last event extends it; a larger gap closes it and
    * starts the next. Returns the sessions closed in the batch, oldest
    * first, and the session left open — the one sessionizer step both
    * state APIs run.
    */
  def advance(user: String, open: Option[SessionState], rows: Iterator[Event],
              gapMs: Long): (List[SessionOut], Option[SessionState]) = {
    var done = List.empty[SessionOut]
    var cur = open
    rows.map(_.ts.getTime).toSeq.sorted.foreach { t =>
      cur = Some(cur match {
        case Some(s) if t - s.lastTs <= gapMs =>
          s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1)
        case Some(s) => done ::= closed(user, s); SessionState(t, t, 1)
        case None => SessionState(t, t, 1)
      })
    }
    (done.reverse, cur)
  }

  /** Sessionize a stream of (user_id, ts) with `gapMs` inactivity gap.
    * Emits one row per CLOSED session (watermark-timeout driven).
    */
  def sessionize(events: org.apache.spark.sql.Dataset[Event], gapMs: Long,
                 watermark: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders => E}
    implicit val ke: Encoder[String] = E.STRING
    implicit val se: Encoder[SessionState] = E.product[SessionState]
    implicit val oe: Encoder[SessionOut] = E.product[SessionOut]

    def update(user: String, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(closed(user, s))
      } else {
        val (done, cur) = advance(user, state.getOption, rows, gapMs)
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastTs + gapMs)
        }
        done.iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update _)
  }
}

/** The same sessionizer on Spark 4's `transformWithState` — the
  * current arbitrary-state API (typed `ValueState` + explicit timers,
  * RocksDB-backed state store required). Semantics are identical to
  * [[StatefulSessions.sessionize]] (session_id = session-start epoch
  * millis, one summary row per closed session), so both APIs are
  * covered by the same behavioral contract.
  *
  * Timer discipline: each update replaces the key's pending timer with
  * `lastTs + gap`; an expiring timer closes the session only if it is
  * not stale (its expiry still matches the current session's horizon),
  * which guards against a timer surviving an in-batch session roll.
  */
object TwsSessions {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
  import StatefulSessions.{Event, SessionOut, SessionState, advance, closed}

  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[String, Event, SessionOut] {
    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: String, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val (done, cur) = advance(user,
        if (session.exists()) Some(session.get()) else None, rows, gapMs)
      cur.foreach { s =>
        session.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.lastTs + gapMs)
      }
      done.iterator
    }

    override def handleExpiredTimer(user: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (session.exists()) {
        val s = session.get()
        if (expired.getExpiryTimeInMs >= s.lastTs + gapMs) {
          session.clear()
          return Iterator(closed(user, s))
        }
      }
      Iterator.empty
    }
  }

  /** Sessionize via transformWithState; requires the RocksDB state
    * store provider on the session.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    implicit val oe: org.apache.spark.sql.Encoder[SessionOut] =
      Encoders.product[SessionOut]
    events.groupByKey(_.user_id)(Encoders.STRING)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Streaming twin of the batch backward as-of join (graft.ops.Temporal):
  * each left event is attached to the most recent right event at or
  * before its timestamp, per key — emitted exactly once, when the
  * event-time watermark passes the left timestamp (at that point no
  * right row at-or-before it can still arrive, so the match is final;
  * late data beyond the watermark is dropped, the standard contract).
  *
  * State per key is watermark-bounded: unmatched-yet lefts live only
  * until their timer fires, and of the rights at-or-before the
  * watermark only the LATEST survives (any other is dominated for
  * every possible future left, whose timestamp must exceed the
  * watermark). One hash shuffle on the key per micro-batch — the
  * incremental analogue of the batch union-sort's single exchange.
  * StreamingEventsSpec asserts the emitted view equals batch
  * `Temporal.asofJoinBackward` on the same events, including
  * out-of-order delivery.
  */
object TwsAsof {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

  /** One tagged input event: side 1 = left, side 0 = right. `ts` stays
    * a Timestamp so the caller's watermark column flows through to the
    * event-time timers.
    */
  case class Ev(k: String, ts: java.sql.Timestamp, side: Int,
      l_id: Long, r_val: String)

  case class Joined(k: String, ts_ms: Long, l_id: Long,
      r_ts_ms: Option[Long], r_val: Option[String])

  // NOT private: Janino-generated encoder projections live outside this
  // object's access scope, so a private case class forces every state
  // (de)serialization down the interpreted fallback path (observed as
  // "Expr codegen error ... TwsAsof$LeftEv.ts()" WARNs in the test log)
  case class LeftEv(ts: Long, l_id: Long)
  case class RightEv(ts: Long, r_val: String)

  class AsofProcessor extends StatefulProcessor[String, Ev, Joined] {
    @transient private var lefts: ListState[LeftEv] = _
    @transient private var rights: ListState[RightEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lefts = getHandle.getListState[LeftEv]("lefts",
        Encoders.product[LeftEv], TTLConfig.NONE)
      rights = getHandle.getListState[RightEv]("rights",
        Encoders.product[RightEv], TTLConfig.NONE)
    }

    override def handleInputRows(k: String, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Joined] = {
      rows.foreach { e =>
        if (e.side == 1) {
          lefts.appendValue(LeftEv(e.ts.getTime, e.l_id))
          // fires once the watermark passes e.ts — the match is final then
          getHandle.registerTimer(e.ts.getTime)
        } else rights.appendValue(RightEv(e.ts.getTime, e.r_val))
      }
      Iterator.empty
    }

    override def handleExpiredTimer(k: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Joined] = {
      val horizon = expired.getExpiryTimeInMs
      val (due, pending) = lefts.get().toSeq.partition(_.ts <= horizon)
      if (due.isEmpty) return Iterator.empty
      val rs = rights.get().toSeq
      val out = due.sortBy(l => (l.ts, l.l_id)).map { l =>
        val m = rs.filter(_.ts <= l.ts) match {
          case e if e.isEmpty => None
          case e => Some(e.maxBy(r => (r.ts, r.r_val)))
        }
        Joined(k, l.ts, l.l_id, m.map(_.ts), m.map(_.r_val))
      }
      if (pending.isEmpty) lefts.clear()
      else { lefts.clear(); pending.foreach(lefts.appendValue) }
      // of the rights at-or-before the horizon only the latest can ever
      // match a future left (future lefts have ts > watermark >= horizon)
      val (past, future) = rs.partition(_.ts <= horizon)
      val keep = (if (past.nonEmpty) Seq(past.maxBy(r => (r.ts, r.r_val)))
                  else Nil) ++ future
      if (keep.size != rs.size) {
        rights.clear(); keep.foreach(rights.appendValue)
      }
      out.iterator
    }
  }

  /** Run the streaming as-of over a tagged event stream; requires the
    * RocksDB state store provider and an event-time watermark on the
    * caller's timestamp column (timers fire off that watermark).
    */
  def asofBackward(tagged: Dataset[Ev]): Dataset[Joined] = {
    implicit val oe: org.apache.spark.sql.Encoder[Joined] =
      Encoders.product[Joined]
    tagged.groupByKey(_.k)(Encoders.STRING)
      .transformWithState(new AsofProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Streaming twin of the batch CDC merge (graft.ops.Cdc): the
  * latest-change election (`row_number() over key order by seq desc = 1`)
  * run incrementally on `transformWithState` — state per key is the
  * current winning change, and a row is emitted only when a key's
  * winner advances. Out-of-order and duplicate deliveries are absorbed
  * by the monotone seq guard, so ANY batch split of the same change
  * feed converges to the batch election (StreamingEventsSpec asserts
  * the merged view equals batch Cdc.applyChangelog on the same feed).
  *
  * Scale posture: one hash shuffle on the key per micro-batch; state is
  * one row per live key in the RocksDB store (the same size as the
  * batch election's output — nothing accumulates per change). Use
  * OutputMode.Update downstream: each emission supersedes the key's
  * previous row.
  */
object TwsCdc {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  /** One keyed change: op in {"U","D"}, `patch` the new value (None =
    * leave the base column untouched — Cdc.applyChangelog semantics).
    */
  case class Change(id: Long, seq: Long, op: String, patch: Option[Double])

  class LatestChangeProcessor extends StatefulProcessor[Long, Change, Change] {
    @transient private var latest: ValueState[Change] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Change]("latest",
        Encoders.product[Change], TTLConfig.NONE)

    override def handleInputRows(id: Long, rows: Iterator[Change],
        timerValues: TimerValues): Iterator[Change] = {
      var cur = if (latest.exists()) Some(latest.get()) else None
      var advanced = false
      rows.foreach { c =>
        // strict > : a replayed (at-least-once) delivery of the current
        // winner is a no-op, matching the unique-seq-per-key contract
        if (cur.forall(_.seq < c.seq)) { cur = Some(c); advanced = true }
      }
      if (advanced) { latest.update(cur.get); Iterator(cur.get) }
      else Iterator.empty
    }

    override def handleExpiredTimer(id: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Change] = Iterator.empty
  }

  /** Incremental latest-wins election over a change stream; requires
    * the RocksDB state store provider on the session.
    */
  def latestChanges(changes: Dataset[Change]): Dataset[Change] = {
    implicit val oe: org.apache.spark.sql.Encoder[Change] =
      Encoders.product[Change]
    changes.groupByKey(_.id)(Encoders.scalaLong)
      .transformWithState(new LatestChangeProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}

/** Incremental SCD Type 2 on `transformWithState` — the streaming twin
  * of [[graft.ops.Cdc.scdType2]]. State per key is ONE row: the open
  * version (tracked attribute + its valid_from). A change that keeps
  * the attribute is collapsed (no-op, exactly the batch collapse); a
  * transition CLOSES the previous version — emitted downstream with its
  * now-known valid_to — and swaps the open-version state. Emissions are
  * append-only closed versions: the history table grows by appends, the
  * open row per key lives in state (or is recovered as "every key's
  * last emission + state" on demand), so a 100 TB history is never
  * rewritten — versus the batch rebuild, which re-windows the full feed.
  *
  * Delivery contract: per-key (ts, seq) arrives non-decreasing ACROSS
  * batches (within a micro-batch any order is fine — rows are sorted by
  * (ts, seq) before folding; `seq` is the unique tiebreak the batch
  * twin requires in `order` for exactly the same reason: micro-batch
  * row order is not stable, so equal-ts transitions would otherwise
  * fold nondeterministically). A replayed (at-least-once) delivery of
  * the current open change is attribute-equal and collapses to a
  * no-op; a (ts, seq) older than the open version is DROPPED (late
  * data past the version boundary cannot retro-split an emitted
  * version — route such feeds through the batch rebuild instead). An
  * equal-ts transition emits a zero-width version (valid_from ==
  * valid_to), exactly what batch scdType2's lead() emits for a tie.
  */
object TwsScd2 {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  /** NOTE on the `seq` field (added after first release of this
    * processor): it is part of the ValueState AND input encoder schema,
    * so a checkpoint written by the seq-less shape fails Spark's
    * state-schema compatibility check on restore — route such
    * checkpoints through the batch [[graft.ops.Cdc.scdType2]] rebuild
    * and restart the stream fresh. The `= 0L` default exists ONLY for
    * that rebuild path's seq-free feeds; callers with equal-ts
    * transitions MUST thread a real per-key-unique seq, or equal-ts
    * folds are nondeterministic (see the delivery contract above).
    */
  case class Change(id: Long, ts: Long, tier: String, seq: Long = 0L)
  case class ClosedVersion(id: Long, tier: String, valid_from: Long,
                           valid_to: Long)

  class Scd2Processor extends StatefulProcessor[Long, Change, ClosedVersion] {
    @transient private var open: ValueState[Change] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Change]("open",
        Encoders.product[Change], TTLConfig.NONE)

    override def handleInputRows(id: Long, rows: Iterator[Change],
        timerValues: TimerValues): Iterator[ClosedVersion] = {
      var cur = if (open.exists()) Some(open.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedVersion]
      rows.toSeq.sortBy(c => (c.ts, c.seq)).foreach { c =>
        cur match {
          case None => cur = Some(c)
          case Some(o) if c.ts < o.ts || (c.ts == o.ts && c.seq < o.seq) =>
            () // late past the boundary: drop
          case Some(o) if o.tier == c.tier => () // no-op change / replay
          case Some(o) =>
            out += ClosedVersion(id, o.tier, o.ts, c.ts)
            cur = Some(c)
        }
      }
      cur.foreach(open.update)
      out.iterator
    }

    override def handleExpiredTimer(id: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedVersion] = Iterator.empty
  }

  /** Incremental version-history build over a change stream; requires
    * the RocksDB state store provider on the session.
    */
  def closedVersions(changes: Dataset[Change]): Dataset[ClosedVersion] = {
    implicit val oe: org.apache.spark.sql.Encoder[ClosedVersion] =
      Encoders.product[ClosedVersion]
    changes.groupByKey(_.id)(Encoders.scalaLong)
      .transformWithState(new Scd2Processor,
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch bounded EWMA
  * ([[graft.ops.Temporal.ewmaBounded]]) on `transformWithState`: state
  * per key is the last seven values (the window the batch operator's
  * eight lags see), so each arriving point emits its smoothed value
  * incrementally. The arithmetic replays the batch expression EXACTLY —
  * same left-associated sum order, same power-of-two weights (exact
  * binary scalings), same HALF_UP 4-decimal rounding — so on in-order
  * delivery the emissions are bit-identical to the batch column
  * (StreamingEventsSpec asserts equality on a shared feed).
  *
  * Delivery contract: per-key `seq` strictly increasing ACROSS
  * micro-batches (rows within one batch are sorted here); a cross-batch
  * late arrival would smooth against the wrong lag window — the same
  * ordered-delivery contract TwsScd2 documents.
  *
  * Scale posture: one hash shuffle on the key per micro-batch; state is
  * ≤ 7 doubles per live key in the RocksDB store, independent of stream
  * length.
  */
object TwsEwma {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  case class Point(k: String, seq: Long, v: Double)
  case class Smoothed(k: String, seq: Long, ewma: Double)
  /** Newest-first recent values, length <= 7. */
  case class Lags(vals: Seq[Double])

  private[streaming] def smooth(v: Double, recent: Seq[Double]): Double = {
    // identical evaluation order to Temporal.ewmaBounded's expressions:
    // num = v + 0.5·lag1 + 0.25·lag2 + …, den = 1 + the present weights
    var num = v
    var den = 1.0
    var w = 1.0
    recent.take(7).foreach { x =>
      w *= 0.5
      num += w * x
      den += w
    }
    BigDecimal(num / den)
      .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  class EwmaProcessor extends StatefulProcessor[String, Point, Smoothed] {
    @transient private var lags: ValueState[Lags] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lags = getHandle.getValueState[Lags]("lags",
        Encoders.product[Lags], TTLConfig.NONE)

    override def handleInputRows(k: String, rows: Iterator[Point],
        timerValues: TimerValues): Iterator[Smoothed] = {
      var recent = if (lags.exists()) lags.get().vals else Seq.empty[Double]
      val out = rows.toSeq.sortBy(_.seq).map { p =>
        val s = Smoothed(k, p.seq, smooth(p.v, recent))
        recent = (p.v +: recent).take(7)
        s
      }
      lags.update(Lags(recent))
      out.iterator
    }

    override def handleExpiredTimer(k: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Smoothed] = Iterator.empty
  }

  /** Incremental bounded-EWMA over a point stream; requires the RocksDB
    * state store provider on the session.
    */
  def smoothed(points: Dataset[Point]): Dataset[Smoothed] = {
    implicit val se: org.apache.spark.sql.Encoder[Smoothed] =
      Encoders.product[Smoothed]
    points.groupByKey(_.k)(Encoders.STRING)
      .transformWithState(new EwmaProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}

/** Incremental exact-k priority sampling on `transformWithState` — the
  * streaming twin of [[graft.ext.Sampling.prioritySample]]. State per
  * group is the current bottom-k: (priority, key, weight) entries kept
  * sorted, priority = md5-48(key) ÷ weight via the SAME scalar kernel
  * the batch Column form compiles to
  * ([[graft.functions.HashKernels.md5Prefix48]]), so stream and batch
  * agree bit-for-bit on every priority.
  *
  * Emission contract (append-only, no retractions): a row entering the
  * bottom-k emits `evicted = false`; the entry it displaces (once the
  * heap is full) emits `evicted = true`. The current sample is
  * therefore "keys with an add and no evict" — reconstructible from
  * the emission log alone, which is what an append-mode sink can
  * carry. Rows that never enter the bottom-k emit NOTHING, so emission
  * volume is O(k·log-ish corpus), not O(corpus).
  *
  * Determinism/replay: the bottom-k of a fixed input set is fold-order
  * independent (same contents, any arrival order); within a
  * micro-batch rows fold in (priority, key) order so the emission LOG
  * is deterministic too. An at-least-once replay of a current member
  * is a no-op (key already in state); a replay of an evicted or
  * never-admitted row cannot re-enter — the admission threshold only
  * tightens as rows arrive. Weights <= 0 are excluded, exactly like
  * the batch form.
  */
object TwsSampler {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  case class Doc(g: String, key: String, weight: Double)
  case class SampleEvent(g: String, key: String, weight: Double,
                         priority: Double, evicted: Boolean)
  case class Entry(priority: Double, key: String, weight: Double)
  case class Heap(entries: Seq[Entry])

  /** Scalar twin of the batch priority column
    * (`baseHash(key).cast("double") / weight`): same md5-48 kernel,
    * same IEEE division, so equality with batch is exact.
    */
  private[streaming] def priorityOf(key: String, weight: Double): Double =
    graft.functions.HashKernels.md5Prefix48(
      org.apache.spark.unsafe.types.UTF8String.fromString(key)).toDouble / weight

  private def lt(p: Double, k: String, e: Entry): Boolean =
    p < e.priority || (p == e.priority && k < e.key)

  class SamplerProcessor(k: Int) extends StatefulProcessor[String, Doc, SampleEvent] {
    require(k > 0, "k must be positive")
    @transient private var heap: ValueState[Heap] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      heap = getHandle.getValueState[Heap]("heap",
        Encoders.product[Heap], TTLConfig.NONE)

    override def handleInputRows(g: String, rows: Iterator[Doc],
        timerValues: TimerValues): Iterator[SampleEvent] = {
      var entries = if (heap.exists()) heap.get().entries.toVector
                    else Vector.empty[Entry]
      val out = scala.collection.mutable.ArrayBuffer.empty[SampleEvent]
      val incoming = rows.filter(_.weight > 0)
        .map(d => Entry(priorityOf(d.key, d.weight), d.key, d.weight))
        .toSeq.sortBy(e => (e.priority, e.key))
      incoming.foreach { e =>
        val replay = entries.exists(_.key == e.key)
        if (!replay) {
          if (entries.length < k) {
            entries = (entries :+ e).sortBy(x => (x.priority, x.key))
            out += SampleEvent(g, e.key, e.weight, e.priority, evicted = false)
          } else if (lt(e.priority, e.key, entries.last)) {
            val ev = entries.last
            entries = (entries.dropRight(1) :+ e)
              .sortBy(x => (x.priority, x.key))
            out += SampleEvent(g, e.key, e.weight, e.priority, evicted = false)
            out += SampleEvent(g, ev.key, ev.weight, ev.priority, evicted = true)
          }
        }
      }
      heap.update(Heap(entries))
      out.iterator
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SampleEvent] = Iterator.empty
  }

  /** Incremental per-group exact-k priority sample over a doc stream;
    * requires the RocksDB state store provider on the session. Use a
    * constant group for the global-k twin of the batch operator.
    */
  def sampled(docs: Dataset[Doc], k: Int): Dataset[SampleEvent] = {
    implicit val se: org.apache.spark.sql.Encoder[SampleEvent] =
      Encoders.product[SampleEvent]
    docs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new SamplerProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch gap detector ([[graft.ops.Temporal.gaps]])
  * on `transformWithState`: state per key is the single latest (ts, id)
  * pair, so each arriving event compares against its in-order
  * predecessor and emits a gap row the moment the threshold is crossed —
  * the live form of the feed-stall / sensor-went-dark probe
  * (StreamingEventsSpec asserts set-equality with the batch operator on
  * a shared feed).
  *
  * Delivery contract: per-key (ts, id) non-decreasing ACROSS
  * micro-batches (within a batch any order is fine — rows are sorted by
  * (ts, id) before folding, the same total order the batch window uses).
  * A cross-batch late arrival would pair against the wrong predecessor —
  * route such feeds through the batch rebuild, the TwsScd2 contract.
  * A replayed delivery of the current latest event is a no-op.
  *
  * Scale posture: one hash shuffle on the key per micro-batch; state is
  * exactly one (ts, id) pair per live key, independent of stream length.
  */
object TwsGaps {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  case class Ev(k: String, id: Long, tsUs: Long)
  case class Gap(k: String, prev_id: Long, id: Long, gap_us: Long)
  case class Last(tsUs: Long, id: Long)

  class GapProcessor(minGapUs: Long) extends StatefulProcessor[String, Ev, Gap] {
    require(minGapUs > 0, "minGapUs must be positive")
    @transient private var last: ValueState[Last] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Last]("last",
        Encoders.product[Last], TTLConfig.NONE)

    override def handleInputRows(k: String, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Gap] = {
      var cur = if (last.exists()) Some(last.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[Gap]
      rows.toSeq.sortBy(e => (e.tsUs, e.id)).foreach { e =>
        cur match {
          case Some(p) if e.tsUs == p.tsUs && e.id == p.id =>
            () // at-least-once replay of the current latest: no-op
          case Some(p) if e.tsUs < p.tsUs ||
              (e.tsUs == p.tsUs && e.id < p.id) =>
            () // late past the predecessor boundary: drop (see contract)
          case Some(p) =>
            if (e.tsUs - p.tsUs > minGapUs)
              out += Gap(k, p.id, e.id, e.tsUs - p.tsUs)
            cur = Some(Last(e.tsUs, e.id))
          case None => cur = Some(Last(e.tsUs, e.id))
        }
      }
      cur.foreach(last.update)
      out.iterator
    }

    override def handleExpiredTimer(k: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Gap] = Iterator.empty
  }

  /** Incremental gap detection over an event stream; requires the
    * RocksDB state store provider on the session.
    */
  def gaps(events: Dataset[Ev], minGapUs: Long): Dataset[Gap] = {
    implicit val ge: org.apache.spark.sql.Encoder[Gap] = Encoders.product[Gap]
    events.groupByKey(_.k)(Encoders.STRING)
      .transformWithState(new GapProcessor(minGapUs),
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch drift monitor
  * ([[graft.ext.Drift.totalVariation]]) on `transformWithState`: the
  * live side of the data-quality gate. State per group is the value
  * HISTOGRAM of everything streamed so far (bounded by the value
  * domain, exactly like the batch plan's post-combine width — NOT by
  * stream length); the reference snapshot's per-group histogram is a
  * small plain Map carried in the processor (broadcast with the task
  * closure, the same "reference side is tiny" contract as the batch
  * operator's broadcast totals). Each micro-batch updates the touched
  * groups' histograms and re-emits their exact TV distance, so a
  * monitor reads the CURRENT drift after every batch rather than
  * rebuilding the corpus aggregate.
  *
  * Arithmetic is the batch operator's exactly: BIGINT cross-products
  * |c_A·N_B − c_B·N_A| summed exactly, ONE IEEE division at the end —
  * StreamingEventsSpec asserts the final emission per group is
  * bit-identical to batch `totalVariation` over the same fed rows.
  * Order-insensitive by construction (histograms commute), so any
  * cross-batch delivery order yields the same final value.
  *
  * Scale posture: one hash shuffle on the group per micro-batch;
  * per-group work is O(domain) at emission, state is O(domain) — both
  * the same bound the batch cumulative plan carries.
  */
object TwsDrift {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

  case class Obs(g: String, v: Long)
  case class Tv(g: String, na: Long, nb: Long, tv: Double)

  class DriftProcessor(ref: Map[String, Map[Long, Long]])
      extends StatefulProcessor[String, Obs, Tv] {
    @transient private var hist: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long]("hist",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(g: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[Tv] = {
      rows.foreach { o =>
        val c = if (hist.containsKey(o.v)) hist.getValue(o.v) else 0L
        hist.updateValue(o.v, c + 1L)
      }
      val cur = hist.iterator().map { case (v, c) => v -> c }.toMap
      val r = ref.getOrElse(g, Map.empty[Long, Long])
      val na = cur.valuesIterator.sum
      val nb = r.valuesIterator.sum
      // exact BIGINT numerator over the union support, then the same
      // single IEEE division the batch operator performs
      val num = (cur.keySet ++ r.keySet).iterator.map { v =>
        math.abs(cur.getOrElse(v, 0L) * nb - r.getOrElse(v, 0L) * na)
      }.sum
      // double denominator: the batch totalVariation formula verbatim
      // (a 2L*na*nb long product overflows at ~2.1e9 rows per side)
      val tv = if (na > 0 && nb > 0) num.toDouble / (2.0 * na.toDouble * nb.toDouble)
               else 1.0
      Iterator.single(Tv(g, na, nb, tv))
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Tv] = Iterator.empty
  }

  /** Incremental drift monitoring of an observation stream against a
    * fixed reference snapshot; requires the RocksDB state store
    * provider on the session. The latest emission per group (the one
    * with the max `na`) is the current drift.
    */
  def drift(obs: Dataset[Obs],
            ref: Map[String, Map[Long, Long]]): Dataset[Tv] = {
    implicit val te: org.apache.spark.sql.Encoder[Tv] = Encoders.product[Tv]
    obs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new DriftProcessor(ref),
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch Misra-Gries heavy-hitter sketch
  * (`graft.functions.SketchFunctions.freqItems`) on
  * `transformWithState`: the live "trending terms per source" monitor.
  * State per group is the classic k-counter Misra-Gries summary plus
  * the processed-count — BOUNDED at `capacity` entries regardless of
  * stream length or vocabulary, the same bound the batch sketch's
  * aggregation buffer carries. Each micro-batch folds its rows into
  * the summary sequentially (MG is order-insensitive in its
  * guarantee: ANY interleaving of updates preserves it) and re-emits
  * the current summary tagged with the running total `n`, so the
  * latest emission per group is the current answer.
  *
  * Deterministic guarantee (StreamingEventsSpec asserts it against
  * exact counts over the same fed rows): every item with true
  * frequency > n/(capacity+1) is present, and each reported count_lo
  * is a lower bound within n/(capacity+1) of the true count — the
  * identical contract SketchSpec pins on the batch aggregate.
  *
  * Scale posture: one hash shuffle on the group per micro-batch;
  * per-batch work is O(rows + capacity), state is O(capacity).
  */
/** Streaming twin of the batch log-histogram quantile sketch
  * (`graft.functions.SketchFunctions.approxQuantiles`) on
  * `transformWithState`: the live per-group latency/length percentile
  * monitor. State per group is the sketch itself — occupied bucket
  * counts in MapState plus (total, max) — BOUNDED by the grid size
  * (~30 KiB at the default subBits = 7) regardless of stream length,
  * exactly the batch aggregate's buffer bound. Every micro-batch folds
  * its rows into the grid with the SAME `ApproxQuantiles.bucketOf` and
  * re-emits the current estimates through the SAME
  * `ApproxQuantiles.quantileValue` nearest-rank walk, so after the
  * last row the emission is bit-identical to the batch aggregate over
  * the full feed (StreamingEventsSpec pins it).
  */
object TwsQuantiles {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
  import graft.functions.ApproxQuantiles

  case class Obs(g: String, v: Long)
  case class Qs(g: String, n: Long, qs: Seq[Double])

  class QuantileProcessor(probs: Seq[Double], subBits: Int)
      extends StatefulProcessor[String, Obs, Qs] {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must lie in [0, 1], got $probs")
    @transient private var hist: MapState[Int, Long] = _
    @transient private var total: ValueState[Long] = _
    @transient private var mx: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      hist = getHandle.getMapState[Int, Long]("hist",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)
      mx = getHandle.getValueState[Long]("mx", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(g: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[Qs] = {
      val m = scala.collection.mutable.Map.empty[Int, Long]
      hist.iterator().foreach { case (b, c) => m(b) = c }
      var n = if (total.exists()) total.get() else 0L
      var hi = if (mx.exists()) mx.get() else 0L
      rows.foreach { o =>
        require(o.v >= 0, s"negative input ${o.v} (shift upstream)")
        val b = ApproxQuantiles.bucketOf(o.v, subBits)
        m(b) = m.getOrElse(b, 0L) + 1L
        n += 1
        if (o.v > hi) hi = o.v
      }
      m.foreach { case (b, c) => hist.updateValue(b, c) }
      total.update(n)
      mx.update(hi)
      val est = probs.map(p =>
        ApproxQuantiles.quantileValue(m.getOrElse(_, 0L), n, hi, p, subBits))
      Iterator.single(Qs(g, n, est))
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Qs] = Iterator.empty
  }

  /** Incremental per-group quantile estimates; requires the RocksDB
    * state store provider. The emission with each group's max `n` is
    * the current summary.
    */
  def quantiles(obs: Dataset[Obs], probs: Seq[Double],
                subBits: Int = ApproxQuantiles.DefaultSubBits): Dataset[Qs] = {
    implicit val qe: org.apache.spark.sql.Encoder[Qs] = Encoders.product[Qs]
    obs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new QuantileProcessor(probs, subBits),
        TimeMode.None(), OutputMode.Append())
  }
}

object TwsHeavyHitters {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

  case class Obs(g: String, item: String)
  case class HH(g: String, n: Long, item: String, count_lo: Long)

  class MgProcessor(capacity: Int)
      extends StatefulProcessor[String, Obs, HH] {
    require(capacity > 0, "capacity must be positive")
    @transient private var counts: MapState[String, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("n",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(g: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[HH] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      counts.iterator().foreach { case (k, v) => m(k) = v }
      var seen = if (total.exists()) total.get() else 0L
      rows.foreach { o =>
        seen += 1
        m.get(o.item) match {
          case Some(c) => m(o.item) = c + 1
          case None if m.size < capacity => m(o.item) = 1L
          case None =>
            // decrement-all step: drains one unit from every counter
            m.keys.toSeq.foreach { k =>
              val c = m(k) - 1
              if (c == 0) m.remove(k) else m(k) = c
            }
        }
      }
      counts.clear()
      m.foreach { case (k, v) => counts.updateValue(k, v) }
      total.update(seen)
      val n = seen
      m.iterator.map { case (k, v) => HH(g, n, k, v) }
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[HH] = Iterator.empty
  }

  /** Incremental heavy-hitter tracking per group; requires the RocksDB
    * state store provider. The emission set with each group's max `n`
    * is the current summary.
    */
  def heavyHitters(obs: Dataset[Obs], capacity: Int): Dataset[HH] = {
    implicit val he: org.apache.spark.sql.Encoder[HH] = Encoders.product[HH]
    obs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new MgProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch embedding-covariance pass
  * (`graft.ext.Similarity.covarianceCells`) on `transformWithState`:
  * the live embedding-statistics monitor (distribution shift in a
  * vector ingest shows up here before any model does). State per group
  * is the moment cells themselves — n, the dim per-component sums, and
  * the dim(dim+1)/2 product sums — BOUNDED by dim² at any stream
  * length, exactly the batch aggregate's post-combine width. Each
  * micro-batch folds its vectors' 1/scale-quantized products into the
  * exact-BIGINT cells and re-emits the covariance table; emissions are
  * bit-identical to the batch operator on the same prefix because
  * every moment is an exact integer and the closed form replays the
  * identical double arithmetic (same order, same HALF_UP rounding,
  * same −0.0 fold). Moments are kept PER CELL — (n, sx, sy, sxy) keyed
  * by the (i, j) pair, exactly the batch groupBy's accumulator — so
  * malformed input matches the batch contract too: a null vector
  * contributes nothing anywhere (batch: posexplode(null) emits no
  * rows) and a shorter vector contributes only the cells where both
  * components are present, with that cell's own count.
  */
object TwsCov {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig,
    TimeMode, TimerValues}

  case class Vec(g: String, v: Seq[Float])
  case class Cell(g: String, i: Long, j: Long, n: Long, cov: Double)
  /** Per-cell exact-BIGINT moments: row count, Σxi, Σxj, Σxi·xj over
    * rows where BOTH components exist — the batch groupBy(i,j) state.
    */
  case class CellAcc(n: Long, sx: Long, sy: Long, sxy: Long)

  class CovProcessor(dim: Int, scale: Long)
      extends StatefulProcessor[String, Vec, Cell] {
    @transient private var cells: MapState[Long, CellAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cells = getHandle.getMapState[Long, CellAcc]("cells",
        Encoders.scalaLong, Encoders.product[CellAcc], TTLConfig.NONE)
    }

    override def handleInputRows(g: String, rows: Iterator[Vec],
        timerValues: TimerValues): Iterator[Cell] = {
      // fold the micro-batch locally, then one state write per cell
      val m = scala.collection.mutable.Map.empty[Long, CellAcc]
      cells.iterator().foreach { case (k, a) => m(k) = a }
      rows.foreach { r =>
        if (r.v != null) {
          // same quantization as the batch pass: floor(x·scale + 0.5)
          // on the float widened to double — bit-identical inputs.
          // A vector LONGER than dim fails loudly (batch: negative
          // slice length is an ANSI error); shorter contributes only
          // its present components.
          require(r.v.length <= dim,
            s"vector length ${r.v.length} exceeds dim=$dim")
          val vq = r.v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
          var i = 0
          while (i < vq.length) {
            var j = i
            while (j < vq.length) {
              val k = i.toLong * dim + j
              val a = m.getOrElse(k, CellAcc(0L, 0L, 0L, 0L))
              m(k) = CellAcc(a.n + 1L, a.sx + vq(i), a.sy + vq(j),
                a.sxy + vq(i) * vq(j))
              j += 1
            }
            i += 1
          }
        }
      }
      m.foreach { case (k, a) => cells.updateValue(k, a) }
      m.toSeq.sortBy(_._1).iterator.map { case (k, a) =>
        // the batch closed form verbatim: (sxy·n − sx·sy)/(n²·scale²),
        // HALF_UP to 4, −0.0 folded — per-cell n, like groupBy(i,j)
        val nd = a.n.toDouble
        val den = nd * nd * (scale * scale).toDouble
        val raw = (a.sxy.toDouble * nd - a.sx.toDouble * a.sy.toDouble) / den
        val cov = BigDecimal(raw)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
        Cell(g, k / dim, k % dim, a.n, cov)
      }
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Cell] = Iterator.empty
  }

  /** Incremental covariance per group; requires the RocksDB state
    * store provider. The emission set with each group's max `n` is the
    * current table.
    */
  def covariance(vecs: Dataset[Vec], dim: Int,
                 scale: Long = 1000L): Dataset[Cell] = {
    implicit val ce: org.apache.spark.sql.Encoder[Cell] = Encoders.product[Cell]
    vecs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new CovProcessor(dim, scale),
        TimeMode.None(), OutputMode.Append())
  }
}

/** Streaming twin of the batch Count-Min sketch
  * ([[graft.functions.CountMin]]) on `transformWithState`: live
  * per-item rate estimates over unbounded key domains (URL hit rates,
  * shingle frequencies) with depth·width counters per group regardless
  * of stream length. State is the SPARSE counter map (only touched
  * cells hit RocksDB); each micro-batch folds its items in with the
  * IDENTICAL hash trajectory as the batch aggregate (same
  * `CountMin.Seed`, same XxHash64 rows), so the streaming counters —
  * and therefore every point estimate — are BIT-IDENTICAL to a batch
  * `graft_cms` over the same prefix (CMS accumulation is counter-wise
  * exact; the spec asserts the equality). Emits the current estimates
  * for a fixed probe list per micro-batch, the monitoring shape.
  */
object TwsCms {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.CountMin

  case class Obs(g: String, item: String)
  case class Est(g: String, n: Long, item: String, est: Long)

  // delegate to the ONE hash-to-cell definition (CountMin.cell) — the
  // batch==streaming bit-identity contract breaks silently if this
  // mapping is re-implemented here
  private def cellOf(item: String, r: Int, width: Int): Int =
    CountMin.cell(UTF8String.fromString(item), r, width)

  class CmsProcessor(depth: Int, width: Int, probes: Seq[String])
      extends StatefulProcessor[String, Obs, Est] {
    // the batch CmsAgg bounds verbatim (CmsExpressions.scala) — beyond
    // them CountMin.cell's Int cell index (r*width + mod) can overflow,
    // silently breaking the batch==streaming bit-identity cell() carries
    require(depth >= 1 && depth <= 16,
      s"depth must be in [1, 16], got $depth")
    require(width >= 2 && width <= (1 << 20),
      s"width must be in [2, 2^20], got $width")
    @transient private var cells: MapState[Int, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cells = getHandle.getMapState[Int, Long]("cms",
        Encoders.scalaInt, Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("n",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(g: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[Est] = {
      val m = scala.collection.mutable.Map.empty[Int, Long]
      cells.iterator().foreach { case (i, c) => m(i) = c }
      var n = if (total.exists()) total.get() else 0L
      val touched = scala.collection.mutable.Set.empty[Int]
      rows.foreach { o =>
        n += 1
        var r = 0
        while (r < depth) {
          val i = cellOf(o.item, r, width)
          m(i) = m.getOrElse(i, 0L) + 1L
          touched += i
          r += 1
        }
      }
      // write back ONLY this batch's touched cells — rewriting the
      // whole map would cost up to depth·width RocksDB puts for a
      // 1-item batch (the "only touched cells hit RocksDB" claim)
      touched.foreach(i => cells.updateValue(i, m(i)))
      total.update(n)
      val nn = n
      probes.iterator.map { p =>
        var min = Long.MaxValue
        var r = 0
        while (r < depth) {
          val c = m.getOrElse(cellOf(p, r, width), 0L)
          if (c < min) min = c
          r += 1
        }
        Est(g, nn, p, min)
      }
    }

    override def handleExpiredTimer(g: String, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Est] = Iterator.empty
  }

  /** Incremental CMS per group; requires the RocksDB state store
    * provider. The emission set with each group's max `n` holds the
    * current estimates for `probes`.
    */
  def estimates(obs: Dataset[Obs], probes: Seq[String],
                depth: Int = CountMin.DefaultDepth,
                width: Int = CountMin.DefaultWidth): Dataset[Est] = {
    implicit val ee: org.apache.spark.sql.Encoder[Est] = Encoders.product[Est]
    obs.groupByKey(_.g)(Encoders.STRING)
      .transformWithState(new CmsProcessor(depth, width, probes),
        TimeMode.None(), OutputMode.Append())
  }
}
