package graft.streaming

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

import graft.ops.RelOps

/** Open-session state carried across micro-batches per key. */
case class OpenSession(start: Long, end: Long, n: Long)

/** `transformWithState` processor behind
  * [[StreamOps.runningTotalsStream]]: cumulative (count, sum) per key.
  * Top-level class — the processor is serialized to executors, and the
  * state handle is re-acquired per task via `init` (hence @transient).
  * Input rows are (key, value); output is (key, n, total) after the
  * batch's rows are folded into state.
  *
  * `ttl` other than `TTLConfig.NONE` (behind
  * [[StreamOps.runningTotalsTtlStream]]) puts a real processing-time
  * TTL on the state: a key idle for longer than it reads back as
  * absent — its totals restart — which is the eviction discipline an
  * unbounded-key-churn stream needs (TTL is processing-time-based in
  * Spark, so the oracled queries pin cross-batch retention with the
  * TTL-free form and the eviction contract is spec-pinned instead). */
class RunningTotals(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var totals: ValueState[(Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), ttl)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Double)] = {
    var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { case (_, v) => n += 1; total += v }
    totals.update((n, total))
    Iterator((key, n, total))
  }
}

/** `transformWithState` processor behind
  * [[StreamOps.recentEventsStream]]: per key, the 3 LARGEST event ids
  * (with their values) plus a seen-count, carried across micro-batches
  * in a ListState + ValueState pair. The list is compacted to the
  * top-3 on every batch, so state per key is bounded (4 small entries)
  * no matter how many events the key ever sees — the bounded-state
  * discipline that keeps keyed streaming state disk-resident-safe at
  * 100 TB. Ordering by event_id (not arrival) makes the final state
  * independent of batch partitioning — which is what lets a batch SQL
  * oracle reproduce it. */
class RecentTopEvents extends StatefulProcessor[
    Long, (Long, Long, Double), (Long, Long, Seq[Long], Seq[Double])] {
  @transient private var top: ListState[(Long, Double)] = _
  @transient private var seen: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    top = getHandle.getListState[(Long, Double)]("top",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
      TTLConfig.NONE)
    seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
      TTLConfig.NONE)
  }
  override def handleInputRows(key: Long,
                               rows: Iterator[(Long, Long, Double)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Seq[Long], Seq[Double])] = {
    val batch = rows.map { case (_, id, v) => (id, v) }.toArray
    val merged = (top.get().toArray ++ batch)
      .sortBy(-_._1).take(3)
    top.put(merged)
    val n = (if (seen.exists()) seen.get() else 0L) + batch.length
    seen.update(n)
    Iterator((key, n, merged.map(_._1).toSeq, merged.map(_._2).toSeq))
  }
}

/** `transformWithState` processor behind
  * [[StreamOps.typeCountsStream]]: per key, a MapState[String, Long] of
  * event-type → count (the per-key sub-keyed state shape: a ValueState
  * would serialize the whole map per update, a MapState updates one
  * entry). Emits the full map + total after each batch; the map is
  * bounded by the event-type domain, so state per key stays small. */
class PerTypeCounts extends StatefulProcessor[
    Long, (Long, String), (Long, Long, Map[String, Long])] {
  @transient private var counts: MapState[String, Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Map[String, Long])] = {
    rows.foreach { case (_, et) =>
      val c = if (counts.containsKey(et)) counts.getValue(et) else 0L
      counts.updateValue(et, c + 1L)
    }
    val snap = counts.iterator().toMap
    Iterator((key, snap.valuesIterator.sum, snap))
  }
}

/** A completed gap-delimited session emitted downstream. */
case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
                      sess_end: java.sql.Timestamp, n_events: Long)

/** `transformWithState` processor behind
  * [[StreamOps.sessionizeTimersStream]]: gap sessionization where the
  * final session per key is closed by an EVENT-TIME TIMER instead of
  * lingering open forever — the flagship use of the Spark-4 timer API
  * and the piece that bounds state on an unbounded stream (the q49
  * flatMapGroupsWithState form keeps one open session per key for the
  * lifetime of the key).
  *
  * Per batch: the key's events are sorted, folded into the open
  * session with the same gap rule as [[StreamOps.sessionizeStream]],
  * and sessions closed BY DATA (a later event beyond the gap) emit
  * immediately. The still-open session re-registers its one timer at
  * `end_ms + gap_ms` (previous timers deleted — one live timer per
  * key). When the event-time watermark passes the expiry
  * (`expiry <= watermark`, pinned by TimerStateImpl's secondary-index
  * scan), `handleExpiredTimer` emits the open session and CLEARS the
  * state — at that watermark no admissible event can extend the
  * session, so the close is exact, and an idle key holds zero state
  * afterward. Scale: state is one OpenSession + one timer per ACTIVE
  * key, not per key ever seen. */
class SessionTimers(gapSeconds: Long) extends StatefulProcessor[
    Long, (Long, Long), SessionOut] {
  private val gapMicros = gapSeconds * 1000000L
  private val gapMs = gapSeconds * 1000L
  @transient private var open: ValueState[OpenSession] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenSession]("open",
      Encoders.product[OpenSession], TTLConfig.NONE)
  private def toOut(key: Long, o: OpenSession): SessionOut =
    SessionOut(key, new java.sql.Timestamp(o.start / 1000L),
      new java.sql.Timestamp(o.end / 1000L), o.n)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues)
      : Iterator[SessionOut] = {
    val ts = rows.map(_._2).toArray.sorted
    var cur = if (open.exists()) Some(open.get()) else None
    val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
    ts.foreach { t =>
      cur match {
        case Some(o) if t - o.end <= gapMicros =>
          // min/max: a same-batch event inside the horizon must never
          // move the window backwards (same rule as sessionizeStream)
          cur = Some(OpenSession(math.min(o.start, t),
            math.max(o.end, t), o.n + 1))
        case Some(o) =>
          closed += toOut(key, o)
          cur = Some(OpenSession(t, t, 1))
        case None => cur = Some(OpenSession(t, t, 1))
      }
    }
    cur.foreach { o =>
      open.update(o)
      // exactly one live timer per key, tracking the open session's end
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(o.end / 1000L + gapMs)
    }
    closed.iterator
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo)
      : Iterator[SessionOut] = {
    // the live timer always tracks the current open session (deleted +
    // re-registered on every update), so an expiry means the watermark
    // passed end + gap: close, emit, and drop the key's state entirely
    if (open.exists()) {
      val o = open.get()
      open.clear()
      Iterator(toOut(key, o))
    } else Iterator.empty
  }
}

/** `transformWithState` processor behind
  * [[StreamOps.idleFlushStream]] — the PROCESSING-TIME timer half of
  * the timer API ([[SessionTimers]] exercises event time): per key,
  * accumulate (count, sum) and FLUSH the accumulated batch downstream
  * only once the key has been idle for `idleFlushMs` of wall-clock
  * time — the micro-batching sink pattern (coalesce a key's updates,
  * emit one write per quiet period, state dropped on flush).
  *
  * Timer discipline mirrors [[SessionTimers]]: every batch with input
  * deletes the key's old timer and re-arms at now + idleFlushMs (one
  * live timer per key), so the timer only ever fires for a key with
  * no newer input — and Spark processes a batch's input rows BEFORE
  * its expired timers, so a key receiving data in the same batch its
  * old deadline lapsed re-arms instead of flushing (it wasn't idle).
  * On expiry the pending aggregate is emitted and the state CLEARED —
  * an idle key holds zero state, the same bound as the event-time
  * sessionizer. Wall-clock-dependent ⇒ spec-pinned
  * (IdleFlushTimerSpec), not oracled — the TTL precedent. */
class IdleFlushTimers(idleFlushMs: Long) extends StatefulProcessor[
    Long, (Long, Double), (Long, Long, Double)] {
  @transient private var pending: ValueState[(Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    pending = getHandle.getValueState[(Long, Double)]("pending",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long, Double)] = {
    var (n, total) = if (pending.exists()) pending.get() else (0L, 0.0)
    rows.foreach { case (_, v) => n += 1; total += v }
    pending.update((n, total))
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(
      timerValues.getCurrentProcessingTimeInMs() + idleFlushMs)
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo)
      : Iterator[(Long, Long, Double)] = {
    if (pending.exists()) {
      val (n, total) = pending.get()
      pending.clear()
      Iterator((key, n, total))
    } else Iterator.empty
  }
}

/** Structured Streaming layer (SURVEY.md §2.11): the reference is pure
  * batch, but the problem is stream-shaped (flows arrive continuously;
  * the dashboard consumes live predictions) — BASELINE.json mandates
  * this surface.
  *
  * Batch operators re-expressed over `readStream`:
  *  - stateless transforms (projections/filters/cleaning) — unchanged;
  *  - fitted `PipelineModel.transform` for scoring (fit stays batch);
  *  - tumbling/sliding windowed counts with watermarks for late data;
  *  - `foreachBatch` sink (stand-in for the reference's Cassandra sink,
  *    `/root/reference/src/spark_to_cassandra.py:22-30`).
  *
  * Scale notes: windowed aggregation state is partitioned by (window,
  * keys) across executors; the watermark bounds state size — without it
  * a 100 TB stream accumulates state forever.
  */
object StreamOps {

  /** SCD2 streaming state-schema version (round-13 verdict task 4).
    * History: v1 original (a, b, fromUs, version); v2 + `seenUs`,
    * boxed `b`; v3 + `seenTie`; v4 + this field itself; v5 one
    * row-encoded layout for every [[scd2Stream]] form — `(attrs...,
    * open, fromUs, version, seenUs, seenTie, sv)` — replacing the
    * two-attribute case-class records. Bump on ANY change to the
    * state layout OR its interpretation; every state record is
    * written with the current value and checked on restore by
    * [[requireScd2StateVersion]].
    *
    * A durable checkpoint written by an older build (e.g. via
    * [[runFileSinkPhase]], which advertises cross-lifetime resume)
    * CANNOT be resumed by a newer one. Two fences fail loudly
    * instead of leaving that undefined: a FIELD-SHAPE change trips
    * Spark's own state-schema compatibility checker at restore; a
    * SEMANTIC change that keeps the shape (the class Spark's checker
    * cannot see — e.g. reinterpreting `seenUs`) trips
    * [[requireScd2StateVersion]] on the first restored key. There is
    * no migration path by design: rebuild the dimension from the
    * batch twin ([[graft.ops.RelOps.scd2Build]]) and start a fresh
    * checkpoint. */
  val Scd2StateVersion: Int = 5

  /** Fail-loudly fence for restored SCD2 state whose version does not
    * match this build (covers the semantic-change class Spark's own
    * state-schema checker cannot see — field shapes unchanged, meaning
    * changed). Runs once per restored key, on the state record the
    * store already decoded — no extra I/O. */
  private[graft] def requireScd2StateVersion(found: Int): Unit =
    if (found != Scd2StateVersion)
      throw new IllegalStateException(
        s"STALE STREAMING STATE: checkpoint carries SCD2 state schema " +
          s"version $found, this build expects $Scd2StateVersion. " +
          "Durable checkpoints do not migrate across state-schema " +
          "versions — rebuild the dimension from the batch twin " +
          "(RelOps.scd2Build, with the same deletedCol) and start a " +
          "fresh checkpoint.")

  /** File-based stream source with a pinned schema (inference is
    * disallowed on streams — and a perf bug on batch, SURVEY §2.1 S1).
    * `maxFilesPerTrigger` caps files per micro-batch — the knob that
    * turns a multi-file staging dir into a multi-batch replay (used by
    * the keyed-sink round-trip to exercise cross-batch upserts). */
  def fileStream(spark: SparkSession, schema: StructType, path: String,
                 format: String = "parquet",
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema).format(format)
    maxFilesPerTrigger.foreach(n =>
      r.option("maxFilesPerTrigger", n.toString))
    r.load(path)
  }

  /** Tumbling-window event counts with a watermark: the dashboard's
    * per-interval label counts (SURVEY §2.11). */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDur: String, watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Sliding-window variant. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowDur: String, slideDur: String,
                    watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur, slideDur), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup: keep the first arrival per `keyCols` within
    * the watermark horizon (the streaming analogue of
    * [[graft.ops.DedupOps.exactDedup]]) — a re-stamped retransmission
    * (same key, different ts) is still a duplicate, so the timestamp is
    * NOT part of the key; `dropDuplicatesWithinWatermark` evicts state
    * older than the watermark, bounding it to keys seen within the
    * horizon. */
  def dedupStream(events: DataFrame, tsCol: String,
                  watermarkDelay: String, keyCols: String*): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Stateful gap sessionization over a stream — the custom-state
    * surface (`flatMapGroupsWithState`) the engine exposes beyond
    * windowed aggregation. State per key = the open session; each batch
    * sorts its events, closes sessions whose gap to the next event
    * exceeds `gapSeconds`, emits the CLOSED sessions, and keeps the
    * still-open one in state (each user's final session stays open until
    * later data closes it — standard for gap sessions on an unbounded
    * stream). Out-of-order events are repaired within a batch (sort);
    * cross-batch stragglers belong to the watermark contract the caller
    * sets upstream. State size: one OpenSession per active key.
    */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
                       gapSeconds: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapSeconds * 1000000L
    val typed = events
      .select(col(keyCol).cast("long"),
        unix_micros(col(tsCol)).as("_us"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)],
         state: GroupState[OpenSession]) =>
          val ts = rows.map(_._2).toArray.sorted
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          // Cross-batch stragglers far BEFORE the open session (merging
          // them would span a silence wider than the gap) form a sorted
          // PREFIX of the batch. Fold consecutive stragglers into gap
          // sessions of their own before emitting — two stragglers within
          // `gap` of each other become ONE closed session, not two
          // singletons. Every straggler session closes: its last event is
          // > gap before the open session's start by construction.
          val (stragglers, mainTs) = open match {
            case Some(o) => ts.span(_ < o.start - gapMicros)
            case None => (Array.empty[Long], ts)
          }
          var run: Option[OpenSession] = None
          stragglers.foreach { t =>
            run match {
              case Some(r) if t - r.end <= gapMicros =>
                run = Some(OpenSession(r.start, t, r.n + 1))
              case Some(r) =>
                closed += SessionOut(key,
                  new java.sql.Timestamp(r.start / 1000L),
                  new java.sql.Timestamp(r.end / 1000L), r.n)
                run = Some(OpenSession(t, t, 1))
              case None => run = Some(OpenSession(t, t, 1))
            }
          }
          run.foreach(r => closed += SessionOut(key,
            new java.sql.Timestamp(r.start / 1000L),
            new java.sql.Timestamp(r.end / 1000L), r.n))
          mainTs.foreach { t =>
            open match {
              case Some(o) if t - o.end <= gapMicros =>
                // min/max, not assignment: a late event inside the gap
                // horizon must never move the window backwards
                open = Some(OpenSession(math.min(o.start, t),
                  math.max(o.end, t), o.n + 1))
              case Some(o) =>
                closed += SessionOut(key,
                  new java.sql.Timestamp(o.start / 1000L),
                  new java.sql.Timestamp(o.end / 1000L), o.n)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** STREAMING SCD2 DIMENSION MAINTENANCE — [[graft.ops.RelOps.scd2Build]]
    * run ONLINE (the streaming sibling of the batch build and of
    * [[graft.ops.RelOps.scd2Apply]]'s delta form): per key, each
    * change of the tracked attributes CLOSES the open version
    * (emitted downstream) and opens the next; no-op changes are
    * suppressed; the final version per key stays OPEN in the state
    * store (the q49 closed-only emission convention — the oracle is
    * the batch build with the same `deletedCol`, minus its is_current
    * rows). Output columns: key, attrs..., valid_from_us,
    * valid_to_us, version.
    *
    * ATTRIBUTES: the state and the emitted versions are ROW-encoded
    * over the tracked columns' actual schema (`Encoders.row` — no
    * arity ceiling, no type pinning). The change screen is a
    * per-field NULL-SAFE compare (`Objects.equals` over boxed values
    * — exactly the batch build's whole-struct `<=>`: per-field
    * null==null is a no-op, null→value opens). Tracked columns must
    * be atomic (string/numeric/boolean/date/timestamp).
    *
    * TOMBSTONES: a row whose `deletedCol` is true CLOSES the key's
    * open version and opens nothing; a later live row re-opens with
    * the live-version counter continuing across the gap (versions
    * number live rows only, the batch rule); repeated and leading
    * tombstones are no-ops. `None`, and a null flag, read as false.
    *
    * ORDERING CONTRACT: rows are sorted by (ts, tie) WITHIN each
    * micro-batch (the group iterator carries no order), and batches
    * must arrive in event-time order per key (q121's
    * `stageTypedBatches` staging, or any time-partitioned landing
    * layout). A cross-batch straggler whose `(ts, tie)` sort key is
    * lexicographically below the key's max ACCEPTED sort key (the
    * state's `(seenUs, seenTie)` — suppressed no-ops and repeated
    * tombstones advance it too) cannot be versioned retroactively
    * and is DROPPED. The drop is observable: pass `droppedStragglers`
    * (a driver-registered `LongAccumulator`) and every dropped row
    * adds 1. Accumulator counts are AT-LEAST-ONCE under task
    * retries/micro-batch replays — correct for a "nonzero means
    * investigate" monitor; the batch build is the repair path.
    *
    * State = ONE row per key ever seen, layout [[Scd2StateVersion]]
    * v5 — bounded by key cardinality, never by event volume. */
  def scd2Stream(events: DataFrame, keyCol: String,
                 attrCols: Seq[String], tsCol: String, tieCol: String,
                 deletedCol: Option[String] = None,
                 droppedStragglers: Option[LongAccumulator] = None)
      : DataFrame = {
    require(attrCols.nonEmpty, "scd2Stream needs >= 1 tracked attribute")
    val spark = events.sparkSession
    import spark.implicits._
    val na = attrCols.length
    // input row layout: key, attrs[0..na-1], us, tie, deleted
    val proj = events.select(
      col(keyCol).cast("long").as("_k") +:
        attrCols.map(col) :+
        unix_micros(col(tsCol)).as("_us") :+
        col(tieCol).cast("long").as("_tie") :+
        RelOps.deletedFlag(deletedCol).as("_del"): _*)
    val attrFields = proj.schema.fields.slice(1, 1 + na)
    val stateSchema = StructType(attrFields.map(_.copy(nullable = true))
      ++ Seq(
      StructField("_open", BooleanType, nullable = false),
      StructField("_from_us", LongType, nullable = false),
      StructField("_version", LongType, nullable = false),
      StructField("_seen_us", LongType, nullable = false),
      StructField("_seen_tie", LongType, nullable = false),
      StructField("_sv", IntegerType, nullable = false)))
    val outSchema = StructType(
      StructField(keyCol, LongType, nullable = false) +:
        attrFields :+
        StructField("valid_from_us", LongType, nullable = false) :+
        StructField("valid_to_us", LongType, nullable = false) :+
        StructField("version", LongType, nullable = false))
    proj.groupByKey(_.getLong(0))
      .flatMapGroupsWithState[Row, Row](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Row], state: GroupState[Row]) =>
          scd2Step(key, na, rows, state, droppedStragglers)
      }(Encoders.row(stateSchema), Encoders.row(outSchema))
      .toDF()
  }

  /** Per-key transition of [[scd2Stream]] over `na` tracked
    * attributes, factored out so the state-version fence is testable
    * against a constructed `TestGroupState` (an old checkpoint cannot
    * be written by this build, by definition). Input rows are (key,
    * attrs..., us, tie, deleted); the state row is (attrs..., open,
    * fromUs, version, seenUs, seenTie, sv); emitted rows are (key,
    * attrs..., fromUs, toUs, version). */
  private[graft] def scd2Step(key: Long, na: Int, rows: Iterator[Row],
      state: GroupState[Row],
      droppedStragglers: Option[LongAccumulator]): Iterator[Row] = {
    val sorted = rows.toArray.sortBy(r =>
      (r.getLong(1 + na), r.getLong(2 + na)))
    state.getOption.foreach(o => requireScd2StateVersion(o.getInt(na + 5)))
    var st = state.getOption.getOrElse(Row.fromSeq(
      Seq.fill[Any](na)(null) ++ Seq[Any](false, Long.MinValue, 0L,
        Long.MinValue, Long.MinValue, Scd2StateVersion)))
    val closed = scala.collection.mutable.ArrayBuffer[Row]()
    sorted.foreach { r =>
      val us = r.getLong(1 + na)
      val tie = r.getLong(2 + na)
      val seenUs = st.getLong(na + 3)
      if (us < seenUs || (us == seenUs && tie < st.getLong(na + 4))) {
        // cross-batch straggler: (ts, tie) below the accepted horizon
        droppedStragglers.foreach(_.add(1L))
      } else {
        val open = st.getBoolean(na)
        val del = r.getBoolean(3 + na)
        val attrs = (0 until na).map(st.get)
        val noOp = open && !del && (0 until na).forall(i =>
          java.util.Objects.equals(attrs(i), r.get(1 + i)))
        val version = st.getLong(na + 2)
        // a change or a tombstone closes the open version
        if (open && !noOp) closed += Row.fromSeq(
          key +: attrs :+ st.getLong(na + 1) :+ us :+ version)
        // (Seq[Any]: keeps the Int `sv` from being harmonized to Long)
        st = if (del || noOp) // horizon only; a tombstone leaves it closed
            Row.fromSeq(attrs ++ Seq[Any](noOp, st.getLong(na + 1),
              version, us, tie, Scd2StateVersion))
          else // (re-)open; the live-version counter survives gaps
            Row.fromSeq((1 to na).map(r.get) ++ Seq[Any](true, us,
              version + 1, us, tie, Scd2StateVersion))
      }
    }
    state.update(st)
    closed.iterator
  }

  /** Stream-stream interval equi-join: match each left event with the
    * right events of the same key within `(tsLeft, tsLeft +
    * upperSeconds]`-style bounds (here `tsRight ∈ [tsLeft, tsLeft +
    * upperSeconds]`) — the attribution/funnel join (view → purchase
    * within 30 min). BOTH sides carry watermarks and the join condition
    * bounds event time in both directions, so each side's buffered
    * state is evictable once the watermark passes the bound — without
    * the time bound a stream-stream join must buffer both streams
    * forever. Inner join: matches emit as soon as both rows arrive.
    * LEFT OUTER (`joinType = "left_outer"`): additionally, a left row
    * with NO match emits null-augmented exactly ONCE, when the
    * watermark passes its join window (state eviction time) — the
    * attribution report that includes unconverted views, with the
    * lateness contract built in (a left row whose window the final
    * watermark has not passed is withheld, not emitted with nulls —
    * it could still match). RIGHT OUTER (`joinType = "right_outer"`)
    * is the mirror: an unmatched RIGHT row null-augments once the
    * watermark passes ITS admissible window — for this condition the
    * latest admissible left event time is tsRight itself, so a right
    * row evicts (and null-emits) when the watermark passes tsRight.
    * `right`'s key column is renamed internally and coalesced back
    * after the join — on outer-emitted rows the absent side's key
    * column is null, so without the coalesce a right-outer unmatched
    * row would lose its key; all other column names must be disjoint
    * between the two sides. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         tsLeft: String, tsRight: String,
                         upperSeconds: Long,
                         watermarkDelay: String,
                         joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsLeft, watermarkDelay)
    val r = right.withColumnRenamed(keyCol, "_rk")
      .withWatermark(tsRight, watermarkDelay)
    val joined = l.join(r, col(keyCol) === col("_rk") &&
      col(tsRight) >= col(tsLeft) &&
      col(tsRight) <= col(tsLeft) + expr(s"interval $upperSeconds seconds"),
      joinType)
    // a semi join carries no right-side columns — nothing to coalesce
    if (joinType.contains("semi")) joined
    else joined
      .withColumn(keyCol, coalesce(col(keyCol), col("_rk")))
      .drop("_rk")
  }

  /** Deliver each micro-batch of a stream to `sink` — the foreachBatch
    * connector surface (the reference's Cassandra writer call-site,
    * `/root/reference/src/spark_to_cassandra.py:22-30`, generalized to
    * any keyed store). */
  def sinkStream(stream: DataFrame,
                 sink: (DataFrame, Long) => Unit,
                 outputMode: String = "append"): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, id: Long) => sink(batch, id) }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Score a stream with a batch-fitted model and deliver each
    * micro-batch to `sink` (the foreachBatch stand-in for Cassandra). */
  def scoreStream(stream: DataFrame, model: PipelineModel,
                  sink: (DataFrame, Long) => Unit): StreamingQuery =
    sinkStream(stream, (batch, id) => sink(model.transform(batch), id))

  /** Keyed parquet UPSERT sink for [[sinkStream]]/[[scoreStream]]: per
    * micro-batch, rows already in the table whose key appears in the
    * batch are REPLACED (digest-free anti-join on the key + union +
    * directory swap) — the portable MERGE idiom behind the
    * reference's prepared-statement Cassandra writes (a Cassandra INSERT
    * is an upsert per primary key). A production deployment points the
    * same per-batch shape at an ACID table format (Delta/Iceberg MERGE)
    * or a key-value store; plain parquet needs the tmp-dir swap because
    * a table can't be read and overwritten in one job. The anti-join
    * broadcasts the batch's (small) key set, so the merge cost is one
    * scan of the live table per batch.
    *
    * CRASH SAFETY: the merge is written to `<path>_tmp` (its commit
    * writes `_SUCCESS` last), then swapped in by two atomic renames,
    * `path → <path>_old` and `<path>_tmp → path`, before `<path>_old`
    * is deleted, so one complete table always exists. Each call first
    * recovers from a crash: with no table at `path`, a committed
    * `<path>_tmp` is moved in, else `<path>_old` is moved back (the
    * interrupted batch lost, as if never delivered). */
  def keyedParquetUpsert(spark: SparkSession, path: String,
                         keyCol: String): (DataFrame, Long) => Unit = {
    (batch, _) =>
      import java.nio.file.{Files, Paths}
      val target = Paths.get(path)
      val tmp = Paths.get(path + "_tmp")
      val old = Paths.get(path + "_old")
      if (!Files.exists(target)) {
        if (Files.exists(tmp.resolve("_SUCCESS"))) Files.move(tmp, target)
        else if (Files.exists(old)) Files.move(old, target)
      }
      graft.Fs.deleteRecursively(old)
      graft.Fs.deleteRecursively(tmp)
      val merged =
        if (Files.exists(target))
          spark.read.parquet(path)
            .join(broadcast(batch.select(keyCol).distinct()),
              Seq(keyCol), "left_anti")
            .unionByName(batch)
        else batch
      merged.write.mode("overwrite").parquet(tmp.toString)
      if (Files.exists(target)) Files.move(target, old)
      Files.move(tmp, target)
      graft.Fs.deleteRecursively(old)
  }

  /** Delete a [[keyedParquetUpsert]] table together with its swap
    * leftovers, which the sink's recovery would otherwise move back. */
  def dropUpsertTable(path: String): Unit = Seq("", "_tmp", "_old")
    .foreach(s => graft.Fs.deleteRecursively(java.nio.file.Paths.get(path + s)))

  /** Run a streaming aggregation over a static directory to completion
    * (AvailableNow + memory sink) and return the final result as a
    * batch DataFrame — lets the DuckDB oracle check streaming results.
    * `complete` output mode so open windows are included.
    *
    * `statePartitions`: stateful operators allocate one state store per
    * shuffle partition PER stateful operator side (a stream-stream join
    * holds four per partition), each paying per-micro-batch
    * snapshot/commit file I/O — at 32 shuffle partitions a single
    * interval join maintains 128 stores. Streaming state partitioning
    * is a deliberate per-workload knob (it is frozen into the
    * checkpoint on first start — a real deployment sizes it to peak
    * key cardinality, not to the batch-side CPU count). The session
    * conf is cloned into the streaming query at `start()`, so setting
    * it transiently scopes it to this query only.
    *
    * SERIAL-EXECUTION ASSUMPTION: the transient overrides (shuffle
    * partitions, RocksDB provider) mutate the shared session conf for
    * the start()…finally window — any query launched concurrently in
    * that window would capture them. The harness runs queries serially
    * (Verify/Bench/specs), which is what makes this safe; a concurrent
    * deployment should build the stream on `spark.newSession()` so the
    * overrides live on a session clone. */
  /** Run `agg` to completion (AvailableNow) into the exactly-once
    * PARQUET FILE SINK with a durable checkpoint — the RESTARTABLE
    * sibling of [[runToCompletion]]'s memory sink. Each call is one
    * "process lifetime": a later call with the same `checkpointDir`
    * RESUMES the query — the file-source commit log skips
    * already-ingested input files, the state store restores
    * aggregation state and the watermark, and the sink's
    * `_spark_metadata` commit log makes every emitted row land exactly
    * once even when a batch straddles the restart boundary. This is
    * the deployment shape of every long-running pipeline (planned
    * restarts, executor loss, code pushes); q142 proves it end-to-end
    * against a batch oracle.
    *
    * `statePartitions` is frozen into the checkpoint at first start
    * (Spark ignores the conf on resume), so phases may pass the same
    * value or none. Same transient-conf serial-execution contract as
    * [[runToCompletion]]. */
  def runFileSinkPhase(agg: DataFrame, checkpointDir: String,
                       outDir: String,
                       statePartitions: Option[Int] = None): Unit = {
    val spark = agg.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try {
      agg.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      statePartitions.foreach(_ =>
        spark.conf.set("spark.sql.shuffle.partitions", prev))
    }
  }

  def runToCompletion(agg: DataFrame, queryName: String,
                      outputMode: String = "complete",
                      statePartitions: Option[Int] = None,
                      rocksDb: Boolean = false,
                      stopAfterRows: Option[Long] = None): DataFrame = {
    val spark = agg.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    // transformWithState requires the RocksDB state store (the HDFS
    // -backed default doesn't implement the v2 column-family API); the
    // override is scoped to this query the same way as the partitions
    if (rocksDb) spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val q = agg.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      // A PROCESSING-TIME stateful operator reports "run another batch"
      // unconditionally (its timers/TTL could always fire later), so
      // under AvailableNow the engine neither terminates NOR latches
      // noNewData (every scheduled batch counts as progress) —
      // awaitTermination and processAllAvailable both block forever.
      // The only clean drain is observational: poll the sink until the
      // expected rows landed, then stop. Event-time / no-time queries
      // terminate on their own once the watermark stabilizes.
      stopAfterRows.foreach { n =>
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (spark.table(queryName).count() < n &&
               System.nanoTime() < deadline) Thread.sleep(100)
        q.stop()
      }
      q.awaitTermination()
    } finally {
      // the streaming query captured a cloned session conf at start();
      // the live session must not keep the override for later queries
      statePartitions.foreach(_ =>
        spark.conf.set("spark.sql.shuffle.partitions", prev))
      if (rocksDb) prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    spark.table(queryName)
  }

  /** Per-key running (count, sum) carried across micro-batches in a
    * `transformWithState` ValueState — the Spark-4 arbitrary-state API
    * (successor of flatMapGroupsWithState, used by q49's sessionizer).
    * Each batch emits the key's cumulative totals after folding that
    * batch's rows in, so update-mode output contains one row per
    * (key, batch-with-arrivals) and the row with the LARGEST `n` per
    * key is the final state — which is how the oracle reads it back.
    *
    * Scale: state is one 16-byte pair per live key, partitioned by key
    * hash across the state stores; RocksDB keeps it off-heap, so key
    * cardinality is bounded by disk, not executor memory. No timers /
    * TTL here — a production deployment with unbounded key churn adds
    * `TTLConfig` so idle keys expire. */
  def runningTotalsStream(events: Dataset[(Long, Double)])
      : Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningTotals,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-key bounded recent-top state (ListState) across micro-batches:
    * the 3 largest event ids + values and a total seen-count per key —
    * see [[RecentTopEvents]] for the state discipline. Input rows are
    * (key, event_id, value). */
  def recentEventsStream(events: Dataset[(Long, Long, Double)])
      : Dataset[(Long, Long, Seq[Long], Seq[Double])] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RecentTopEvents,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-key event-type census across micro-batches in a MapState —
    * see [[PerTypeCounts]]. Input rows are (key, event_type); output
    * is (key, total_n, type → count map) per batch, cumulative. */
  def typeCountsStream(events: Dataset[(Long, String)])
      : Dataset[(Long, Long, Map[String, Long])] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new PerTypeCounts,
        TimeMode.None(), OutputMode.Update())
  }

  /** Idle-key flush on a PROCESSING-TIME timer — see
    * [[IdleFlushTimers]]. Append mode: rows emerge only when a key's
    * quiet period lapses, one aggregate row per flush. */
  def idleFlushStream(events: Dataset[(Long, Double)],
                      idleFlushMs: Long): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new IdleFlushTimers(idleFlushMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Gap sessionization with EVENT-TIME TIMER close — see
    * [[SessionTimers]]. Unlike [[sessionizeStream]], every session
    * whose quiet period the watermark has passed is EMITTED and its
    * key's state dropped; only sessions still extendable at the final
    * watermark stay open. The watermark must be declared here (the
    * timer mode requires it); `tsCol` rides along as event-time micros.
    */
  def sessionizeTimersStream(events: DataFrame, keyCol: String,
                             tsCol: String, gapSeconds: Long,
                             watermarkDelay: String): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.withWatermark(tsCol, watermarkDelay)
      .select(col(keyCol).cast("long"),
        unix_micros(col(tsCol)).as("_us"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .transformWithState(new SessionTimers(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[runningTotalsStream]] with a processing-time TTL on the state —
    * see [[RunningTotals]]. Spec-exercised (TTL expiry depends on
    * wall-clock batch spacing, so it cannot be oracled). */
  def runningTotalsTtlStream(events: Dataset[(Long, Double)],
                             ttl: java.time.Duration)
      : Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningTotals(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }
}
