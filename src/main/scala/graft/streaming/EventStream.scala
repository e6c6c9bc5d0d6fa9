package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.RangeBuckets
import graft.sources.Tables

/** §2.7 streaming: the hourly rollup is ONE transform applied to either a
  * batch or a streaming DataFrame — batch/stream parity is by construction,
  * and `stream_hourly`'s oracle verifies the shared plan in batch mode.
  * Specs run the same transform through a real `readStream` with
  * `Trigger.AvailableNow` and a watermark, plus a stateful sessionizer via
  * `flatMapGroupsWithState`.
  */
object EventStream {

  /** Tumbling 1-hour window counts per event_type — works on batch and
    * streaming inputs alike (`window()` is supported in both).
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_s"),
        col("n"))

  // --- stream_hourly (batch-parity verification entry) --------------------
  def streamHourly(spark: SparkSession, d: String): DataFrame =
    hourlyRollup(Tables.events(spark, d)).orderBy("event_type", "hour_s")

  val streamHourlySql: String =
    """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_s,
      | count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming variant of the same rollup: file-source stream with a 2-hour
    * watermark. Used by the availableNow spec; identical aggregation plan.
    */
  def hourlyRollupStream(stream: DataFrame): DataFrame =
    hourlyRollup(stream.withWatermark("ts", "2 hours"))

  /** Read the events table as a file-source stream (for specs: point it at
    * a directory of parquet files; availableNow drains it and stops).
    *
    * A streaming file source needs a declared schema up front, but the
    * physical `ts` encoding is a property of the FILES, not the contract:
    * TIMESTAMP(NANOS) parquet surfaces as a nanos long (nanosAsLong conf),
    * TIMESTAMP(MICROS) as a (possibly NTZ) timestamp. Probe the footer
    * schema once (driver-side, metadata only — no data read) and declare
    * the stream to match, normalizing to a session-TZ timestamp exactly
    * like the batch loader (`Tables.events`) so every downstream transform
    * sees one contract regardless of which writer produced the files.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // Empty/not-yet-created directory (ADVICE r9): the batch footer probe
    // throws before the first file arrives, but a stream must be
    // constructible ahead of its data. Fall back to the declared nanos-long
    // schema — the testdata writer's encoding, and the conversion below
    // normalizes either encoding to the same contract once files do arrive.
    val observed =
      try spark.read.parquet(dir).schema
      catch {
        case scala.util.control.NonFatal(_) =>
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
      }
    val stream = spark.readStream.schema(observed).parquet(dir)
    observed("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        stream.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  case class EventIn(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionOut(user_id: Long, n_events: Long, start: Timestamp, end: Timestamp)
  /** Open-session state carried across micro-batches (public: the state
    * encoder's generated code must see the constructor).
    */
  case class SessionState(n: Long, start: Long, last: Long)

  /** Stateful sessionization (gap > 30 min closes a session) via
    * `flatMapGroupsWithState` with a processing-time timeout.
    *
    * Only CLOSED sessions are emitted; the open session survives in
    * `GroupState` across micro-batches (so a session spanning two batches
    * is one session, not two) and is flushed when the user goes idle past
    * the gap (timeout fires) — the behavior a production job needs.
    * Bounded replays (availableNow) therefore end with each user's last
    * session still open in state; specs compare against the batch
    * sessionizer minus those trailing sessions.
    */
  def sessionize(spark: SparkSession, events: Dataset[EventIn]): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout()) {
        (userId: Long, rows: Iterator[EventIn], state: GroupState[SessionState]) =>
          def close(st: SessionState) =
            SessionOut(userId, st.n, new Timestamp(st.start * 1000), new Timestamp(st.last * 1000))
          if (state.hasTimedOut) {
            // user idle past the gap: flush the open session
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            // Sort within the per-batch group; a production job would rely
            // on watermarked event-time ordering instead.
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var st = state.getOption.getOrElse(SessionState(0, 0, Long.MinValue))
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              if (st.n == 0) st = SessionState(1, t, t)
              else if (t - st.last > 1800) {
                out += close(st)
                st = SessionState(1, t, t)
              } else st = SessionState(st.n + 1, st.start, t)
            }
            if (st.n > 0) {
              state.update(st) // keep the open session across batches
              state.setTimeoutDuration("30 minutes")
            }
            out.iterator
          }
      }
  }

  /** Closed-session set — the deterministic output contract of the stateful
    * sessionizer above. A bounded (availableNow) replay ends with each
    * user's final session still open in `GroupState`, so the emitted set is
    * exactly "every session but each user's last": a pure function of the
    * data, independent of micro-batch boundaries. This batch expression of
    * that contract is what the real-stream spec compares against and what
    * the oracle verifies — the stream_hourly treatment applied to stateful
    * session state.
    */
  def streamSessions(spark: SparkSession, d: String): DataFrame = {
    // "all but each user's last session" as ONE window over the session
    // table (exactly the oracle's formulation): the max-session-id window
    // reuses the sessionizer's existing user_id partitioning, so this adds
    // ZERO exchanges, where a groupBy + anti-join pair re-shuffled the
    // session table twice for the same answer
    val all = graft.operators.Analytics.sessionsUnordered(spark, d)
    val w = Window.partitionBy("user_id")
    all.withColumn("last_sid", max(col("session_id")).over(w))
      .filter(col("session_id") < col("last_sid"))
      .select("user_id", "session_id", "n_events", "start_s", "end_s")
      .orderBy("user_id", "session_id")
  }

  val streamSessionsSql: String =
    """WITH flagged AS (
      | SELECT user_id, event_id, ts,
      |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |       WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
      |       ELSE 0 END AS new_sess
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      | SELECT user_id, ts,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM flagged
      |), agg AS (
      | SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s
      | FROM sess GROUP BY user_id, session_id
      |)
      |SELECT user_id, session_id, n_events, start_s, end_s
      |FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_sid FROM agg)
      |WHERE session_id < last_sid
      |ORDER BY user_id, session_id""".stripMargin

  case class DebounceIn(event_id: Long, user_id: Long, event_type: String,
    ts: Timestamp, vc: Long)
  case class DebounceOut(event_id: Long, user_id: Long, event_type: String)
  /** Per-key last-occurrence time, carried across micro-batches (public:
    * the state encoder's generated code must see the constructor). */
  case class DebounceState(lastMicros: Long)

  /** Stateful debounce — the streaming twin of `Analytics.qEventDedup`
    * (same semantics: drop an event whose previous same-(user, type, cents)
    * occurrence — kept or dropped — lies within 5 minutes; the last-seen
    * time advances on EVERY occurrence). Unlike the sessionizer, every
    * decision emits immediately and no state waits on a timeout, so a
    * bounded replay's output equals the batch operator EXACTLY for
    * event-time-ordered arrival (what a watermarked production input
    * guarantees and what the replay spec's corpus satisfies) — the spec
    * asserts two-sided parity with no trailing-state carve-out. Under
    * cross-batch LATE arrival the already-emitted past can't be revised
    * (no streaming dedup can), so state is kept MONOTONE — a late event is
    * judged against the newest occurrence seen and never rewinds the
    * clock for its successors. State per key is one long; at scale the
    * watermark-driven eviction a production job would add (state TTL)
    * bounds the key universe.
    */
  def debounce(spark: SparkSession, events: Dataset[DebounceIn]): Dataset[DebounceOut] = {
    import spark.implicits._
    val gapMicros = graft.operators.Analytics.DebounceMicros // = the batch twin's window
    events.groupByKey(e => (e.user_id, e.event_type, e.vc))
      .flatMapGroupsWithState[DebounceState, DebounceOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[DebounceState]) =>
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
          // Sort within the per-batch group — this MATERIALIZES the group
          // (rows.toSeq), so one key's per-batch volume must fit executor
          // memory: bounded here because a (user, type, cents) key sees a
          // handful of retries per micro-batch, not a corpus (same
          // bounded-group convention as sessionize). A production job
          // would rely on watermarked event-time ordering instead, and add
          // the watermark-driven state TTL noted above before the key
          // universe grows unboundedly.
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[DebounceOut]()
          var last = state.getOption.map(_.lastMicros)
          sorted.foreach { e =>
            val t = micros(e.ts)
            if (last.forall(l => t - l > gapMicros))
              out += DebounceOut(e.event_id, e.user_id, e.event_type)
            // advances on kept AND dropped occurrences; max() keeps the
            // state monotone under late cross-batch arrival
            last = Some(last.fold(t)(math.max(_, t)))
          }
          last.foreach(l => state.update(DebounceState(l)))
          out.iterator
      }
  }

  /** The deterministic output contract of the stateful debounce above —
    * the `stream_sessions` treatment applied to it: every
    * decision emits immediately and no state waits on a timeout, so for
    * EVENT-TIME-ORDERED arrival (what a watermarked production input
    * guarantees, and what the replay corpus satisfies) a bounded
    * (availableNow) replay's emitted set equals the batch window dedup
    * EXACTLY, independent of where micro-batch boundaries fall within
    * that order. Under cross-batch LATE arrival the already-emitted past
    * can't be revised, so the stream diverges from this batch expression
    * by exactly the monotone-state rule documented on `debounce` (the
    * spec's late-arrival case pins that divergence). This batch
    * expression is what the oracle verifies; StreamingSpec runs the real
    * `flatMapGroupsWithState` stream against the same relation (exact
    * two-sided parity, no carve-out). Output columns = `DebounceOut`.
    */
  def streamDebounce(spark: SparkSession, d: String): DataFrame =
    graft.operators.Analytics.qEventDedup(spark, d)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")

  val streamDebounceSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, event_type,
       |  epoch_us(ts) AS t, CAST(round(value*100) AS BIGINT) AS vc FROM events),
       |lg AS (SELECT *, lag(t) OVER (
       |  PARTITION BY user_id, event_type, vc ORDER BY t, event_id) AS pt FROM ev)
       |SELECT event_id, user_id, event_type
       |FROM lg WHERE pt IS NULL OR t - pt > ${graft.operators.Analytics.DebounceMicros}
       |ORDER BY event_id""".stripMargin

  /** Streaming dedup: at most one event per (user, minute) — the throttle/
    * exactly-once-ish pattern every ingest pipeline needs. ONE transform for
    * batch and stream: batch mode it is a distinct(); stream mode
    * `dropDuplicates` keeps per-key state, expired by the upstream
    * watermark. Output is the surviving key set (deterministic — no
    * arbitrary-winner columns).
    */
  def minuteDedup(events: DataFrame): DataFrame =
    events
      .withColumn("minute", date_trunc("minute", col("ts")))
      .dropDuplicates("user_id", "minute")
      .select(col("user_id"), date_format(col("minute"), "yyyy-MM-dd HH:mm").as("minute_s"))

  // --- stream_dedup (batch-parity verification entry) ---------------------
  def streamDedup(spark: SparkSession, d: String): DataFrame =
    minuteDedup(Tables.events(spark, d)).orderBy("user_id", "minute_s")

  val streamDedupSql: String =
    """SELECT DISTINCT user_id, strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute_s
      |FROM events ORDER BY user_id, minute_s""".stripMargin

  /** Latest-record-per-key state — the streaming MATERIALIZED VIEW every
    * CDC consumer keeps (current device state, last reading per sensor):
    * one transform for batch and stream. The struct max is an associative,
    * commutative aggregate, so complete-mode streaming updates converge to
    * exactly the batch answer regardless of micro-batch boundaries — the
    * same mergeability argument as the sketches. (ts, event_id) totally
    * orders records, so the carried value field never decides a winner.
    */
  def latestState(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), struct(col("ts"), col("event_id"), col("value")).as("r"))
      .groupBy("user_id").agg(max(col("r")).as("r"))
      .select(col("user_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("r.event_id").as("event_id"),
        col("r.value").as("value"))

  // --- stream_cusum -----------------------------------------------------------
  // Streaming two-sided CUSUM alerter — ds_cusum's MONITORING twin. The
  // batch op derives target/slack/band from the corpus (a retrospective
  // audit); a live detector runs with FIXED parameters set from a training
  // period (Page's procedure as actually deployed), which is exactly what
  // makes it streamable: the recurrence S = max(0, S + drift) is a pure
  // per-key fold, so GroupState carries (sh, sl) across micro-batches with
  // NO approximation — a bounded replay equals the batch closed form
  // EXACTLY for event-time-ordered arrival, the debounce contract, and the
  // cross-batch split spec proves the carried state is the same fold.
  private[graft] val CusumT = 5000L // target (cents): the fleet-wide level
  private[graft] val CusumK = 2000L // slack: drifts under k/point don't accumulate
  private[graft] val CusumH = 20000L // decision band

  /** The deterministic batch expression the oracle verifies — ds_cusum's
    * prefix-sum/prefix-min closed form ([[RangeBuckets.cusum]],
    * decomposed over (event_type, time-bucket) groups) with the FIXED
    * monitoring parameters, keyed by event_type. Alert rows: every point
    * whose accumulated one-sided drift clears the band. */
  def streamCusum(spark: SparkSession, d: String): DataFrame = {
    val k0 = Tables.events(spark, d)
      .select(col("event_type"), col("event_id"), col("ts"),
        graft.functions.FastRound.cents(col("value")).as("vc"))
      .withColumn("tu", unix_micros(col("ts")))
    val rows = RangeBuckets.assign(k0, "event_type", "tu")
      .withColumn("dh", col("vc") - CusumT - CusumK)
      .withColumn("dl", lit(CusumT - CusumK) - col("vc"))
    RangeBuckets.cusum(RangeBuckets.partitioned(rows, "event_type"), "event_type",
        Seq("ts", "event_id"), Seq("event_id"), atScale = true)
      .select(col("event_type"), col("event_id"),
        explode(array(
          struct(lit("high").as("side"), col("sh").as("s")),
          struct(lit("low").as("side"), col("sl").as("s")))).as("x"))
      .select(col("event_type"), col("event_id"),
        col("x.side").as("side"), col("x.s").as("s"))
      .filter(col("s") > CusumH)
      .orderBy("event_type", "event_id", "side")
  }

  val streamCusumSql: String =
    s"""WITH v AS (SELECT event_type, event_id, ts,
       |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
       |p AS (SELECT event_type, event_id, ts,
       |  sum(vc - ${CusumT + CusumK}) OVER w AS ph,
       |  sum(${CusumT - CusumK} - vc) OVER w AS pl
       | FROM v WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |s AS (SELECT event_type, event_id,
       |  ph - least(min(ph) OVER w2, 0) AS sh,
       |  pl - least(min(pl) OVER w2, 0) AS sl
       | FROM p WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |u AS (SELECT event_type, event_id, 'high' AS side, CAST(sh AS BIGINT) AS s FROM s
       |      UNION ALL
       |      SELECT event_type, event_id, 'low', CAST(sl AS BIGINT) FROM s)
       |SELECT event_type, event_id, side, s FROM u WHERE s > $CusumH
       |ORDER BY event_type, event_id, side""".stripMargin

  case class CusumIn(event_type: String, event_id: Long, ts: Timestamp, vc: Long)
  case class CusumState(sh: Long, sl: Long)
  case class CusumAlert(event_type: String, event_id: Long, side: String, s: Long)

  /** The stateful form: per-key (sh, sl) folded across micro-batches via
    * `flatMapGroupsWithState`. Emits immediately on every band crossing
    * (both sides can fire on one point, matching the batch explode);
    * state is two longs per event_type — constant, no TTL needed for a
    * bounded key universe (event types, not users). The per-batch group
    * sort materializes the group (bounded-group convention: a production
    * job relies on watermarked event-time ordering instead). */
  def cusumStateful(spark: SparkSession, events: Dataset[CusumIn]): Dataset[CusumAlert] = {
    import spark.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[CusumIn], state: GroupState[CusumState]) =>
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[CusumAlert]()
          sorted.foreach { e =>
            val sh = math.max(0L, st.sh + e.vc - CusumT - CusumK)
            val sl = math.max(0L, st.sl + CusumT - CusumK - e.vc)
            if (sh > CusumH) out += CusumAlert(et, e.event_id, "high", sh)
            if (sl > CusumH) out += CusumAlert(et, e.event_id, "low", sl)
            st = CusumState(sh, sl)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-(event_type, hour) OHLC candle — ONE transform for batch and
    * stream (the "live candles" job every market-data/metering pipeline
    * runs; q_ohlc is its batch-only sibling): open/close are struct
    * min/max over the (ts, event_id) total order with the cents value
    * CARRIED (event_id unique → the comparison never reaches it), high/low
    * plain min/max on exact cents, all associative + commutative — so
    * complete-mode streaming converges to exactly the batch answer
    * regardless of micro-batch boundaries (latestState's mergeability
    * argument), and an append-mode run behind a watermark emits each
    * candle once, finalized. `window()` groups on both batch and
    * streaming inputs; the aggregate is fully map-side-combinable.
    */
  def ohlcCandles(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), window(col("ts"), "1 hour").as("w"),
        struct(col("ts"), col("event_id"),
          graft.functions.FastRound.cents(col("value")).as("vc")).as("r"),
        graft.functions.FastRound.cents(col("value")).as("vc"))
      .groupBy("event_type", "w")
      .agg(min(col("r")).as("o"), max(col("r")).as("c"),
        (max(col("vc")) / 100.0).as("high"), (min(col("vc")) / 100.0).as("low"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour_s"),
        (col("o.vc") / 100.0).as("open"), col("high"), col("low"),
        (col("c.vc") / 100.0).as("close"), col("n"))

  // --- stream_ohlc (batch-parity verification entry) ------------------------
  def streamOhlc(spark: SparkSession, d: String): DataFrame =
    ohlcCandles(Tables.events(spark, d)).orderBy("event_type", "hour_s")

  // oracle mirrors qOhlcSql's row_number formulation (the window() group
  // key lands on the same hour as date_trunc for aligned 1h windows)
  val streamOhlcSql: String =
    """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id,
      |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |r AS (SELECT event_type, hour, vc,
      |  row_number() OVER (PARTITION BY event_type, hour ORDER BY ts, event_id) AS rf,
      |  row_number() OVER (PARTITION BY event_type, hour ORDER BY ts DESC, event_id DESC) AS rl
      | FROM b),
      |agg AS (SELECT event_type, hour, max(vc)/100.0 AS high, min(vc)/100.0 AS low,
      |  count(*) AS n FROM b GROUP BY 1, 2),
      |oc AS (SELECT event_type, hour,
      |  min(CASE WHEN rf = 1 THEN vc END)/100.0 AS open,
      |  min(CASE WHEN rl = 1 THEN vc END)/100.0 AS close
      | FROM r GROUP BY 1, 2)
      |SELECT agg.event_type, strftime(agg.hour, '%Y-%m-%d %H:%M') AS hour_s,
      | open, high, low, close, n
      |FROM agg JOIN oc ON agg.event_type = oc.event_type AND agg.hour = oc.hour
      |ORDER BY 1, 2""".stripMargin

  // --- stream_latest (batch-parity verification entry) ---------------------
  def streamLatest(spark: SparkSession, d: String): DataFrame =
    latestState(Tables.events(spark, d)).orderBy("user_id")

  val streamLatestSql: String =
    """WITH r AS (SELECT user_id, ts, event_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events)
      |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_id, value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Dedup for at-least-once ingest where RETRIES arrive with slightly
    * different event times — same business key, perturbed ts, so a plain
    * key+time dropDuplicates keeps both copies. `dropDuplicatesWithinWatermark`
    * dedupes on the key ALONE and holds per-key state only until the
    * watermark passes the first-seen event time + delay: bounded state on
    * unbounded streams, the API built for exactly this. Emits the first
    * arrival of each key (retries within the 10-minute horizon are dropped).
    */
  def retryDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))

  /** Deterministic output contract of the retry dedup above — the 7th
    * streaming oracle promotion: `dropDuplicatesWithinWatermark` emits
    * each key's FIRST arrival, and for event-time-ordered arrival (the
    * watermarked production guarantee) the first arrival is the record
    * with the minimum event time — a pure function of the data. The
    * struct-min makes the contract total even for a key with tied
    * timestamps across retries (min event_type wins the tie). The corpus
    * has unique event_ids, so the oracle run pins the identity path;
    * the replay spec stages real +30s retries through the actual stream
    * and checks the emitted set against this relation.
    */
  def streamRetryDedup(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_id"), struct(col("ts"), col("event_type")).as("r"))
      .groupBy("event_id").agg(min(col("r")).as("r"))
      .select(col("event_id"), col("r.event_type").as("event_type"))
      .orderBy("event_id")

  val streamRetryDedupSql: String =
    """WITH r AS (SELECT event_id, event_type,
      |  row_number() OVER (PARTITION BY event_id ORDER BY ts, event_type) AS rn
      | FROM events)
      |SELECT event_id, event_type FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Stream-stream interval join: every event within 10 minutes after an
    * 'error' (the streaming twin of `Temporal.qRangeJoin`, same blocking).
    * Spark requires an equality predicate in stream-stream joins, and the
    * batch operator's bucket trick provides exactly that: anchors explode
    * to their 2 covering 10-min buckets, probes carry their 1 — the join
    * keys on bucket equality and post-filters the exact range. Both sides
    * are watermarked, and the event-time range condition bounds the join
    * state (rows older than watermark+window are evicted) — the only way
    * a stream-stream join survives unbounded input.
    */
  def errorWindowJoin(anchors: DataFrame, probes: DataFrame): DataFrame = {
    val a = anchors.filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "30 minutes")
      .withColumn("b", explode(array(
        expr("unix_micros(a_ts) div 600000000"),
        expr("unix_micros(a_ts) div 600000000") + 1)))
    val p = probes
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
      .withColumn("b", expr("unix_micros(p_ts) div 600000000"))
    a.join(p, a("b") === p("b") &&
        expr("p_ts >= a_ts AND p_ts < a_ts + INTERVAL 10 MINUTES"))
      .select(col("a_id"), col("p_id"))
  }

  // --- stream_interval_join (batch-parity verification entry) --------------
  /** The streaming oracle entry for the last spec-only streaming shape
    * with a deterministic batch twin: under
    * AvailableNow replay an append-mode stream-stream join emits exactly
    * the join predicate's matches once the watermark passes, so
    * [[errorWindowJoin]]'s pair set is a pure function of the data — the
    * same bounded-replay argument as stream_sessions/stream_debounce.
    * This entry runs the ACTUAL operator (watermarks are no-ops in batch
    * execution) so the oracle pins the bucket-equijoin + range-filter
    * lowering itself, while StreamingSpec stages the real two-sided
    * stream and checks set parity. Scale shape: anchors explode to their
    * 2 covering 10-min buckets, probes carry 1 — ONE equijoin shuffle on
    * bucket, never a time-range theta join; on a real stream the
    * event-time range bounds the join state (watermark eviction). */
  def streamIntervalJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    errorWindowJoin(ev, ev).orderBy("a_id", "p_id")
  }

  val streamIntervalJoinSql: String =
    """WITH a AS (SELECT event_id AS a_id, epoch_us(ts) AS t0
      |           FROM events WHERE event_type = 'error')
      |SELECT a_id, e.event_id AS p_id
      |FROM a JOIN events e
      |  ON epoch_us(e.ts) >= t0 AND epoch_us(e.ts) < t0 + 600000000
      |ORDER BY 1, 2""".stripMargin

  /** Complete-mode top-k leaderboard state: the top 10 users by event
    * count with a total (count desc, user_id) order — the live dashboard
    * tile every ops page keeps. The count aggregate is associative, so the
    * complete-mode stream converges to the batch answer at AvailableNow
    * regardless of micro-batch boundaries (spec runs the real stream);
    * batch Spark plans the same query as TakeOrderedAndProject, never a
    * global sort.
    */
  private val TopkUsers = 10

  def topkState(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("user_id")).limit(TopkUsers)

  // --- stream_topk (batch-parity verification entry) -----------------------
  def streamTopk(spark: SparkSession, d: String): DataFrame =
    topkState(Tables.events(spark, d))

  val streamTopkSql: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n
       |FROM events GROUP BY 1
       |ORDER BY n DESC, user_id LIMIT $TopkUsers""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_hourly" -> streamHourly,
    "stream_dedup" -> streamDedup,
    "stream_latest" -> streamLatest,
    "stream_sessions" -> streamSessions,
    "stream_debounce" -> streamDebounce,
    "stream_retry_dedup" -> streamRetryDedup,
    "stream_ohlc" -> streamOhlc,
    "stream_cusum" -> streamCusum,
    "stream_interval_join" -> streamIntervalJoin,
    "stream_topk" -> streamTopk)

  val oracle: Map[String, String] = Map(
    "stream_debounce" -> streamDebounceSql,
    "stream_retry_dedup" -> streamRetryDedupSql,
    "stream_ohlc" -> streamOhlcSql,
    "stream_cusum" -> streamCusumSql,
    "stream_hourly" -> streamHourlySql,
    "stream_dedup" -> streamDedupSql,
    "stream_latest" -> streamLatestSql,
    "stream_sessions" -> streamSessionsSql,
    "stream_interval_join" -> streamIntervalJoinSql,
    "stream_topk" -> streamTopkSql)
}
