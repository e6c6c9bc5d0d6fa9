package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.2b temporal joins — the two operators classic SQL engines bolt on for
  * time-series work and Spark has no built-in for: point-in-time (as-of)
  * join and interval (range) join.
  *
  * Both are built so the plan scales linearly in the data:
  *
  * - `q_asof_join` uses the union-then-window formulation: tag both sides,
  *   union, one window pass partitioned by the join key with
  *   `last(..., ignoreNulls)` carrying the most recent build-side row
  *   forward. ONE shuffle on the key, no range-condition join, no
  *   per-probe-row re-scan — the standard scalable as-of shape (what
  *   dedicated engines' ASOF JOIN lowers to). A naive
  *   `JOIN ON key = key AND t2 <= t1` + keep-latest explodes to
  *   O(probe × matching-build) intermediate rows; this stays O(n log n).
  *
  * - `q_range_join` blocks time into buckets exactly as wide as the query
  *   window: each anchor covers ≤ 2 buckets, each probe row lands in
  *   exactly 1, so the equijoin on bucket produces each true pair once
  *   (no dedup pass) with ≤ 2× fan-out on the anchor side only. The join
  *   is a plain shuffle-hash/sort-merge on the bucket key — no
  *   BroadcastNestedLoopJoin, no CartesianProduct — and skewed buckets
  *   are split by AQE. This is the interval-join pattern streaming engines
  *   use for bounded-time correlation.
  *
  * Both compare time as integer epoch-micros (`unix_micros` here,
  * `epoch_us` in the oracle): events.parquet carries TIMESTAMP(NANOS) and
  * both engines truncate nanos→micros identically, so the comparisons are
  * bit-for-bit the same.
  */
object Temporal {

  /** Interval width for q_range_join = the blocking bucket width (10 min). */
  private val WindowUs = 600000000L

  /** events projected to integer epoch-micros. */
  private def ev(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      .withColumn("t", unix_micros(col("ts")))

  // --- q_asof_join --------------------------------------------------------
  // For every 'purchase': the most recent 'view' by the same user at or
  // before the purchase time (classic last-touch attribution). Ties on
  // time break toward the larger view event_id; purchases with no prior
  // view keep NULLs (left as-of).
  /** The union+window carry shared by both as-of variants: every purchase
    * row annotated with the most recent prior view (or NULLs). */
  private def asofCarried(spark: SparkSession, d: String): DataFrame = {
    val e = ev(spark, d)
    // side 0 = build (views), side 1 = probe (purchases): on equal t the
    // build row sorts first, so "at or before" includes exact ties.
    val views = e.filter(col("event_type") === "view").select(
      col("user_id"), col("t"), lit(0).as("side"), col("event_id").as("ord"),
      col("event_id").as("v_id"), col("value").as("v_value"),
      lit(null).cast("long").as("p_id"), lit(null).cast("timestamp").as("p_ts"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("t"), lit(1).as("side"), col("event_id").as("ord"),
      lit(null).cast("long").as("v_id"), lit(null).cast("double").as("v_value"),
      col("event_id").as("p_id"), col("ts").as("p_ts"))
    val w = Window.partitionBy("user_id").orderBy("t", "side", "ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("view_id", last(col("v_id"), ignoreNulls = true).over(w))
      .withColumn("view_value", last(col("v_value"), ignoreNulls = true).over(w))
      .withColumn("vt", last(when(col("v_id").isNotNull, col("t")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
  }

  def qAsofJoin(spark: SparkSession, d: String): DataFrame =
    asofCarried(spark, d)
      .select(col("p_id").as("event_id"), col("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("view_id"), col("view_value"),
        (col("t") - col("vt")).as("lag_us"))
      .orderBy("event_id")

  val qAsofJoinSql: String =
    """WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS t FROM events WHERE event_type='purchase'),
      |v AS (SELECT event_id AS v_id, user_id, value AS v_value, epoch_us(ts) AS vt FROM events WHERE event_type='view'),
      |j AS (SELECT p.event_id, v.v_id, v.v_value, v.vt,
      |        row_number() OVER (PARTITION BY p.event_id ORDER BY v.vt DESC, v.v_id DESC) AS rn
      |      FROM p JOIN v ON v.user_id = p.user_id AND v.vt <= p.t)
      |SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |       j.v_id AS view_id, j.v_value AS view_value, p.t - j.vt AS lag_us
      |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)
      |ORDER BY p.event_id""".stripMargin

  // --- q_asof_tolerance ---------------------------------------------------
  // Bounded-staleness as-of: the matched view must be within MAX_STALENESS
  // (1 hour) of the purchase — the form real feature-store lookups take
  // ("the latest reading, unless it has gone stale"). Key property: the
  // MOST RECENT prior view being out of tolerance implies every prior view
  // is, so the bound is a pure post-filter on the carried columns and the
  // plan keeps qAsofJoin's single key shuffle (no second window, no range
  // join).
  private val AsofTolUs = 3600000000L // 1 hour

  def qAsofTolerance(spark: SparkSession, d: String): DataFrame = {
    val fresh = (col("t") - col("vt")) <= AsofTolUs
    asofCarried(spark, d)
      .select(col("p_id").as("event_id"), col("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        when(fresh, col("view_id")).as("view_id"),
        when(fresh, col("view_value")).as("view_value"),
        when(fresh, col("t") - col("vt")).as("lag_us"))
      .orderBy("event_id")
  }

  val qAsofToleranceSql: String =
    s"""WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS t FROM events WHERE event_type='purchase'),
       |v AS (SELECT event_id AS v_id, user_id, value AS v_value, epoch_us(ts) AS vt FROM events WHERE event_type='view'),
       |j AS (SELECT p.event_id, v.v_id, v.v_value, v.vt,
       |        row_number() OVER (PARTITION BY p.event_id ORDER BY v.vt DESC, v.v_id DESC) AS rn
       |      FROM p JOIN v ON v.user_id = p.user_id AND v.vt <= p.t AND p.t - v.vt <= $AsofTolUs)
       |SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       |       j.v_id AS view_id, j.v_value AS view_value, p.t - j.vt AS lag_us
       |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)
       |ORDER BY p.event_id""".stripMargin

  // --- q_range_join -------------------------------------------------------
  // For every 'error' event: activity stats over ALL events (any user) in
  // the 10 minutes starting at the error — a pure interval join, no
  // equality key. Value sums go through integer cents (exactness contract).
  //
  // PLAN (no candidate-pair stream): every aggregate this query asks for is
  // interval-DECOMPOSABLE into prefix ranks, so the blocked bucket join
  // that emitted ~94M candidate pairs at sf1 (→ 48M true pairs shuffled
  // through countDistinct's two-phase agg) never needs to exist:
  //
  //   n(a)     = cntT(t0+W) − cntT(t0)        cntT(x) = #{events: t < x}
  //   sum(a)   = sumT(t0+W) − sumT(t0)        sumT(x) = Σ{vc: t < x}
  //   users(a) = cntLO(t0)  − cntT(t0)        cntLO(x) = #{events: lo < x}
  //
  // where lo = max(t − W, prev_t) and prev_t is the SAME USER's previous
  // event time ((t, event_id) order): an event is its user's FIRST event
  // inside [t0, t0+W) iff t0 ∈ (lo, t] — so distinct users over any
  // window is an exact difference of two prefix counts (each user's first
  // in-window event is counted once, every later one has prev_t ≥ t0).
  // Prefix ranks at the 2 query points per anchor are computed with the
  // doc_shuffle range-bucket trick: union value rows and query points,
  // ONE shuffle on (stream, bucket) + in-bucket running sums (queries
  // sort before equal-valued events → strict '<'), plus a bucket-census
  // offset table (time-range/W rows — metadata-sized) joined back. Total
  // shuffled ≈ 2·|events| + 3·|anchors| narrow rows, linear at any scale,
  // vs the pair set (≈ anchors × window-density) the join plan paid.
  def qRangeJoin(spark: SparkSession, d: String): DataFrame = {
    val e = ev(spark, d)
    val uw = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    // stream 0 values: event times (count + cents-sum weights)
    // stream 1 values: first-in-window lower bounds lo (count weight only)
    val tVals = e.select(lit(0).as("strm"), col("t").as("x"), lit(0).as("isq"),
      lit(1L).as("c"), graft.functions.FastRound.cents(col("value")).as("s"),
      lit(null).cast("long").as("a_id"), lit(null).cast("string").as("pt"))
    // NULL user_ids contribute NOTHING to count(DISTINCT user_id) in the
    // oracle, but lag over partitionBy(user_id) would group all NULLs into
    // one phantom user and count it once — so they are excluded from the
    // distinct-user stream entirely (the corpus has no NULL user_ids
    // today, but the decomposition must stay equivalent if one ever
    // appears)
    val loVals = e
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("t"), col("event_id"))
      .withColumn("lo", greatest(col("t") - WindowUs,
        coalesce(lag(col("t"), 1).over(uw), lit(Long.MinValue))))
      .select(lit(1).as("strm"), col("lo").as("x"), lit(0).as("isq"),
        lit(1L).as("c"), lit(null).cast("long").as("s"),
        lit(null).cast("long").as("a_id"), lit(null).cast("string").as("pt"))
    val anchors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("t").as("t0"))
    def q(strm: Int, x: org.apache.spark.sql.Column, pt: String) =
      anchors.select(lit(strm).as("strm"), x.as("x"), lit(1).as("isq"),
        lit(0L).as("c"), lit(null).cast("long").as("s"),
        col("a_id"), lit(pt).as("pt"))
    val rows = tVals.union(loVals)
      .union(q(0, col("t0"), "s"))
      .union(q(0, col("t0") + WindowUs, "e"))
      .union(q(1, col("t0"), "s"))
      .withColumn("b", expr(s"x div $WindowUs"))
    // in-bucket exclusive ranks: queries (isq=1) sort BEFORE equal-valued
    // events so running sums implement the strict '<' prefix
    val bw = Window.partitionBy("strm", "b")
      .orderBy(col("x"), col("isq").desc, col("a_id"), col("pt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = rows
      .withColumn("rc", sum(col("c")).over(bw))
      .withColumn("rs", coalesce(sum(col("s")).over(bw), lit(0L)))
    // bucket census (every bucket either side touches appears: queries
    // carry zero weight) → exclusive per-bucket offsets; range/W rows, so
    // the window partitioned only by stream is metadata-sized by
    // construction and the offsets side stays broadcast-able at any SF
    val ow = Window.partitionBy("strm").orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = rows.groupBy("strm", "b")
      .agg(sum(col("c")).as("bc"), sum(col("s")).as("bs"))
      .select(col("strm"), col("b"),
        coalesce(sum(col("bc")).over(ow), lit(0L)).as("oc"),
        coalesce(sum(col("bs")).over(ow), lit(0L)).as("os"))
    val ranks = ranked.filter(col("isq") === 1)
      .join(offsets, Seq("strm", "b"))
      .select(col("a_id"), col("strm"), col("pt"),
        (col("rc") + col("oc")).as("gc"), (col("rs") + col("os")).as("gs"))
    def at(strm: Int, pt: String, c: org.apache.spark.sql.Column) =
      max(when(col("strm") === strm && col("pt") === pt, c))
    ranks.groupBy(col("a_id").as("event_id"))
      .agg((at(0, "e", col("gc")) - at(0, "s", col("gc"))).as("n"),
        (at(1, "s", col("gc")) - at(0, "s", col("gc"))).as("users"),
        ((at(0, "e", col("gs")) - at(0, "s", col("gs"))) / 100.0).as("sum_value"))
      .orderBy("event_id")
  }

  val qRangeJoinSql: String =
    s"""WITH a AS (SELECT event_id, epoch_us(ts) AS t0 FROM events WHERE event_type='error'),
       |j AS (SELECT a.event_id, e.user_id, CAST(round(e.value*100) AS BIGINT) AS vc
       |      FROM a JOIN events e ON epoch_us(e.ts) >= a.t0 AND epoch_us(e.ts) < a.t0 + $WindowUs)
       |SELECT event_id, count(*) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       |       CAST(sum(vc) AS BIGINT)/100.0 AS sum_value
       |FROM j GROUP BY event_id ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_asof_join" -> qAsofJoin,
    "q_asof_tolerance" -> qAsofTolerance,
    "q_range_join" -> qRangeJoin)

  val oracle: Map[String, String] = Map(
    "q_asof_join" -> qAsofJoinSql,
    "q_asof_tolerance" -> qAsofToleranceSql,
    "q_range_join" -> qRangeJoinSql)
}
