package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.2 analytics core.
  *
  * Exactness strategy (shared with every oracle in this repo): monetary
  * doubles are converted to integer cents (`round(x*100)` as BIGINT) before
  * any aggregation. Integer sums are associative, so the result is
  * independent of partition count and execution order — the same number
  * falls out of a 32-thread local run, a 1000-executor cluster, and the
  * DuckDB oracle. Only a final single division converts back to dollars;
  * one IEEE division of identical exact operands is deterministic.
  * Plain double sums would differ run-to-run at scale (float addition is
  * not associative), which would make hash-verification impossible.
  */
object Analytics {

  /** Dollars-as-double column → exact integer cents. */
  // r18: the cast-form quantizer — Round's per-row BigDecimal cost the
  // four-column money scan 2.8 s vs 0.26 s at sf10 (contract
  // and exactness argument in graft.functions.FastRound).
  private def cents(c: Column): Column = graft.functions.FastRound.cents(c)

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // --- q1_pricing_summary -------------------------------------------------
  // TPC-H Q1 shape: scan-heavy grouped aggregate; map-side partial agg does
  // nearly all the work, the shuffle carries |groups| ≈ 6 rows.
  def q1PricingSummary(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate")
      .filter(col("l_shipdate") <= ts("1998-09-01 00:00:00"))
    val qc = cents(col("l_quantity"))
    val epc = cents(col("l_extendedprice"))
    val dc = cents(col("l_discount"))
    val tc = cents(col("l_tax"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(qc) / 100.0).as("sum_qty"),
        (sum(epc) / 100.0).as("sum_base_price"),
        (sum(epc * (lit(100L) - dc)) / 10000.0).as("sum_disc_price"),
        (sum(epc * (lit(100L) - dc) * (lit(100L) + tc)) / 1000000.0).as("sum_charge"),
        ((sum(qc) / 100.0) / count(lit(1))).as("avg_qty"),
        ((sum(epc) / 100.0) / count(lit(1))).as("avg_price"),
        ((sum(dc) / 100.0) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_base_price,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS sum_disc_price,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))*(100+CAST(round(l_tax*100) AS BIGINT))) AS BIGINT)/1000000.0 AS sum_charge,
      | (CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)/100.0)/count(*) AS avg_qty,
      | (CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0)/count(*) AS avg_price,
      | (CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)/100.0)/count(*) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- q3_topk_revenue ----------------------------------------------------
  // 3-way join + group + top-k. customer grows with the scale factor, so
  // it is NOT hard-broadcast — size-based planning (and AQE at runtime)
  // broadcasts it while it fits and shuffle-joins it when it doesn't; a
  // forced broadcast would hit Spark's 8 GB relation limit at large SF.
  // Top-k is a total sort of |groups| rows only.
  def q3TopkRevenue(spark: SparkSession, d: String): DataFrame = {
    // r18 (the q5 materialized-side shape): BUILDING customers gate the
    // date-filtered orders into a materialized qualified side whose true
    // size drives static broadcast-hash — the lazy form shuffled 499 MB
    // of orders on custkey (49 of 70 core-seconds at sf10)
    // because the o⋈c estimate trap picked SMJ. Lineitem revenue also
    // pre-aggregates per orderkey BEFORE the join (the group keys are
    // functionally dependent on orderkey), so the post-filter fact
    // exchange carries (orderkey, revc) partials, never joined rows.
    // Only the BUILDING custkey SET is materialized (300K keys, ~3 MB at
    // sf10) — caching or broadcasting the full 2.6M-row qualified-orders
    // relation was measured and rejected (driver builds a 2.6M-entry
    // HashedRelation single-threaded, exec 2.4→3.2 s). With accurate
    // custkey stats the static planner broadcast-hashes it INTO the
    // orders scan, so orders never exchanges; the qualified output then
    // shuffle-hash joins the revenue partials co-partitioned on orderkey.
    val cB = Memo.atScale(spark, d, "q3_building_custkeys") {
      Tables.customer(spark, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    }
    val qual = Tables.orders(spark, d)
      .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(cB, col("o_custkey") === cB("c_custkey"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
        col("o_orderpriority"))
    val lr = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev"))
      .groupBy(col("l_orderkey")).agg(sum(col("rev")).as("revc"))
    lr.join(qual.hint("shuffle_hash"), col("l_orderkey") === qual("o_orderkey"))
      .select(col("l_orderkey"), col("o_orderdate_s"), col("o_orderpriority"),
        (col("revc") / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s, o_orderpriority,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // --- q5_region_join -----------------------------------------------------
  // 5-way star join. region/nation are FIXED-cardinality (5/25 rows at any
  // scale) → hard broadcast; the rest of the star is REDUCED first:
  // EUROPE customers gate the date-filtered orders, producing a qualified
  // (o_orderkey, c_nationkey) side that is ~6 % of orders — materialized
  // via `Memo.atScale` so the static planner sees its true size and joins
  // lineitem broadcast-hash, with zero fact-side exchange (r18; the r16
  // shuffle_hash pin solved the ESTIMATE trap — a lazy 2-column orders
  // projection slips under AQE's broadcast estimate as SF grows — but
  // left lineitem paying a 1 GB shuffle write+read = 97 of the plan's
  // 108 core-seconds at sf10). With accurate stats the same
  // plan degrades to the shuffle join by itself past the 64 MB
  // threshold, which is the 100 TB-correct fallback. Aggregation is by
  // integer nationkey; the 25-row name map joins post-agg.
  def q5RegionJoin(spark: SparkSession, d: String): DataFrame = {
    val r = Tables.region(spark, d).filter(col("r_name") === "EUROPE").select("r_regionkey")
    val n = Tables.nation(spark, d).select("n_nationkey", "n_name", "n_regionkey")
    val nEur = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select("n_nationkey")
    val qual = Memo.atScale(spark, d, "q5_qual_orders") {
      val cEur = Tables.customer(spark, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nEur), col("c_nationkey") === nEur("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      // shuffle_hash pin (the r16 estimate-trap class, seen AGAIN here):
      // the date-filtered 3-column orders projection slips under the
      // static 64 MB estimate and Catalyst picks BuildLEFT — a 4.6M-row
      // HashedRelation built single-threaded on the driver (~1.4 s of the
      // build at sf10, and corpus-proportional driver state at 100 TB).
      // Pinned shuffle-hash, both sides exchange slim integer payloads in
      // parallel (orders ~55 MB, customers ~12 MB at sf10).
      Tables.orders(spark, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .select("o_orderkey", "o_custkey")
        .hint("shuffle_hash")
        .join(cEur, col("o_custkey") === cEur("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    }
    val s = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
    val l = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    l.join(qual, l("l_orderkey") === qual("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
        col("c_nationkey") === s("s_nationkey"))
      .groupBy(col("s_nationkey"))
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revc"))
      .join(broadcast(Tables.nation(spark, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), (col("revc") / 10000.0).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // --- q_topk_per_group ---------------------------------------------------
  def qTopkPerGroup(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, d)
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("o_orderpriority", "rk")
  }

  val qTopkPerGroupSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      | SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      | FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, rk""".stripMargin

  // --- q_window_running ---------------------------------------------------
  // Running sums in exact cents: the frame is explicit ROWS (not the RANGE
  // default) and the order key (ts, event_id) is unique, so the prefix sums
  // are reproducible anywhere. Partitioned by user_id — an UNBOUNDED key
  // domain, so parallelism scales with users and the plain window is the
  // right default plan on a well-distributed corpus. The r15 skew probe
  // measured the degenerate case (one user = 30% of events): 1.75x at
  // sf1-skew because AQE skew handling covers joins, not WindowExec; the
  // census-decomposed hybrid below ([[qWindowRunningSkewSafe]]) fixes it,
  // value-identical (spec-pinned), at ~1.5x on well-distributed data.
  // The choice is AUTO-DETECTED at scale: ONE column-pruned count-per-key
  // aggregate with a limit-1 probe decides (the same heavy-key fact the
  // hybrid's own detection pass computes), so an unskewed corpus pays only
  // the detection count and a degenerate one never serializes a hot key
  // into a single window task. Below the leaf-byte gate no probe runs.
  def qWindowRunning(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    if (heavyKeyAtScale(ev, hasHeavyKeyMemo(spark, d))) qWindowRunningSkewSafe(ev)
    else qWindowRunningFrom(ev)
  }

  /** Auto-dispatching entry: heavy key present → the skew-safe
    * decomposition; otherwise the plain window. Exposed DataFrame-in so
    * the dispatch itself is spec-pinned (un-memoized — the named entries
    * go through [[hasHeavyKeyMemo]]). */
  def qWindowRunningAuto(spark: SparkSession, events: DataFrame): DataFrame =
    if (heavyKeyAtScale(events, hasHeavyKey(events))) qWindowRunningSkewSafe(events)
    else qWindowRunningFrom(events)

  /** The skew-safe branch needs a heavy key, and a key can only be heavy at
    * scale: below the leaf-byte gate one key's window is bounded by the gate
    * itself, so the `probe` (a corpus job) runs only when
    * [[PlanStats.atScale]] holds. */
  private def heavyKeyAtScale(events: DataFrame, probe: => Boolean): Boolean =
    PlanStats.atScale(events) && probe

  /** Any key at/above [[HeavyKeyRows]]? One map-side-combinable count over
    * the pruned key column, probed with limit 1 — the detection cost the
    * auto dispatch pays on every corpus at scale (measured ≈ a count(*) by
    * key). */
  private def hasHeavyKey(events: DataFrame): Boolean =
    !events.select("user_id").groupBy("user_id")
      .agg(count(lit(1)).as("hn")).filter(col("hn") >= HeavyKeyRows)
      .isEmpty

  /** The heavy-key verdict as a Memo fact: the detection aggregate runs
    * once per (session, dir) until Memo.release(), not at every windowed
    * entry's construction (plan-only consumers then run no corpus job). */
  private def hasHeavyKeyMemo(spark: SparkSession, d: String): Boolean =
    Memo.fact(spark, d, "heavy_key")(hasHeavyKey(Tables.events(spark, d)))

  // Materialized join sides (`Memo.atScale`): the reduced build side of a
  // big fact join (q5's date-filtered orders ⋈ EUROPE customers) is
  // corpus-derived but far smaller than the fact scan it gates. Planned
  // lazily, Catalyst has only file-size estimates for it, so the static
  // planner keeps a sort-merge join and the fact table pays a full shuffle
  // write even when AQE later converts the join. A forced broadcast hint is
  // banned (the side grows with the corpus). At scale the side is
  // persisted and counted at build, so InMemoryRelation reports its true
  // size and the planner picks broadcast-hash exactly while the side is
  // under the broadcast threshold (sf10: q5 exec 6.9 → 2.0 s, no lineitem
  // shuffle). Below the gate the lazy side already plans a broadcast and
  // the persist only costs (sf0.1: q8 0.76×, q3 0.89×, q17 ~0.75×).

  /** r19 (r18 verdict #5): conditional SHUFFLE_HASH pin. The r18 pins on
    * the q12/q_exists fact-fact joins removed the SMJ sorts at sf10
    * (10.4→4.0 s in a shape race) but were UNCONDITIONAL — a join-strategy hint
    * outranks size-based planning, so at small SF they traded a natural
    * broadcast-hash away for two exchanges (the sf0.01 plan dumps show
    * BHJ→SHJ). Pin only while the side's optimized-plan estimate exceeds
    * the session broadcast threshold: below it the planner broadcasts
    * statically (no exchange at all — strictly better than SHJ); above it
    * the pin keeps the exchanges sort-free exactly as in r18. The estimate
    * here is scan-derived (projection of a parquet scan / aggregate of
    * one), the one case file-size stats are trustworthy for. */
  private def shuffleHashWhenBig(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thr >= 0 && est <= BigInt(thr)) df else df.hint("shuffle_hash")
  }

  /** Shared PER-USER events memo (r17 verdict #3, the keyed-memo pattern
    * from the ds_* family applied to the per-user event analytics): one
    * slim projection (event_id, user_id, event_type, ts, value_c),
    * hash-partitioned on user_id and persisted. Every consumer whose
    * joins, windows, and distinct aggregates key on user_id (attribution,
    * window funnel, hourly-distinct) reads it exchange-free —
    * hashpartitioning(user) satisfies ClusteredDistribution for any
    * grouping that CONTAINS user_id, so even groupBy(type, hour, user)
    * rides it. Before the memo each entry re-paid the corpus scan 2-3×
    * (three separate events scans) plus its
    * own user exchange. Memo trap #1 (r17): a cached source re-aims AQE's
    * runtime broadcast at the cached size — benign here, both join sides
    * of every consumer derive from the same cached relation, so either
    * broadcast or zipped co-partitioned join is exchange-free. Trap #2
    * (checkpoint drops partitioning) avoided by using persist, which
    * advertises the repartition. Warmed by Bench/QueryTime as a family
    * build. */
  def eventsByUser(spark: SparkSession, d: String): DataFrame =
    // ungated, unlike the materialized sides: consumers reference this
    // frame SEVERAL times inside one plan (attribution reads it 3×), so an
    // unpersisted memo would re-scan per reference; and the family-build
    // contract (warmFamilyCaches / family_build_s) bills the build outside
    // per-query timers, so the r18 sizing law (2 partitions at sf0.1)
    // already bounds its small-SF cost.
    Memo.frame(spark, d, "events_by_user", count = true) {
      val slim = Tables.events(spark, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          cents(col("value")).as("value_c"))
      // Scale-adaptive memo partitioning (guide §2.2/§2.5, r18): a fixed
      // N = shuffle.partitions pinned 32 partitions onto a 2 MB corpus at
      // sf0.1 — the per-partition task/columnar-batch constant across every
      // consumer stage cost more than the exchange the memo removes
      // (q_attribution 0.46→0.91 s isolated). Derive N from the SLIM
      // projection's plan stats (file bytes × column-prune ratio) at the
      // AQE advisory partition size, capped at shuffle.partitions — the
      // same sizing AQE would coalesce a shuffle to, except a persisted
      // memo has no AQE boundary so it must be sized at build time. At
      // sf10 (~1 GB slim) this lands back at the cap; at 100 TB the cap is
      // the deployment's shuffle.partitions, as before.
      // Sizing law (measured, sf0.1/sf1 A/B): the memo partition count sets
      // the COMPUTE parallelism of every consumer's first stage (a cached
      // relation has no AQE boundary and no parquet row-group splits), while
      // each extra partition costs only a ~2-3 ms task/batch constant per
      // consumer stage. So partitions stay small (~1 MB of scan-stat bytes)
      // until the shuffle.partitions cap: sf0.1 (2 MB) → 2, sf1 (20 MB) →
      // 20, sf10+ → cap, where the fixed-N behaviour this replaces was
      // measured correct. Fixed N=cap at sf0.1 cost +1.3 s across the three
      // consumers; bytes/64MB (N=1-2) cost +1.6 s at sf1 from the lost scan
      // parallelism.
      val perPart = 1L << 20
      val bytes = slim.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
      val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val n = math.max(1, math.min(cap.toLong,
        (bytes + perPart - 1) / perPart).toInt)
      slim.repartition(n, col("user_id"))
    }

  /** The memo's 5-column events projection, scale-dispatched: BELOW
    * the leaf-byte gate a single-consumer per-user window query
    * is faster reading the raw scan (the InMemoryTableScan constant plus
    * the sizing law's ~2 memo partitions beat a 2 MB scan's exchange —
    * QueryTime sf0.1: q_twap 0.36 raw vs 0.48 memo); ABOVE it the memo's
    * pre-paid user_id exchange dominates (sf10: q_twap 1.06 memo vs 1.68
    * raw). Multi-reference consumers (attribution reads it 3×) stay on
    * [[eventsByUser]] unconditionally. */
  private def eventsSlim(spark: SparkSession, d: String): DataFrame = {
    val slim = Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        cents(col("value")).as("value_c"))
    if (PlanStats.atScale(slim)) eventsByUser(spark, d) else slim
  }

  /** Pre-materialize the shared per-user events memo (Bench warm
    * contract — the build is a family cost, not billed to whichever
    * consumer runs first). */
  def warmFamilyCaches(spark: SparkSession, d: String): Unit = {
    eventsByUser(spark, d)
    ()
  }

  /** Memo.release(), kept for callers compiled against this object. */
  def releaseCaches(): Unit = Memo.release()

  /** DataFrame-in core for [[qWindowRunning]] (events needs user_id,
    * event_id, ts, value). */
  def qWindowRunningFrom(events: DataFrame): DataFrame = {
    val vc = cents(col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"), vc.as("value_c"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        sum(col("value_c")).over(wRun).as("run_sum_c"),
        (col("value_c") - lag(col("value_c"), 1).over(w)).as("delta_c"))
      .orderBy("user_id", "event_id")
  }

  /** Hot-key-safe variant of [[qWindowRunningFrom]] (r15 skew probe):
    * users at or above [[HeavyKeyRows]] rows take the dsCusumFrom census
    * decomposition over (user, absolute-hour bucket) groups — prefix sum
    * = census offset + bucket-local prefix, lag-1 = local lag with a
    * census handoff of each bucket's last value — while light users
    * collapse to bucket 0, where off = 0 / pv = NULL reduce the formulas
    * to the plain window exactly. ONE window pass for everyone; heavy-key
    * detection is a column-pruned single-column count. Value-identical to
    * the plain window by the prefix-sum decomposition law (spec-pinned on
    * a constructed hot-key corpus). Costs a detection aggregate + a
    * census join-back over the plain plan — the price of bounding the
    * largest window partition by one key-hour instead of one key. The
    * bucketed stream takes a LAZY localCheckpoint (census + join-back
    * both consume it; blocks pin on first action until the caller
    * unpersists the RDD), so plan construction stays job-free. */
  private val HeavyKeyRows = 32768L

  def qWindowRunningSkewSafe(events: DataFrame): DataFrame = {
    val vc = cents(col("value"))
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts"), vc.as("value_c"),
        unix_micros(col("ts")).as("tu"))
    val heavy = ev.select(col("user_id").as("hu")).groupBy("hu")
      .agg(count(lit(1)).as("hn"))
      .filter(col("hn") >= HeavyKeyRows)
      .select(col("hu"), lit(1).as("isHeavy"))
    val lw = Window.partitionBy("user_id", "b").orderBy("ts", "event_id")
    // both joins are NULL-SAFE on user_id (r15 advice): the plain window
    // treats NULL user_id as one partition, so the decomposition must
    // carry those rows through detection AND the census join-back —
    // a plain equi-join would silently drop every NULL-user row
    val local = ev.join(heavy, col("user_id") <=> col("hu"), "left").drop("hu")
      .withColumn("b", when(col("isHeavy").isNotNull,
        expr("tu div 3600000000")).otherwise(lit(0L)))
      .withColumn("ls", sum(col("value_c")).over(
        lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lprev", lag(col("value_c"), 1).over(lw))
      .withColumn("rn", row_number().over(lw))
      .select("user_id", "b", "event_id", "ts", "value_c", "tu", "ls",
        "lprev", "rn")
      .localCheckpoint(false)
    val cw = Window.partitionBy("user_id").orderBy("b")
    val census = local.groupBy("user_id", "b").agg(
        sum(col("value_c")).as("sb"),
        max(struct(col("tu"), col("event_id"), col("value_c"))).as("lastr"))
      // off stays NULL when no preceding bucket holds a non-null value —
      // the sum law is "NULL iff zero non-null values in frame", so the
      // combine below must distinguish empty-prefix from zero-mass prefix
      .withColumn("off", sum(col("sb")).over(
        cw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("pv", lag(col("lastr.value_c"), 1).over(cw))
      .select(col("user_id").as("cu"), col("b").as("cb"), col("off"),
        col("pv"))
    local.join(census, col("user_id") <=> col("cu") && col("b") === col("cb"))
      .withColumn("run_sum_c",
        when(col("off").isNull && col("ls").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("off"), lit(0L)) + coalesce(col("ls"), lit(0L))))
      // bucket-first rows are detected STRUCTURALLY (rn == 1), not by
      // lprev's nullness — a previous row whose value_c is NULL must give
      // delta NULL exactly like the plain lag, not fall through to pv
      .withColumn("delta_c", when(col("rn") === 1, col("value_c") - col("pv"))
        .otherwise(col("value_c") - col("lprev")))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("run_sum_c"), col("delta_c"))
      .orderBy("user_id", "event_id")
  }

  val qWindowRunningSql: String =
    """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_sum_c,
      | CAST(round(value*100) AS BIGINT) - lag(CAST(round(value*100) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_c
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // --- q_rollup -----------------------------------------------------------
  def qRollup(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d)
      .select("o_orderpriority", "o_orderstatus", "o_totalprice")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), (sum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("sum_price"))
      .orderBy("priority", "status")
  }

  val qRollupSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      | coalesce(o_orderstatus, 'ALL') AS status,
      | count(*) AS n,
      | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // --- q_cube -------------------------------------------------------------
  // CUBE = all 2^n grouping sets (rollup's lattice-complete sibling); the
  // Expand operator multiplies each input row by the grouping-set count
  // before ONE partial-aggregable groupBy — still a single shuffle.
  def qCube(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d)
      .select("o_orderpriority", "o_orderstatus", "o_totalprice")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), (sum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("sum_price"))
      .orderBy("priority", "status")
  }

  val qCubeSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      | coalesce(o_orderstatus, 'ALL') AS status,
      | count(*) AS n,
      | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // --- q_grouping_sets ----------------------------------------------------
  // Explicit GROUPING SETS — the general form rollup/cube specialize: only
  // the named set list ((priority, status), (priority), (clerk-prefixed
  // ALL-rollup omitted), ()) is expanded, so Expand multiplies rows by
  // |sets| (3 here), not 2^n — cheaper than cube when only some marginals
  // are needed. Still ONE partial-aggregable shuffle. grouping() flags
  // disambiguate a real NULL key from a rolled-up one.
  def qGroupingSets(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d)
      .select("o_orderpriority", "o_orderstatus", "o_totalprice")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), (sum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("sum_price"))
      .orderBy("priority", "status")
  }

  val qGroupingSetsSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      | coalesce(o_orderstatus, 'ALL') AS status,
      | count(*) AS n,
      | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
      |ORDER BY priority, status""".stripMargin

  // --- q_semi_anti --------------------------------------------------------
  // Left-semi then left-anti: customers with an open ('O') order but no
  // finished ('F') order. Both join sides after filtering are key-only
  // projections → small, broadcastable.
  def qSemiAnti(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d).select("c_custkey", "c_name")
    val o = Tables.orders(spark, d).select("o_custkey", "o_orderstatus")
    val hasOpen = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val hasFinished = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    c.join(hasOpen, c("c_custkey") === hasOpen("o_custkey"), "left_semi")
      .join(hasFinished, c("c_custkey") === hasFinished("o_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  val qSemiAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // --- q_events_hourly ----------------------------------------------------
  // On the per-user memo (r18): countDistinct plans as a two-level
  // aggregate whose first level groups by (type, hour, user) — the memo's
  // user_id hash partitioning satisfies that clustering (user ∈ keys), so
  // the 172 MB distinct-expansion exchange the raw-scan form paid at sf10
  // disappears; only the |type×hour|-row second level shuffles.
  def qEventsHourly(spark: SparkSession, d: String): DataFrame = {
    // group on the INTEGER hour bucket and format only the |type×hour|
    // report rows (the q_promo_share r16 trick — date_format is a per-row
    // string build; epoch div 3600 stays in codegen). Exact under the
    // session's pinned UTC: date_trunc('hour') ≡ floor(epoch/3600)·3600.
    eventsByUser(spark, d)
      .select(col("event_type"),
        expr("cast(ts as long) div 3600").as("hb"),
        col("user_id"), col("value_c").as("vc"))
      .groupBy("event_type", "hb")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        (sum(col("vc")) / 100.0).as("sum_value"))
      .select(col("event_type"),
        date_format(timestamp_seconds(col("hb") * 3600L), "yyyy-MM-dd HH:mm").as("hour_s"),
        col("n"), col("users"), col("sum_value"))
      .orderBy("event_type", "hour_s")
  }

  val qEventsHourlySql: String =
    """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_s,
      | count(*) AS n,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS users,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // --- q_sessionize -------------------------------------------------------
  // Gap>30min sessionization via the classic lag → flag → prefix-sum trick:
  // two window passes over data partitioned by user_id, no self-join.
  def qSessionize(spark: SparkSession, d: String): DataFrame =
    sessionsUnordered(spark, d).orderBy("user_id", "session_id")

  /** The session table WITHOUT the presentation sort — the composable
    * form: consumers that aggregate or window further (stream_sessions)
    * keep the user_id hash partitioning the session window already paid
    * for, instead of inheriting a wasted range exchange from the
    * registered entry's final orderBy.
    */
  private[graft] def sessionsUnordered(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r19: eventsSlim — memo above the size gate (pre-paid user exchange),
    // raw scan below it
    eventsSlim(spark, d)
      .select("user_id", "event_id", "ts")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull, 1L)
          .when(col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_s"),
        (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("dur_sec"))
  }

  val qSessionizeSql: String =
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
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
      | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
      | CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_sec
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --- q_percentiles ------------------------------------------------------
  // Exact *discrete* percentiles (value at rank ceil(p·n)) rather than
  // interpolated ones: the output is a raw data value, so Spark and any
  // oracle agree exactly — no float interpolation to diverge on.
  // VALUE-HISTOGRAM decomposition (r15, the bounded-window audit): the
  // value at rank ceil(p·n) under (value, event_id) order is invariant to
  // tie order, so it is the smallest value whose cumulative histogram
  // count reaches the rank (the ds_outlier_mad precedent). The corpus
  // pays ONE map-side-combinable groupBy (partials capped by the value
  // lattice); the rank windows run over the report-sized histogram —
  // the old plan row_number'd every event inside |event_types| window
  // partitions, one task per type at any scale.
  def qPercentiles(spark: SparkSession, d: String): DataFrame = {
    val hist = Tables.events(spark, d)
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    def pick(p: Double) =
      min(when(col("cum") >= ceil(lit(p) * col("n")).cast("long"), col("value")))
    hist
      .withColumn("cum", sum(col("cnt")).over(cw))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        pick(0.25).as("p25"), pick(0.5).as("p50"),
        pick(0.75).as("p75"), pick(0.9).as("p90"))
      .orderBy("event_type")
  }

  val qPercentilesSql: String =
    """WITH r AS (
      | SELECT event_type, value,
      |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n
      | FROM events
      |)
      |SELECT event_type, max(n) AS n,
      | max(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN value END) AS p25,
      | max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN value END) AS p50,
      | max(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN value END) AS p75,
      | max(CASE WHEN rn = CAST(ceil(0.9*n) AS BIGINT) THEN value END) AS p90
      |FROM r
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_sliding_window ---------------------------------------------------
  // Trailing-1-hour sum/count per user at every event — a RANGE frame over
  // integer epoch-micros, the time-based sibling of q_window_running's ROWS
  // frame. RANGE frames treat equal-time rows as peers (both engines
  // include all of them), so the result is deterministic even with
  // timestamp ties; sums are exact cents. One shuffle on user_id; within a
  // partition the frame is a sliding two-pointer over the sorted rows.
  // The r15 skew probe measured 2.8x at sf1-skew (one user = 30% of
  // events; AQE skew handling covers joins, not WindowExec) — the
  // context-duplication hybrid below ([[qSlidingWindowSkewSafe]]) fixes
  // the degenerate case and is spec-pinned value-identical, at the price
  // of a detection pass plus duplicated hot rows. AUTO-DETECTED like
  // [[qWindowRunning]] — the column-pruned heavy-key probe picks the
  // branch.
  def qSlidingWindow(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    if (heavyKeyAtScale(ev, hasHeavyKeyMemo(spark, d))) qSlidingWindowSkewSafe(ev)
    else qSlidingWindowFrom(ev)
  }

  /** Auto-dispatching entry — see [[qWindowRunningAuto]]. */
  def qSlidingWindowAuto(spark: SparkSession, events: DataFrame): DataFrame =
    if (heavyKeyAtScale(events, hasHeavyKey(events))) qSlidingWindowSkewSafe(events)
    else qSlidingWindowFrom(events)

  /** DataFrame-in core for [[qSlidingWindow]] (events needs user_id,
    * event_id, ts, value). */
  def qSlidingWindowFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"))
      .rangeBetween(-3600000000L, 0L)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("vc"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        sum(col("vc")).over(w).as("trail_1h_c"),
        count(lit(1)).over(w).as("trail_1h_n"))
      .orderBy("user_id", "event_id")
  }

  /** Hot-key-safe variant of [[qSlidingWindowFrom]] (r15 skew probe):
    * because the frame is EXACTLY one hour, a row's window spans at most
    * its own absolute-hour bucket and the previous one — so heavy users'
    * rows are windowed per (user, hour bucket) with each row RE-EMITTED
    * once as non-scoring context into the NEXT hour bucket (the
    * ds_rolling_z context-duplication idiom on the time axis). Light
    * users collapse to bucket 0, where the group IS the plain per-user
    * window. The largest window partition is bounded by one key-HOUR of
    * data (plus the previous hour's context) instead of one key; the
    * price is the detection count plus one duplicate of each heavy row.
    * Value-identical by window containment (spec-pinned). */
  def qSlidingWindowSkewSafe(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("vc"))
    // NULL-SAFE join (r16 advice): the plain window treats NULL user_id as
    // one partition, so a heavy NULL key must also be flagged and
    // hour-bucketed — a plain equi-join silently leaves every NULL-user
    // row in bucket 0 as one unbounded window partition (values stay
    // right; the skew protection doesn't). Same contract as
    // qWindowRunningSkewSafe's joins.
    val heavy = ev.select(col("user_id").as("hu")).groupBy("hu")
      .agg(count(lit(1)).as("hn"))
      .filter(col("hn") >= HeavyKeyRows)
      .select(col("hu"), lit(1).as("isHeavy"))
    val flagged = ev.join(heavy, col("user_id") <=> col("hu"), "left").drop("hu")
    val own = flagged
      .withColumn("gb", when(col("isHeavy").isNotNull,
        expr("t div 3600000000")).otherwise(lit(0L)))
      .withColumn("ctx", lit(false))
    val ctx = flagged.filter(col("isHeavy").isNotNull)
      .withColumn("gb", expr("t div 3600000000") + 1L)
      .withColumn("ctx", lit(true))
    val w = Window.partitionBy("user_id", "gb").orderBy(col("t"))
      .rangeBetween(-3600000000L, 0L)
    own.unionByName(ctx)
      .select(col("user_id"), col("event_id"), col("ts"), col("ctx"),
        sum(col("vc")).over(w).as("trail_1h_c"),
        count(lit(1)).over(w).as("trail_1h_n"))
      .filter(!col("ctx"))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("trail_1h_c"), col("trail_1h_n"))
      .orderBy("user_id", "event_id")
  }

  val qSlidingWindowSql: String =
    """SELECT user_id, event_id,
      | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
      |   PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail_1h_c,
      | CAST(count(*) OVER (
      |   PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail_1h_n
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // --- q6_forecast_revenue ------------------------------------------------
  // TPC-H Q6 shape: the pure pushdown showcase — one scan, three scan-level
  // predicates, one global sum, NO shuffle beyond the 1-row partial-agg
  // combine. The discount band is tested on the exact integer points
  // (dc BETWEEN 5 AND 7), not a float range, so the cut is engine-identical;
  // revenue accumulates as epc·dc integers (10^-4 dollar lattice, the
  // q_promo_share convention) with one final division. .explain: the date
  // window and quantity cut reach PushedFilters; the discount band runs in
  // the scan's Filter because it tests a COMPUTED column — the deliberate
  // trade (an equivalent raw-float range predicate would push but reopens
  // cross-engine float-boundary semantics, the exact thing the integer
  // lattice exists to exclude). At 100 TB this query IS the scan.
  def q6ForecastRevenue(spark: SparkSession, d: String): DataFrame = {
    val dc = cents(col("l_discount"))
    Tables.lineitem(spark, d)
      .select(col("l_shipdate"), col("l_quantity"), col("l_extendedprice"), dc.as("dc"))
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-01-01 00:00:00") &&
        col("dc").between(5L, 7L) && col("l_quantity") < 24.0)
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice")) * col("dc")).as("revenue_c4"))
      .select(col("n_lines"), col("revenue_c4"),
        (col("revenue_c4") / 10000.0).as("revenue"))
  }

  val q6ForecastRevenueSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
      |  AND l_quantity < 24.0""".stripMargin

  // --- q10_returned_items -------------------------------------------------
  // TPC-H Q10 shape: revenue lost to returns per customer over a 6-month
  // window — returned lines (scan predicate) joined to window-filtered
  // orders, aggregated per customer, top 20 joined to the customer and
  // nation dims AFTER the cut so only 20 rows reach the dim joins.
  // Revenue = epc·(100−dc) exact integers; the top-k is orderBy+limit —
  // Spark plans TakeOrderedAndProject (per-partition top-20 then a 20-row
  // merge, never a global sort) — with a custkey tie-break for
  // determinism at the rank-20 boundary.
  def q10ReturnedItems(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
    // r19 (the q5/q8 materialized-side shape): the 6-month order window is ~7% of
    // orders, 2 narrow columns — memoized, the static planner sees its
    // TRUE size and broadcast-hashes it, so the R-lineitem probe side
    // never exchanges for the join (sf10: exec 3.98 s, the
    // fact-fact orderkey exchange pair dominated). Below the leaf gate
    // (sf0.1) the lazy side broadcasts off file stats anyway; past the
    // 64 MB threshold at ~100× this window the memo degrades to the
    // shuffle join it replaced.
    val o = Memo.atScale(spark, d, "q10_window_orders") {
      Tables.orders(spark, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1996-07-01 00:00:00"))
        .select(col("o_orderkey"), col("o_custkey"))
    }
    val per = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("rev_c4")).as("revenue_c4"))
      .orderBy(desc("revenue_c4"), asc("custkey")).limit(20)
    per.join(Tables.customer(spark, d), col("custkey") === col("c_custkey"))
      .join(Tables.nation(spark, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("custkey"), col("c_name"), col("n_name"),
        col("revenue_c4"), (col("revenue_c4") / 10000.0).as("revenue"))
      .orderBy(desc("revenue_c4"), asc("custkey"))
  }

  val q10ReturnedItemsSql: String =
    """WITH r AS (SELECT l_orderkey,
      |  CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT)) AS rev_c4
      | FROM lineitem WHERE l_returnflag = 'R'),
      |o AS (SELECT o_orderkey, o_custkey FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'),
      |per AS (SELECT o_custkey AS custkey, CAST(sum(rev_c4) AS BIGINT) AS revenue_c4
      |        FROM r JOIN o ON r.l_orderkey = o.o_orderkey GROUP BY 1
      |        ORDER BY revenue_c4 DESC, custkey LIMIT 20)
      |SELECT custkey, c_name, n_name, revenue_c4, revenue_c4/10000.0 AS revenue
      |FROM per JOIN customer ON custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY revenue_c4 DESC, custkey""".stripMargin

  // --- q18_large_orders ---------------------------------------------------
  // TPC-H Q18 shape: orders whose total quantity clears a threshold —
  // the classic HAVING-over-join: ONE map-side-combinable per-order
  // quantity sum (cents-quantized so the threshold cut is an integer
  // compare), the surviving |orders|·p99-sized key list joins back to
  // orders + customer, top 100 by (totalprice, orderkey). The heavy
  // aggregate runs BEFORE any dim join, so raw lineitem never joins.
  private val LargeOrderQtyC = 25000L // sum(l_quantity) > 250, in cents

  def q18LargeOrders(spark: SparkSession, d: String): DataFrame = {
    // r18 measured rejection (SCALING.md): a materialized side on the threshold
    // survivors gives the joins accurate stats (orders' 203 MB exchange
    // becomes a broadcast probe — exec dropped to 0.4 s), but the memo's
    // eager materialization serializes the whole lineitem aggregate that
    // AQE otherwise overlaps with the dimension scans: wall 3.97→4.12 s
    // at sf10. The per-order aggregate IS the query's cost; the lazy
    // form stays.
    val big = Tables.lineitem(spark, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"))
      .filter(col("sum_qty_c") > LargeOrderQtyC)
    big.join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        cents(col("o_totalprice")).as("totalprice_c"),
        (col("sum_qty_c") / 100.0).as("sum_qty"))
      .orderBy(desc("totalprice_c"), asc("o_orderkey")).limit(100)
  }

  val q18LargeOrdersSql: String =
    s"""WITH big AS (SELECT l_orderkey,
       |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
       | FROM lineitem GROUP BY 1 HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > $LargeOrderQtyC)
       |SELECT c_custkey, c_name, o_orderkey,
       | strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       | CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_c,
       | sum_qty_c/100.0 AS sum_qty
       |FROM big JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY totalprice_c DESC, o_orderkey LIMIT 100""".stripMargin

  // --- q_decay_sum --------------------------------------------------------
  // Recency-decayed per-user value — the feature-engineering staple behind
  // "recent activity counts more": each event's cents are weighted by
  // 2^-min(age_days, 16) relative to the corpus's latest event day. The
  // weight is a POWER OF TWO on purpose: cents · 2^(16-age) stays an exact
  // BIGINT (a shift, not a float multiply), so the per-user sum is an
  // associative integer sum — bit-identical at any partition count — and
  // ONE final division by 2^16·100 converts to decayed dollars. A float
  // e^-λt weighting would make the sum order-dependent and unverifiable.
  // Scale shape: the anchor day is a 1-row aggregate (AQE broadcasts it),
  // weights compute map-side, then one combinable per-user groupBy.
  private val DecayCapDays = 16

  def qDecaySum(spark: SparkSession, d: String): DataFrame =
    qDecaySumFrom(Tables.events(spark, d))

  /** DataFrame-in variant for library callers / specs: `events` needs
    * (user_id, ts, value). */
  def qDecaySumFrom(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), to_date(col("ts")).as("day"), cents(col("value")).as("vc"))
    val anchor = ev.agg(max(col("day")).as("d1"))
    ev.crossJoin(anchor)
      .withColumn("w", expr(
        s"shiftleft(CAST(1 AS BIGINT), $DecayCapDays - least(datediff(d1, day), $DecayCapDays))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("vc") * col("w")).as("decayed_c"))
      .withColumn("decayed",
        col("decayed_c").cast("double") / lit((1L << DecayCapDays) * 100.0))
      .select("user_id", "n_events", "decayed_c", "decayed")
      .orderBy("user_id")
  }

  val qDecaySumSql: String =
    s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
       |a AS (SELECT max(day) AS d1 FROM ev)
       |SELECT user_id,
       | CAST(count(*) AS BIGINT) AS n_events,
       | CAST(sum(vc * (CAST(1 AS BIGINT) << ($DecayCapDays - least(datediff('day', day, d1), $DecayCapDays)))) AS BIGINT) AS decayed_c,
       | CAST(sum(vc * (CAST(1 AS BIGINT) << ($DecayCapDays - least(datediff('day', day, d1), $DecayCapDays)))) AS DOUBLE)
       |   / ${(1L << DecayCapDays) * 100}.0 AS decayed
       |FROM ev CROSS JOIN a
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- q_event_dedup ------------------------------------------------------
  // At-least-once telemetry dedup (debounce semantics): an event is dropped
  // when the PREVIOUS event with the same (user, type, cents) key — kept or
  // dropped — lies within 5 minutes; re-deliveries and client retries
  // collapse, genuine repeats further apart survive. One lag over the
  // key-partitioned (ts, event_id) total order: a single key shuffle, no
  // self-join, deterministic under ties (equal timestamps order by
  // event_id, so the later id sees gap 0 and drops).
  private[graft] val DebounceMicros = 300000000L // 5 min (shared with EventStream.debounce)

  def qEventDedup(spark: SparkSession, d: String): DataFrame =
    qEventDedupFrom(Tables.events(spark, d))

  /** DataFrame-in variant for library callers / specs: `events` needs
    * (event_id, user_id, event_type, ts, value). The shipped corpus has no
    * same-key re-deliveries (values are near-unique doubles), so the DROP
    * path is proven on synthetic retries in AnalyticsSpec; the oracle row
    * pins the identity path on real data. */
  def qEventDedupFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type", "vc")
      .orderBy("t", "event_id")
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("vc"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .withColumn("pt", lag(col("t"), 1).over(w))
      .filter(col("pt").isNull || col("t") - col("pt") > DebounceMicros)
      .select("event_id", "user_id", "event_type", "ts_s")
      .orderBy("event_id")
  }

  val qEventDedupSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, event_type,
       |  epoch_us(ts) AS t, CAST(round(value*100) AS BIGINT) AS vc,
       |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events),
       |lg AS (SELECT *, lag(t) OVER (
       |  PARTITION BY user_id, event_type, vc ORDER BY t, event_id) AS pt FROM ev)
       |SELECT event_id, user_id, event_type, ts_s
       |FROM lg WHERE pt IS NULL OR t - pt > $DebounceMicros
       |ORDER BY event_id""".stripMargin

  // --- q_salted_agg -------------------------------------------------------
  // Skew-mitigation pattern, demonstrated end-to-end: events has only 5
  // event_types, so a direct groupBy sends ~20% of ALL rows to one reducer
  // — the textbook hot-key shuffle. The salted plan spreads each key over
  // 16 sub-keys (salt = event_id % 16, deterministic), partially aggregates
  // (event_type, salt), then combines the 16 partials per key — the second
  // shuffle carries 5·16 rows regardless of input size. Integer-cent sums
  // make the two-stage result bit-identical to the direct one (associative
  // regrouping is exact), which is precisely why the exactness contract
  // bans raw double sums. Oracle = the direct single-stage aggregate.
  def qSaltedAgg(spark: SparkSession, d: String): DataFrame = {
    val partial = Tables.events(spark, d)
      .select(col("event_type"), col("event_id"), cents(col("value")).as("vc"))
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(sum(col("vc")).as("s"), count(lit(1)).as("c"))
    partial.groupBy("event_type")
      .agg((sum(col("s")) / 100.0).as("sum_value"),
        sum(col("c")).as("n"),
        ((sum(col("s")) / 100.0) / sum(col("c"))).as("avg_value"))
      .orderBy("event_type")
  }

  val qSaltedAggSql: String =
    """SELECT event_type,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value,
      | count(*) AS n,
      | (CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0)/count(*) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_pivot ------------------------------------------------------------
  // Wide-format pivot: documents count + total chars per source, one column
  // pair per language. The pivot value list is EXPLICIT — with it, Spark
  // skips the distinct-values collection pass AND the output schema is
  // static, which is what keeps the operator a single map-side-combinable
  // aggregate at 100 TB (Expand-free: pivot with known values compiles to
  // one aggregate with 2·|langs| conditional branches; nothing shuffles but
  // the 20-source group keys). Missing (source, lang) cells are zero-filled
  // to match the oracle's FILTER-based conditional aggregation.
  private val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  def qPivot(spark: SparkSession, d: String): DataFrame = {
    val cols = PivotLangs.flatMap { l =>
      Seq(coalesce(col(s"${l}_cnt"), lit(0L)).as(s"${l}_cnt"),
        coalesce(col(s"${l}_chars"), lit(0L)).as(s"${l}_chars"))
    }
    Tables.documents(spark, d)
      .groupBy("source")
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
      .select(col("source") +: cols: _*)
      .orderBy("source")
  }

  val qPivotSql: String = {
    val cells = PivotLangs.map { l =>
      s"""  coalesce(count(*) FILTER (WHERE lang = '$l'), 0) AS ${l}_cnt,
         |  CAST(coalesce(sum(n_chars) FILTER (WHERE lang = '$l'), 0) AS BIGINT) AS ${l}_chars""".stripMargin
    }.mkString(",\n")
    s"""SELECT source,
       |$cells
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // --- q_retention --------------------------------------------------------
  // Cohort retention: users grouped by first-seen day, counted on each
  // later active day as an offset from their cohort — the product-
  // analytics table behind every retention curve. All integer/date math.
  // Scale shape: per-user first-day is one map-side-combinable min; the
  // (user, day) distinct collapses partitions before its shuffle; both
  // shuffles hash on user_id (co-partitioned, AQE may broadcast the tiny
  // cohort side), and the final groupBy is over cohorts×offsets — report-
  // sized. No windows, no self-joins over raw events.
  def qRetention(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val fu = ev.groupBy("user_id").agg(min(col("day")).as("cohort"))
    ev.distinct()
      .join(fu, Seq("user_id"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_s"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_s", "day_offset")
  }

  val qRetentionSql: String =
    """WITH fu AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_s,
      | CAST(datediff('day', cohort, day) AS BIGINT) AS day_offset,
      | CAST(count(*) AS BIGINT) AS n_users
      |FROM act JOIN fu USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q_funnel -----------------------------------------------------------
  // Ordered conversion funnel with a bounded window: first view → first
  // click within 1 day of it → first purchase within 1 day of that click.
  // Each stage anchors on the PREVIOUS stage's min timestamp (strictly
  // later, ≤ anchor + 1 day), so the count sequence is monotone by
  // construction. Timestamps compare exactly (µs precision both engines).
  // Scale shape: three aggregations all hashed on user_id — co-partitioned
  // chain, each stage's table shrinks (funnels only narrow); the stage
  // frames join the raw scan once each, never stage-to-stage over events.
  private val FunnelWindowSec = 86400L

  def qFunnel(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    def within(anchor: Column) = col("ts") > anchor &&
      col("ts") <= anchor + expr(s"INTERVAL $FunnelWindowSec SECOND")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(within(col("t1")))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(within(col("t2")))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users")).select(lit("2_click").as("stage"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users")).select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  val qFunnelSql: String =
    s"""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON v.user_id = e.user_id
       |      AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL $FunnelWindowSec SECOND
       |      WHERE e.event_type = 'click' GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON c.user_id = e.user_id
       |      AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL $FunnelWindowSec SECOND
       |      WHERE e.event_type = 'purchase' GROUP BY 1)
       |SELECT stage, n_users FROM (
       | SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
       | UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
       | UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p)
       |ORDER BY stage""".stripMargin

  // --- q_window_funnel ----------------------------------------------------
  // Sliding-window funnel depth (the ClickHouse `windowFunnel` /
  // product-analytics primitive, distinct from q_funnel's single
  // first-event anchor): EVERY view event anchors a chain — the earliest
  // click strictly after it, then the earliest purchase strictly after
  // that click — with the WHOLE chain bounded to anchor + 4 hours
  // (the narrowest window at which all three depths occur at oracle SF); a
  // user's depth is the max over their anchors, and the output is the
  // per-depth user histogram product analytics reads. Greedy
  // earliest-next is optimal for a fixed anchor, and max-over-anchors
  // makes the statistic anchor-order-free — fully deterministic on exact
  // µs timestamps, no floats anywhere. Scale shape: every join hashes on
  // user_id (co-partitioned chain); the anchor×step range joins carry at
  // most each user's in-window activity (bounded by per-user rate ×
  // window, never corpus²); the per-(anchor) mins and per-user max are
  // map-side combinable; the histogram is ≤ 3 rows.
  private val WfWindowSec = 14400L

  def qWindowFunnel(spark: SparkSession, d: String): DataFrame =
    qWindowFunnelFrom(eventsByUser(spark, d)) // memo: 1 cache read vs 2 scans

  /** DataFrame-in core for [[qWindowFunnel]] (events needs user_id,
    * event_type, ts) — exposed so the randomized spec can pin the
    * greedy-chain semantics on constructed streams with timestamp
    * collisions and window-edge events. */
  def qWindowFunnelFrom(ev: DataFrame): DataFrame = {
    val win = expr(s"INTERVAL $WfWindowSec SECOND")
    val anchors = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("t1")).distinct()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("tc"))
    val t2 = anchors.join(clicks, Seq("user_id"))
      .filter(col("tc") > col("t1") && col("tc") <= col("t1") + win)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tc")).as("t2"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("tp"))
    val t3 = t2.join(purchases, Seq("user_id"))
      .filter(col("tp") > col("t2") && col("tp") <= col("t1") + win)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tp")).as("t3"))
    anchors
      .join(t2, Seq("user_id", "t1"), "left")
      .join(t3, Seq("user_id", "t1"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L).otherwise(1L).as("dep"))
      .groupBy(col("user_id")).agg(max(col("dep")).as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }

  val qWindowFunnelSql: String =
    s"""WITH a AS (SELECT DISTINCT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
       |c2 AS (SELECT a.user_id, a.t1, min(e.ts) AS t2
       | FROM a JOIN events e ON e.user_id = a.user_id AND e.event_type = 'click'
       |  AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL $WfWindowSec SECOND
       | GROUP BY 1, 2),
       |c3 AS (SELECT c2.user_id, c2.t1, min(e.ts) AS t3
       | FROM c2 JOIN events e ON e.user_id = c2.user_id AND e.event_type = 'purchase'
       |  AND e.ts > c2.t2 AND e.ts <= c2.t1 + INTERVAL $WfWindowSec SECOND
       | GROUP BY 1, 2),
       |dep AS (SELECT a.user_id,
       |  CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS dep
       | FROM a LEFT JOIN c2 ON a.user_id = c2.user_id AND a.t1 = c2.t1
       |        LEFT JOIN c3 ON a.user_id = c3.user_id AND a.t1 = c3.t1),
       |pu AS (SELECT user_id, CAST(max(dep) AS BIGINT) AS depth FROM dep GROUP BY 1)
       |SELECT depth, CAST(count(*) AS BIGINT) AS n_users FROM pu
       |GROUP BY 1 ORDER BY depth""".stripMargin

  // --- q_latest_by_key ----------------------------------------------------
  // CDC / upsert compaction: the latest record per key — the MERGE-INTO /
  // snapshot primitive every changelog-shaped pipeline runs (Debezium
  // topic → current-state table). Total order = (ts, event_id): event_id
  // is unique, so the struct comparison never reaches the carried payload
  // fields and the winner is deterministic.
  // Scale shape: ONE map-side-combinable aggregate — max over a struct
  // partially aggregates inside the scan, so the shuffle carries one
  // candidate record per key per partition. The window formulation the
  // oracle keeps (row_number = 1) would shuffle EVERY raw row to its
  // key's reducer with no partial aggregation — at 100 TB that is the
  // difference between shuffling |keys| rows and shuffling the corpus.
  def qLatestByKey(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("event_type"),
          cents(col("value")).as("vc")).as("r"))
      .groupBy("user_id")
      .agg(max(col("r")).as("r"))
      .select(col("user_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("r.event_id").as("event_id"),
        col("r.event_type").as("event_type"),
        (col("r.vc") / 100.0).as("value"))
      .orderBy("user_id")

  val qLatestByKeySql: String =
    """WITH r AS (SELECT user_id, ts, event_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS vc,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events)
      |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      | event_id, event_type, vc/100.0 AS value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --- q_skew_join --------------------------------------------------------
  // Salted fact-dim JOIN — the join-side twin of q_salted_agg. events has
  // only 5 event_types, so an unsalted shuffle join sends ~20% of the fact
  // table to ONE reducer. The salted plan replicates each dim row SaltN
  // ways (build side grows by a constant factor) and routes each fact row
  // to (key, event_id % SaltN) — every hot key spreads over SaltN
  // reducers. The shuffle_hash pin reflects the pattern's real deployment:
  // you salt precisely when the dim is too large to broadcast (here it is
  // demo-sized, and without the pin AQE would broadcast and erase the
  // skew being demonstrated); the replicated build side stays
  // |dim|·SaltN — bounded, never corpus-proportional.
  // The dim is self-derived (per-type mean from exact cent sums; one
  // final division of identical operands), and the salted join must equal
  // the oracle's plain join bit-for-bit — associative regrouping of
  // integer counts/sums is exact.
  private val SkewSaltN = 16

  def qSkewJoin(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("event_type"), col("event_id"), col("value"),
        cents(col("value")).as("vc"))
    val dim = ev.groupBy("event_type")
      .agg(sum(col("vc")).as("tot"), count(lit(1)).as("cnt"))
      .select(col("event_type"),
        (col("tot").cast("double") / 100.0 / col("cnt").cast("double")).as("mean"))
    val dimR = dim.withColumn("salt",
      explode(sequence(lit(0), lit(SkewSaltN - 1))))
    ev.withColumn("salt", pmod(col("event_id"), lit(SkewSaltN)).cast("int"))
      .join(dimR.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy("event_type", "mean")
      .agg(count(when(col("value") > col("mean"), 1)).as("n_above"),
        (sum(when(col("value") > col("mean"), col("vc"))) / 100.0).as("sum_above"))
      .orderBy("event_type")
  }

  val qSkewJoinSql: String =
    """WITH m AS (SELECT event_type,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0/CAST(count(*) AS DOUBLE) AS mean
      | FROM events GROUP BY 1)
      |SELECT e.event_type, mean,
      | CAST(count(*) FILTER (WHERE e.value > mean) AS BIGINT) AS n_above,
      | CAST(sum(CAST(round(e.value*100) AS BIGINT)) FILTER (WHERE e.value > mean) AS BIGINT)/100.0 AS sum_above
      |FROM events e JOIN m USING (event_type)
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --- q_cooccurrence -----------------------------------------------------
  // Market-basket co-occurrence: for every unordered event_type pair, how
  // many users performed BOTH — the association-mining primitive behind
  // "users who X also Y". The pair explosion happens INSIDE each user's
  // row (collect_set ≤ |types| = 5, then a higher-order pair expansion),
  // so no self-join over the corpus ever forms: one user_id-hashed
  // combinable aggregate, one pure-map explode of ≤ C(5,2) pairs per
  // user, one final groupBy over ≤ 25 keys. The oracle keeps the textbook
  // distinct-self-join formulation, which at 100 TB would re-shuffle the
  // (user, type) relation twice and join it to itself.
  def qCooccurrence(spark: SparkSession, d: String): DataFrame = {
    // Parallelism guard, post-aggregate form (r17 advice): collect_set's
    // per-user exchange compresses to <1 MB even at sf10, so AQE coalesced
    // the reduce side — set building, pair expansion and the final count
    // all ran in ONE task (2.5 s serial at sf10). r17 first
    // fixed it with a raw-side repartition on user_id, which pinned N
    // tasks but carried raw (user_id, event_type) rows across the wire —
    // a corpus-sized exchange in place of combiner-compressed partial
    // sets, exactly the regression class that bites at 100 TB. The guard
    // now sits AFTER the aggregate: partial collect_set state stays on
    // the map side (the groupBy exchange carries <1 MB), and a cheap
    // round-robin exchange of the |users|-row aggregate re-expands the
    // coalesced output so the pair explosion + final count parallelize.
    val ut = Tables.events(spark, d)
      .select("user_id", "event_type")
      .groupBy("user_id").agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    ut.select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)), b -> struct(a AS ta, b AS tb))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("type_a", "type_b")
  }

  val qCooccurrenceSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      | CAST(count(*) AS BIGINT) AS n_users
      |FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q_mode_by_key ------------------------------------------------------
  // Per-user modal event_type (most frequent, lexicographically-smallest
  // on ties) — the categorical summary feature stores emit per entity.
  // Two map-side-combinable aggregations, both hashed on user_id: count
  // per (user, type), then struct-max argmax per user (cnt DESC, then
  // reversed-type tie-break realized by max over (cnt, negated rank) —
  // here by min over type among max counts via a two-field struct whose
  // second field is the type string under a descending trick; ties are
  // resolved to the SMALLEST type name, matching the oracle's
  // row_number ORDER BY cnt DESC, event_type ASC).
  def qModeByKey(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(spark, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
    // max over (cnt, type) would tie-break to the LARGEST type; min over
    // (-cnt, type) tie-breaks to the smallest — exactly the oracle's order
    counts
      .groupBy("user_id")
      .agg(min(struct((-col("cnt")).as("nc"), col("event_type").as("t"))).as("m"),
        sum(col("cnt")).as("n_events"))
      .select(col("user_id"), col("m.t").as("mode_type"),
        (-col("m.nc")).as("mode_n"), col("n_events"))
      .orderBy("user_id")
  }

  val qModeByKeySql: String =
    """WITH c AS (SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2),
      |r AS (SELECT user_id, event_type, cnt,
      |  row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn,
      |  sum(cnt) OVER (PARTITION BY user_id) AS n_events FROM c)
      |SELECT user_id, event_type AS mode_type, cnt AS mode_n,
      | CAST(n_events AS BIGINT) AS n_events
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --- q_concurrency ------------------------------------------------------
  // Sweep-line maximum concurrency: treat each event as a 10-minute
  // interval and report, per type, the maximum number simultaneously
  // open — the capacity-planning number behind "how many sessions at
  // peak". Classic sweep: +1 at start, −1 at end, running sum over the
  // per-type time order; ordering (t, delta, event_id) closes intervals
  // BEFORE opening coincident ones (half-open [ts, ts+10m) semantics)
  // and is a total order, so the running sum is deterministic.
  // Scale shape: the ±1 stream is a pure flat map (2 rows per event); the
  // running sum DECOMPOSES over (event_type, time-bucket) groups
  // (RangeBuckets) — bucket-local running sums, a bucket census of
  // per-bucket delta sums whose exclusive prefix hands each bucket its
  // carry-in, and max_concurrent = max over buckets of (carry-in + local
  // max). All integer; the census windows are aggregate-fed. The census
  // reads the window directly, so the window's own exchange feeds it and
  // nothing is checkpointed.
  private val ConcWindowSec = 600L

  def qConcurrency(spark: SparkSession, d: String): DataFrame = {
    // COLLAPSE marks to one row per (type, µs) BEFORE the windowed sweep.
    // Sound because the (t, delta, event_id) total order closes intervals
    // before opening coincident ones: within one
    // timestamp the running value only dips (closes) then climbs to the
    // group end, so no intermediate value exceeds a group-end prefix sum
    // and max over group ends IS the fine-grained max. The collapse is a
    // map-side-combinable aggregate, so duplicate timestamps (10
    // events/µs at sf10 replica density; any real burst) never reach the
    // sort — the windowed stream is |distinct (type, µs)|-sized, the
    // fine mark count rides along as `cnt` for n_intervals. The ±1 marks
    // come from ONE scan via a 2-array explode.
    val marks = Tables.events(spark, d)
      .select(col("event_type"), unix_micros(col("ts")).as("t0"))
      .select(col("event_type"), explode(array(
        struct(col("t0").as("tu"), lit(1L).as("delta")),
        struct((col("t0") + ConcWindowSec * 1000000L).as("tu"),
          lit(-1L).as("delta")))).as("m"))
      .select(col("event_type"), col("m.tu"), col("m.delta"))
    val g = marks.groupBy("event_type", "tu")
      .agg(sum(col("delta")).as("net"), count(lit(1)).as("cnt"))
    // unhinted: below the broadcast threshold the planner broadcasts the
    // collapsed marks and keeps the spans' partitioning
    val rows = RangeBuckets.assign(g, "event_type", "tu", hint = false)
    val lw = Window.partitionBy("event_type", "b").orderBy(col("tu"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val census = rows.withColumn("ls", sum(col("net")).over(lw))
      .groupBy("event_type", "b")
      .agg(max(col("ls")).as("lmax"), sum(col("net")).as("sb"),
        sum(col("cnt")).as("cnt"))
    census.withColumn("off", RangeBuckets.offset(col("sb"), "event_type"))
      .groupBy("event_type")
      .agg(max(col("off") + col("lmax")).as("max_concurrent"),
        (sum(col("cnt")) / 2).cast("long").as("n_intervals"))
      .orderBy("event_type")
  }

  val qConcurrencySql: String =
    s"""WITH m AS (
       | SELECT event_type, ts AS t, CAST(1 AS BIGINT) AS delta, event_id FROM events
       | UNION ALL
       | SELECT event_type, ts + INTERVAL $ConcWindowSec SECOND, CAST(-1 AS BIGINT), event_id FROM events),
       |r AS (SELECT event_type,
       |  sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS open
       | FROM m)
       |SELECT event_type, CAST(max(open) AS BIGINT) AS max_concurrent,
       | CAST(count(*) / 2 AS BIGINT) AS n_intervals
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_day_over_day -----------------------------------------------------
  // Day-over-day traffic report: per (type, day) counts with the previous
  // day's count and the delta carried alongside — the reporting primitive
  // behind every "vs yesterday" dashboard tile. Integer-only (no pct
  // division to disagree on). One combinable groupBy over types×days +
  // one lag window over that REPORT-sized table (never raw events).
  def qDayOverDay(spark: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(spark, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("n"), col("prev_n"), (col("n") - coalesce(col("prev_n"), col("n"))).as("delta"))
      .orderBy("event_type", "day_s")
  }

  val qDayOverDaySql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      | FROM events GROUP BY 1, 2)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day_s, n,
      | lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
      | CAST(n - coalesce(lag(n) OVER (PARTITION BY event_type ORDER BY day), n) AS BIGINT) AS delta
      |FROM d ORDER BY 1, 2""".stripMargin

  // --- q_ohlc -------------------------------------------------------------
  // Hourly OHLC candles per type — the downsampling shape every
  // time-series store serves (open/close = first/last by the (ts,
  // event_id) total order, high/low = extremes). open/close are
  // struct-min/max with the value CARRIED (event_id unique → the
  // comparison never reaches it), high/low plain min/max on exact cents:
  // ONE fully map-side-combinable aggregate — no window over raw events,
  // unlike the oracle's row_number formulation.
  def qOhlc(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        struct(col("ts"), col("event_id"), cents(col("value")).as("vc")).as("r"),
        cents(col("value")).as("vc"))
    ev.groupBy("event_type", "hour")
      .agg(min(col("r")).as("o"), max(col("r")).as("c"),
        (max(col("vc")) / 100.0).as("high"), (min(col("vc")) / 100.0).as("low"),
        count(lit(1)).as("n"))
      .select(col("event_type"), date_format(col("hour"), "yyyy-MM-dd HH:mm").as("hour_s"),
        (col("o.vc") / 100.0).as("open"), col("high"), col("low"),
        (col("c.vc") / 100.0).as("close"), col("n"))
      .orderBy("event_type", "hour_s")
  }

  val qOhlcSql: String =
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

  // --- pipeline_sessions --------------------------------------------------
  // Sessionize → per-session stats → session-size histogram, composed as
  // ONE plan (the events-side sibling of pipeline_curate): the behavioral
  // report a product team reads — "how long are sessions, in events?" —
  // without materializing the intermediate session table. Buckets are
  // log2 of the event count via binary-string length (doc_length_
  // histogram's no-libm trick). Scale shape: the one corpus-sized
  // operation is the per-user session window (already q_sessionize's
  // shape); the per-session table is session-bounded and its histogram
  // is a ≤64-key combinable groupBy. Catalyst fuses all three stages —
  // the session groupBy reuses the window's user_id partitioning, so the
  // whole pipeline pays exactly ONE corpus shuffle.
  def pipelineSessions(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r19: eventsSlim — memo above the size gate, raw scan below it
    eventsSlim(spark, d)
      .select("user_id", "event_id", "ts")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull, 1L)
          .when(col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("dur_sec"))
      .select((length(bin(col("n_events"))) - 1).cast("long").as("bucket"),
        col("n_events"), col("dur_sec"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("total_events"),
        sum(col("dur_sec")).as("total_dur_sec"))
      .withColumn("bucket_lo", expr("shiftleft(1L, CAST(bucket AS INT))"))
      .select("bucket", "bucket_lo", "n_sessions", "total_events", "total_dur_sec")
      .orderBy("bucket")
  }

  val pipelineSessionsSql: String =
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
      |), per AS (
      | SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_sec
      | FROM sess GROUP BY 1, 2
      |)
      |SELECT CAST(length(bin(n_events)) - 1 AS BIGINT) AS bucket,
      | CAST(1::BIGINT << CAST(length(bin(n_events)) - 1 AS INT) AS BIGINT) AS bucket_lo,
      | CAST(count(*) AS BIGINT) AS n_sessions,
      | CAST(sum(n_events) AS BIGINT) AS total_events,
      | CAST(sum(dur_sec) AS BIGINT) AS total_dur_sec
      |FROM per GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --- q_corr_subquery ----------------------------------------------------
  // TPC-H Q17 shape: a correlated "below 20% of this part's average
  // quantity" predicate, decorrelated into a per-part aggregate joined back
  // to the fact table. The aggregate side is |parts|-proportional but
  // 3-columns narrow, and both it and the probe hash on l_partkey, so the
  // join reuses one key shuffle; AQE broadcasts the agg side only while it
  // fits. The 0.2·avg threshold is the integer cross-multiplication
  // 5·qty·cnt < sum (cnt > 0 always), so no float division ever happens —
  // the final report is |brands| = 25 rows.
  // r18 measured rejection (SCALING.md): a single-pass lowering — one
  // aggregation collecting each part's (qty, price) rows (bounded state,
  // rows-per-part is an SF-constant ~30) + a HOF threshold fold — halves
  // the corpus scans and exchanges on paper, but collect_list forces
  // ObjectHashAggregate (no codegen) plus a per-row struct allocation:
  // measured 4.6 → 5.6 s at sf10. The two-scan decorrelated form below
  // stays: both sides hash once on l_partkey, and map-side combine is
  // honest about this key (uniform-random partkeys ⇒ ~1 row per group
  // per partition, nothing to combine — the cost IS the exchange).
  // r18 follow-up (the q17Core lowering, same race): pack the per-part
  // stats to ONE BIGINT — sum_qc·2²⁰ | cnt — and materialize through
  // `Memo.atScale`, so the static planner broadcast-hashes the ~32 MB side
  // and the 60M-row fact stream never exchanges or sorts. Packing bound:
  // cnt < 2²⁰ lines per part (TPC-H holds ~30 at every SF) and
  // sum_qc ≤ 5000·cnt cents < 2⁴³ — exact integer compare throughout
  // (qc·5·cnt < sum_qc ⇔ qc·5·(packed & (2²⁰−1)) < packed >> 20).
  def qCorrSubquery(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val p = Tables.part(spark, d).select("p_partkey", "p_brand")
    val stats = Memo.atScale(spark, d, "qcorr_perpart_packed") {
      l.groupBy(col("l_partkey").as("s_partkey"))
        .agg((sum(cents(col("l_quantity"))) * lit(1L << 20) + count(lit(1))).as("packed"))
    }
    l.join(stats, l("l_partkey") === stats("s_partkey"))
      .filter(cents(col("l_quantity")) * col("packed").bitwiseAND(lit((1L << 20) - 1)) * lit(5L) <
        shiftright(col("packed"), 20))
      .join(p, l("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg((sum(cents(col("l_extendedprice"))) / 100.0).as("low_qty_revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("p_brand")
  }

  val qCorrSubquerySql: String =
    """WITH stats AS (
      | SELECT l_partkey AS s_partkey,
      |  sum(CAST(round(l_quantity*100) AS BIGINT)) AS sq, count(*) AS cq
      | FROM lineitem GROUP BY 1)
      |SELECT p_brand,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS low_qty_revenue,
      | count(*) AS n_rows
      |FROM lineitem
      |JOIN stats ON l_partkey = s_partkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE CAST(round(l_quantity*100) AS BIGINT) * cq * 5 < sq
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_count_distribution -----------------------------------------------
  // TPC-H Q13 shape: how many customers placed 0, 1, 2, … orders. The
  // textbook formulation (oracle) left-joins raw orders to customer and
  // counts after the join; here orders pre-aggregate per custkey FIRST
  // (map-side combinable), so the join input is |custkeys| narrow rows,
  // never raw orders — at 100 TB the orders table collapses before any
  // join. Zero-order customers enter via the left join + coalesce. The
  // final distribution groupBy is report-sized (≤ max order count keys).
  def qCountDistribution(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d).select("c_custkey")
    val per = Tables.orders(spark, d)
      .filter(col("o_orderstatus") =!= "F")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    c.join(per, c("c_custkey") === per("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val qCountDistributionSql: String =
    """WITH per AS (
      | SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
      | FROM customer LEFT JOIN orders
      |   ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      | GROUP BY 1)
      |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM per GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --- q_incremental_agg --------------------------------------------------
  // Incremental materialized-view maintenance: the per-type summary state
  // (count, sum, min, max in exact cents) is computed separately over the
  // history (ts < split) and the new day (ts >= split), then MERGED by key
  // — count/sum add, min/max fold, absent-side keys coalesce through a
  // full-outer join. Because every component is associative, the merged
  // state is bit-identical to a full recompute (the oracle aggregates all
  // events directly — that IS the law being verified). At 100 TB this is
  // the pattern that updates a dashboard from one day's delta without
  // re-touching history: both states are |types|-sized, the merge is free.
  private val IncSplit = "2024-01-16 00:00:00"

  def qIncrementalAgg(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d).select("event_type", "ts", "value")
    def state(df: DataFrame, tag: String): DataFrame =
      df.groupBy(col("event_type").as(s"et_$tag"))
        .agg(count(lit(1)).as(s"cnt_$tag"), sum(cents(col("value"))).as(s"sc_$tag"),
          min(cents(col("value"))).as(s"mn_$tag"), max(cents(col("value"))).as(s"mx_$tag"))
    val old = state(e.filter(col("ts") < ts(IncSplit)), "o")
    val neu = state(e.filter(col("ts") >= ts(IncSplit)), "n")
    old.join(neu, col("et_o") === col("et_n"), "full_outer")
      .select(
        coalesce(col("et_o"), col("et_n")).as("event_type"),
        (coalesce(col("cnt_o"), lit(0L)) + coalesce(col("cnt_n"), lit(0L))).as("n_events"),
        ((coalesce(col("sc_o"), lit(0L)) + coalesce(col("sc_n"), lit(0L))) / 100.0).as("total_value"),
        (least(coalesce(col("mn_o"), col("mn_n")), coalesce(col("mn_n"), col("mn_o"))) / 100.0).as("min_value"),
        (greatest(coalesce(col("mx_o"), col("mx_n")), coalesce(col("mx_n"), col("mx_o"))) / 100.0).as("max_value"))
      .orderBy("event_type")
  }

  val qIncrementalAggSql: String =
    """SELECT event_type,
      | CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS total_value,
      | CAST(min(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS min_value,
      | CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS max_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_merge_upsert -------------------------------------------------------
  // The MERGE INTO row-level shape (Delta/Iceberg upsert core): a base
  // snapshot (per-user latest state before the split) merged with a delta
  // batch (latest state from the new day), each row labeled with the
  // action MERGE would take — update (matched), insert (delta-only), keep
  // (base-only, i.e. WHEN NOT MATCHED BY SOURCE). Distinct from
  // q_latest_by_key (single-table compaction) and q_incremental_agg
  // (associative aggregate merge): this is the non-associative row-level
  // state merge where the delta WINS, the primitive behind every CDC sink.
  // Scale shape: both sides collapse to one record per key via the
  // map-side-combinable struct-max BEFORE the merge, so the full-outer
  // join sees |keys| rows per side (never raw events) and hashes both on
  // the same key — one co-partitioned exchange pair, AQE-planned.
  // Integer-cents state; the (ts, event_id) struct prefix is a unique
  // total order so the winner never depends on the payload.
  /** Events-shaped DataFrame variant for library callers (and the synthetic
    * spec: the driver corpus has every user active on both sides of the
    * split, so insert/keep only arise on caller data). */
  def mergeUpsertFrom(ev: DataFrame, splitTs: String): DataFrame = {
    def latest(df: DataFrame): DataFrame = df
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), cents(col("value")).as("vc")).as("r"))
      .groupBy("user_id").agg(max(col("r")).as("r"))
      .select(col("user_id"), col("r.vc").as("c"))
    val base = latest(ev.filter(col("ts") < ts(splitTs)))
      .select(col("user_id"), col("c").as("base_cents"))
    val delta = latest(ev.filter(col("ts") >= ts(splitTs)))
      .select(col("user_id"), col("c").as("delta_cents"))
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("base_cents"), col("delta_cents"),
        coalesce(col("delta_cents"), col("base_cents")).as("merged_cents"),
        when(col("base_cents").isNotNull && col("delta_cents").isNotNull, "update")
          .when(col("delta_cents").isNotNull, "insert")
          .otherwise("keep").as("action"))
      .orderBy("user_id")
  }

  def qMergeUpsert(spark: SparkSession, d: String): DataFrame =
    mergeUpsertFrom(Tables.events(spark, d), IncSplit)

  val qMergeUpsertSql: String =
    s"""WITH e AS (SELECT user_id, ts, event_id,
       |    CAST(round(value*100) AS BIGINT) AS c FROM events),
       |b AS (SELECT user_id, c FROM (
       |    SELECT user_id, c, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM e WHERE ts < TIMESTAMP '$IncSplit') WHERE rn = 1),
       |d AS (SELECT user_id, c FROM (
       |    SELECT user_id, c, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM e WHERE ts >= TIMESTAMP '$IncSplit') WHERE rn = 1)
       |SELECT COALESCE(b.user_id, d.user_id) AS user_id,
       |  b.c AS base_cents, d.c AS delta_cents,
       |  COALESCE(d.c, b.c) AS merged_cents,
       |  CASE WHEN b.user_id IS NOT NULL AND d.user_id IS NOT NULL THEN 'update'
       |       WHEN d.user_id IS NOT NULL THEN 'insert'
       |       ELSE 'keep' END AS action
       |FROM b FULL OUTER JOIN d ON b.user_id = d.user_id
       |ORDER BY user_id""".stripMargin

  // --- q_markov_transitions -----------------------------------------------
  // First-order Markov transition matrix over per-user event streams: for
  // every (prev_type → next_type) pair, the transition count and empirical
  // probability — the behavioral model a recommender or anomaly detector
  // estimates from clickstreams. ONE corpus pass: a lag window hashed on
  // user_id produces adjacent pairs inside each user's (ts, event_id)
  // total order, then a ≤|types|²-key combinable groupBy; the probability
  // divides n by the per-prev total via a window over the REPORT-sized
  // pair table — both engines divide the identical exact integers, so the
  // doubles match bit-for-bit.
  def qMarkovTransitions(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // r19: ride the eventsByUser memo above the size gate (same family as
    // q_attribution — r8 family-build contract): the memo is already
    // hash-partitioned on user_id, so the per-user lag window starts at
    // the sort — no events scan, no exchange. Below the gate: raw scan.
    eventsSlim(spark, d).select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")))
      .orderBy("prev_type", "next_type")
  }

  val qMarkovTransitionsSql: String =
    """WITH seq AS (
      | SELECT event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      | FROM events),
      |pairs AS (
      | SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      | FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      | CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p
      |FROM pairs ORDER BY 1, 2""".stripMargin

  // --- q_exists_subquery --------------------------------------------------
  // TPC-H Q4 shape: orders with at least one lineitem shipped more than 60
  // days after the order date, counted per priority. The textbook EXISTS
  // correlated subquery (the oracle keeps it) decorrelates into a per-order
  // aggregate: EXISTS(l_shipdate > o_orderdate + 60d) ⇔ max(l_shipdate) >
  // o_orderdate + 60d — so the join probe side shrinks from raw lineitem to
  // |orderkeys| narrow (key, max_date) rows built by one map-side-combinable
  // groupBy, and both sides hash on the SAME key (one shuffle each, reused
  // by the join). At 100 TB the EXISTS form would re-scan lineitem per
  // probe strategy; this form is two scans + one key-partitioned join.
  private val ExistsLagDays = 60

  def qExistsSubquery(spark: SparkSession, d: String): DataFrame = {
    // r18 (the q12 race, same class): both sides are |orders|-sized, so
    // the planner's SMJ sorted 15M + 15M rows; shuffle_hash keeps the
    // same exchanges sort-free, with the 2-col aggregate as build side.
    // The aggregate's own exchange already satisfies the join
    // distribution on the key, so only orders re-partitions.
    val lmax = shuffleHashWhenBig(Tables.lineitem(spark, d)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("max_ship")))
    Tables.orders(spark, d)
      .join(lmax, col("o_orderkey") === col("l_orderkey"))
      .where(col("max_ship") > col("o_orderdate") + expr(s"INTERVAL $ExistsLagDays DAY"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val qExistsSubquerySql: String =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
       |FROM orders o
       |WHERE EXISTS (SELECT 1 FROM lineitem l
       |              WHERE l.l_orderkey = o.o_orderkey
       |                AND l.l_shipdate > o.o_orderdate + INTERVAL $ExistsLagDays DAY)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_having -------------------------------------------------------------
  // TPC-H Q18 shape (large-volume customers): per-customer lifetime order
  // value with a HAVING cut, joined back to the customer dimension for the
  // name. The aggregate runs FIRST (map-side-combinable cents sum over
  // |custkeys| keys), so the join input is the post-HAVING survivor set —
  // at 100 TB the join sees the ~top-percentile customers, never raw
  // orders; AQE broadcasts the survivor side from its observed size.
  private val HavingCents = 400000000L // $4M lifetime

  def qHaving(spark: SparkSession, d: String): DataFrame = {
    val big = Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("tc"), count(lit(1)).as("n_orders"))
      .where(col("tc") > HavingCents)
    Tables.customer(spark, d)
      .join(big, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"),
        (col("tc") / 100.0).as("total_price"))
      .orderBy("c_custkey")
  }

  val qHavingSql: String =
    s"""WITH t AS (
       | SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS tc,
       |  CAST(count(*) AS BIGINT) AS n_orders
       | FROM orders GROUP BY 1 HAVING tc > $HavingCents)
       |SELECT c_custkey, c_name, n_orders, tc/100.0 AS total_price
       |FROM customer JOIN t ON c_custkey = o_custkey
       |ORDER BY c_custkey""".stripMargin

  // --- q_scalar_subquery ----------------------------------------------------
  // TPC-H Q22 shape (churn candidates): customers whose balance is above
  // the positive-balance average but who placed no order since a cutoff,
  // grouped by segment. The scalar subquery is a 1-row global aggregate —
  // cross-joined in (AQE broadcasts a 1-row relation for free), and the
  // above-average predicate is the integer cross-multiply cents·n > sum
  // (no division, so no float threshold to disagree on). The anti side
  // pre-aggregates orders to |custkeys-with-recent-orders| DISTINCT keys
  // map-side before the left_anti join — raw orders never reach the join.
  private val ChurnCutoff = "2000-01-01"

  def qScalarSubquery(spark: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("bc"))
    val avg1 = cust.where(col("bc") > 0)
      .agg(sum(col("bc")).as("sc"), count(lit(1)).as("nc"))
    val active = Tables.orders(spark, d)
      .where(col("o_orderdate") >= ts(ChurnCutoff))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(avg1)
      .where(col("bc") * col("nc") > col("sc"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), (sum(col("bc")) / 100.0).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val qScalarSubquerySql: String =
    s"""WITH s AS (
       | SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sc,
       |  CAST(count(*) AS BIGINT) AS nc
       | FROM customer WHERE round(c_acctbal*100) > 0)
       |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0 AS total_bal
       |FROM customer, s
       |WHERE CAST(round(c_acctbal*100) AS BIGINT)*nc > sc
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = c_custkey
       |                    AND o.o_orderdate >= TIMESTAMP '$ChurnCutoff')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_interval_coverage --------------------------------------------------
  // Interval-union coverage: treating each event as a 10-minute interval,
  // the total wall-clock each type was "active" — the utilization number
  // behind SLA and on-call dashboards, and the classic merge-overlapping-
  // intervals problem done as one sweep instead of a self-join.
  // LAG-1 reduction: because every
  // interval has the SAME length L, the running max of interval ends over
  // the (t, event_id) order is simply lag(t) + L — so the whole sweep
  // collapses to consecutive-pair arithmetic: covered = Σ min(gap, L) + L
  // per type (a within-segment gap ≤ L contributes itself, a
  // segment-opening gap > L contributes the finished segment's trailing
  // L), and n_segments = 1 + #(gaps > L). The lag decomposes over
  // (event_type, time-bucket) groups with a census handoff (each bucket's
  // first row takes its predecessor from the previous non-empty bucket's
  // max(t), the width-1 case of RangeBuckets.lags), so no per-type corpus window
  // remains; everything after is one combinable groupBy. All integer
  // epoch-millis, one final division. The bucketed stream is checkpointed
  // before the lag window (census + window both read it), with no
  // repartition: the window's own exchange partitions it.
  def qIntervalCoverage(spark: SparkSession, d: String): DataFrame = {
    val L = ConcWindowSec * 1000L
    val ev = Tables.events(spark, d)
      .select(col("event_type"), unix_millis(col("ts")).as("t"), col("event_id"))
    val rows = RangeBuckets.assign(ev, "event_type", "t").localCheckpoint(false)
    val lw = Window.partitionBy("event_type", "b").orderBy("t", "event_id")
    val census = rows.groupBy("event_type", "b").agg(max(col("t")).as("lt"))
    val hand = census
      .withColumn("cpt", lag(col("lt"), 1).over(
        Window.partitionBy("event_type").orderBy("b")))
      .select("event_type", "b", "cpt")
    rows
      .withColumn("pt", lag(col("t"), 1).over(lw))
      .join(hand, Seq("event_type", "b"))
      .withColumn("prev", coalesce(col("pt"), col("cpt")))
      .withColumn("gap", col("t") - col("prev"))
      .groupBy(col("event_type"))
      .agg((lit(1L) + sum(when(col("gap") > L, 1L).otherwise(0L))).as("n_segments"),
        ((sum(when(col("prev").isNotNull, least(col("gap"), lit(L))).otherwise(0L))
          + L) / 1000.0).as("covered_sec"))
      .orderBy("event_type")
  }

  val qIntervalCoverageSql: String =
    s"""WITH m AS (SELECT event_type, epoch_ms(ts) AS t,
       |  epoch_ms(ts) + ${ConcWindowSec * 1000} AS e, event_id FROM events),
       |x AS (SELECT event_type, t, e, event_id,
       |  max(e) OVER (PARTITION BY event_type ORDER BY t, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM m),
       |y AS (SELECT event_type, t, e, event_id,
       |  CASE WHEN pe IS NULL OR t > pe THEN 1 ELSE 0 END AS ns FROM x),
       |z AS (SELECT event_type, t, e,
       |  sum(ns) OVER (PARTITION BY event_type ORDER BY t, event_id
       |                ROWS UNBOUNDED PRECEDING) AS seg FROM y),
       |g AS (SELECT event_type, seg, max(e) - min(t) AS len FROM z GROUP BY 1, 2)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_segments,
       | CAST(sum(len) AS BIGINT)/1000.0 AS covered_sec
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_calendar_fill ------------------------------------------------------
  // Dense-calendar gap filling: per-type DAILY counts of high-value events
  // (value > 330, ~p99.9 — sparse by construction) on a COMPLETE (type ×
  // day) grid with explicit zeros — the reporting primitive that turns a
  // sparse aggregate into a plot-ready series (a missing day must render
  // as 0, not be absent). The grid derives from the data: one 2-row-ish
  // global extent aggregate + |types| distinct, sequence()-exploded to
  // |types|·|days| rows — report-sized regardless of corpus size; the
  // sparse counts left-join onto it. Counts are map-side combinable; the
  // grid join is AQE-broadcast from observed size.
  private val CalendarMinValue = 330.0

  def qCalendarFill(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val span = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(span)
      .select(col("event_type"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val counts = ev.where(col("value") > CalendarMinValue)
      .groupBy(col("event_type").as("ct"), to_date(col("ts")).as("cd"))
      .agg(count(lit(1)).as("cn"))
    grid.join(counts, col("event_type") === col("ct") && col("day") === col("cd"), "left")
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        coalesce(col("cn"), lit(0L)).as("n"))
      .orderBy("event_type", "day_s")
  }

  val qCalendarFillSql: String =
    s"""WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
       |grid AS (SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
       |         FROM (SELECT DISTINCT event_type FROM events), span),
       |c AS (SELECT event_type AS ct, CAST(ts AS DATE) AS cd, CAST(count(*) AS BIGINT) AS cn
       |      FROM events WHERE value > $CalendarMinValue GROUP BY 1, 2)
       |SELECT event_type, strftime(CAST(day AS DATE), '%Y-%m-%d') AS day_s,
       | coalesce(cn, 0) AS n
       |FROM grid LEFT JOIN c ON event_type = ct AND CAST(day AS DATE) = cd
       |ORDER BY 1, 2""".stripMargin

  // --- q_multi_exists -------------------------------------------------------
  // TPC-H Q21 shape (waiting suppliers): suppliers who were the SOLE
  // late-shipping supplier on a multi-supplier order. The textbook form is
  // one EXISTS plus one NOT EXISTS, both correlated on the order key (the
  // oracle keeps it); here both decorrelate into ONE per-order aggregate —
  // n_supp > 1 ⇔ EXISTS another supplier, n_late = 1 ⇔ NOT EXISTS another
  // late one. Everything hashes on l_orderkey: lineitem collapses to
  // (order, supplier, max_ship) map-side first, so each order contributes
  // |suppliers-on-order| rows, and the per-order stats join back against
  // the same partitioning (one exchange reused). Semantics count each
  // (supplier, order) pair once — both engines deduplicate. The orders
  // side is PINNED shuffle_hash (r16, the q9/q7 class): its 2-column
  // projection slips under AQE's broadcast estimate as SF grows, and a
  // corpus-proportional side must never broadcast — it cannot at 100 TB,
  // and the driver-side single-threaded relation build is the term that
  // made q9 superlinear in the r15 sf10 probe.
  private val WaitLagDays = 90

  def qMultiExists(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d).select(col("o_orderkey"), col("o_orderdate"))
    // r18 one-exchange lowering (guide §2.4): the natural groupBy(ok, sk)
    // hashes the fact side on BOTH keys, then the orders join re-hashes its
    // output on ok — two corpus exchanges for one pass, and the (ok, sk)
    // partial aggregation collapses almost nothing (TPC-H lineitem has
    // ~1 line per (order, supplier)). Hashing on ok ALONE up front satisfies
    // every downstream clustering — groupBy(ok, sk) (subset rule), the
    // orders join, and the per-order aggregate — so the fact side crosses
    // the wire exactly once.
    val perOs = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
      .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (col("max_ship") > col("o_orderdate") + expr(s"INTERVAL $WaitLagDays DAY")).cast("long"))
    // The qualifying orders have EXACTLY ONE late supplier (n_late = 1), so
    // the waiting supplier per order is max(late suppkey) inside the SAME
    // per-order aggregate — no second reference to perOs, no self-join
    // (r9's shape computed perOs twice and re-joined it on the order key;
    // this is one extra column in an aggregate the plan already pays for).
    perOs.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1, col("l_suppkey"))).as("wait_sk"))
      .where(col("n_supp") > 1 && col("n_late") === 1)
      .join(Tables.supplier(spark, d), col("wait_sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
  }

  val qMultiExistsSql: String =
    s"""WITH q AS (
       | SELECT DISTINCT s_name, l1.l_suppkey, l1.l_orderkey
       | FROM supplier, lineitem l1, orders
       | WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
       |  AND l1.l_shipdate > o_orderdate + INTERVAL $WaitLagDays DAY
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
       |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |                    AND o3.o_orderkey = l3.l_orderkey
       |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL $WaitLagDays DAY))
       |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       |FROM q GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin

  // --- q_cumulative_users ---------------------------------------------------
  // Cumulative user-acquisition curve: per day, the active users, the NEW
  // users (first-ever appearance), and the running total of users acquired
  // — the growth chart behind every "total users" dashboard. Per-user
  // first day is a map-side-combinable min; both counts collapse to a
  // ≤|days| report table; the running sum is a window over THAT report
  // (deliberately partition-less — it spans ≤|days| rows by construction,
  // never raw events). Integer-only output.
  def qCumulativeUsers(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val news = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val active = ev.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(news, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("n_active"), col("n_new"), col("cum_users"))
      .orderBy("day_s")
  }

  val qCumulativeUsersSql: String =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
      |nw AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1),
      |a AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active
      |      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events) GROUP BY 1)
      |SELECT strftime(a.day, '%Y-%m-%d') AS day_s, n_active,
      | CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
      | CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM a LEFT JOIN nw ON a.day = nw.day
      |ORDER BY day_s""".stripMargin

  // --- q_runs ---------------------------------------------------------------
  // SCD2 run-length versioning (gaps-and-islands): collapse each user's
  // consecutive same-type events into versioned validity intervals
  // [valid_from, valid_to) — the slowly-changing-dimension construction
  // every warehouse keeps for "what was this entity's state at time T?".
  // A change flag (lag ≠ current) + running sum numbers the runs inside
  // one user-partitioned window pass; runs collapse in a combinable
  // groupBy; valid_to = the NEXT run's start via a lead over the RUN
  // table (already 10× smaller than events here, and bounded by change
  // frequency at scale). NULL valid_to marks the open current version.
  def qRuns(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val prev = lag(col("event_type"), 1).over(w)
    // r19: eventsSlim — memo above the size gate, raw scan below it
    val runs = eventsSlim(spark, d)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("chg", when(prev.isNull || prev =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(max(col("event_type")).as("event_type"), min(col("ts")).as("vf"),
        count(lit(1)).as("n_events"))
    val wr = Window.partitionBy("user_id").orderBy("run_id")
    runs
      .withColumn("vt", lead(col("vf"), 1).over(wr))
      .select(col("user_id"), col("run_id"), col("event_type"),
        date_format(col("vf"), "yyyy-MM-dd HH:mm:ss").as("valid_from_s"),
        date_format(col("vt"), "yyyy-MM-dd HH:mm:ss").as("valid_to_s"),
        col("n_events"))
      .orderBy("user_id", "run_id")
  }

  val qRunsSql: String =
    """WITH m AS (SELECT user_id, ts, event_id, event_type,
      |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
      |       THEN 1 ELSE 0 END AS chg
      | FROM events),
      |r AS (SELECT user_id, ts, event_type,
      |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS run_id FROM m),
      |g AS (SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
      |  max(event_type) AS event_type, min(ts) AS vf,
      |  CAST(count(*) AS BIGINT) AS n_events FROM r GROUP BY 1, 2)
      |SELECT user_id, run_id, event_type,
      | strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
      | strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY run_id),
      |          '%Y-%m-%d %H:%M:%S') AS valid_to_s,
      | n_events
      |FROM g ORDER BY user_id, run_id""".stripMargin

  // --- q_column_stats -------------------------------------------------------
  // ANALYZE-TABLE column statistics: per column of events — row count,
  // null count, exact NDV, and min/max (stringified; value through the
  // cents lattice so no float formatting) — the stats table a cost-based
  // optimizer and a data-quality monitor both feed from. One UNION branch
  // per column: each branch scans ONLY its column (parquet pruning) and
  // carries a single distinct aggregate, which Spark plans as a two-phase
  // partial-distinct aggregate — NO Expand. (The r8 formulation packed all
  // five exact NDVs into one aggregate, which forced the
  // RewriteDistinctAggregates Expand: every corpus row replicated 6× before
  // the partial aggregate, and the scan read all five columns for every
  // branch's benefit. It was documented as "the cost of exactness" — it
  // wasn't: the union form is equally exact at 1× rows per column, and the
  // r9 bench dropped 1.9s → ~0.5s. Branches share nothing, so their stages
  // run concurrently inside one job; at 100 TB this is the column-parallel
  // sweep ANALYZE actually performs.)
  def qColumnStats(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    def stat(nm: String, c: Column): DataFrame =
      ev.select(c.as("x")).agg(
        count(lit(1)).as("n_rows"), count(col("x")).as("nn"),
        countDistinct(col("x")).as("ndv"),
        min(col("x")).cast("string").as("min_s"),
        max(col("x")).cast("string").as("max_s"))
        .select(lit(nm).as("col_name"), col("n_rows"),
          (col("n_rows") - col("nn")).as("n_nulls"),
          col("ndv"), col("min_s"), col("max_s"))
    stat("event_id", col("event_id"))
      .union(stat("user_id", col("user_id")))
      .union(stat("event_type", col("event_type")))
      .union(stat("value_cents", cents(col("value"))))
      .union(stat("props", col("props")))
      .orderBy("col_name")
  }

  val qColumnStatsSql: String = {
    def one(nm: String, c: String) =
      s"""SELECT '$nm' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         | CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         | CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
         |FROM events""".stripMargin
    Seq(one("event_id", "event_id"), one("user_id", "user_id"),
      one("event_type", "event_type"),
      one("value_cents", "CAST(round(value*100) AS BIGINT)"),
      one("props", "props")).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // --- q_heavy_hitters ------------------------------------------------------
  // Traffic-concentration screen: users contributing more than 0.75% of
  // all events — the skew detector run before choosing a partitioning key
  // (the q_salted_agg/q_skew_join mitigations exist precisely for the keys
  // this query surfaces). Exact two-aggregate form: per-user counts
  // (map-side combinable) against a 1-row total, thresholded by the
  // integer cross-multiply n·10000 > total·75 — no float threshold. The
  // share column divides the identical exact integers. At 100 TB the same
  // shape holds: |users| keys, 1 scalar, report-sized output.
  private val HeavyBp = 75L // threshold in basis points (0.75%)

  def qHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val tot = ev.agg(count(lit(1)).as("total"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .crossJoin(tot)
      .where(col("n") * 10000L > col("total") * HeavyBp)
      .select(col("user_id"), col("n"),
        ((col("n") * 10000L).cast("double") / col("total").cast("double")).as("share_bp"))
      .orderBy(desc("n"), asc("user_id"))
  }

  val qHeavyHittersSql: String =
    s"""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
       |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1)
       |SELECT user_id, n,
       | CAST(n * 10000 AS DOUBLE) / CAST(total AS DOUBLE) AS share_bp
       |FROM u, t WHERE n * 10000 > total * $HeavyBp
       |ORDER BY n DESC, user_id""".stripMargin

  // --- q_activity_bitmap ----------------------------------------------------
  // Bitmap-index aggregation — the roaring-bitmap pattern that backs
  // count-distinct acceleration in warehouse engines, as pure integer
  // state: per (user, day), a 24-bit hour-of-activity mask built by
  // bit_or(1 << hour). bit_or is associative/commutative/idempotent, so
  // the mask is an exact map-side-combinable aggregate (the same merge
  // law the sketches exploit) — at 100 TB the shuffle carries one long
  // per user-day, not the events. The report then groups the user-day
  // table by popcount(mask): how many user-days were active exactly h
  // hours, how many distinct hour-patterns produced each h (≤ C(24,h)),
  // and the total events covered. ≤ 24 output rows. Hour/day derive from
  // the epoch-second quotient in both engines (never calendar functions,
  // the Layout/Selection idiom).
  def qActivityBitmap(spark: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(spark, d)
      .select(col("user_id"),
        expr("cast(ts as long) div 86400").as("day"),
        expr("(cast(ts as long) div 3600) % 24").as("hr"))
      .groupBy("user_id", "day")
      .agg(expr("bit_or(shiftleft(1L, cast(hr as int)))").as("mask"),
        count(lit(1)).as("n_events"))
    ud.groupBy(bit_count(col("mask")).cast("long").as("n_hours_active"))
      .agg(count(lit(1)).as("n_user_days"),
        countDistinct(col("mask")).as("n_distinct_masks"),
        sum("n_events").as("n_events"))
      .orderBy("n_hours_active")
  }

  val qActivityBitmapSql: String =
    s"""WITH ud AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       |         bit_or(1::BIGINT << CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT)) AS mask,
       |         CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST(bit_count(mask) AS BIGINT) AS n_hours_active,
       |  CAST(count(*) AS BIGINT) AS n_user_days,
       |  CAST(count(DISTINCT mask) AS BIGINT) AS n_distinct_masks,
       |  CAST(sum(n_events) AS BIGINT) AS n_events
       |FROM ud GROUP BY 1 ORDER BY n_hours_active""".stripMargin

  // --- q_bitmap_intersect -----------------------------------------------------
  // The bitmap-index JOIN pattern (q_activity_bitmap's second half): "in
  // how many hours-of-day was the same user active on BOTH event types"
  // answered by ANDing two per-user hour masks — the roaring-bitmap
  // intersection that replaces a per-hour self-join in warehouse engines.
  // Per user, two 24-bit masks build in ONE map-side-combinable groupBy
  // (bit_or over conditional 1<<hr terms — associative, commutative,
  // idempotent, exactly the mergeable-sketch law), the intersection is a
  // single integer AND, and the report groups the ≤|users| mask table by
  // popcount onto ≤25 keys. Pure integer state end to end; hour derives
  // from the epoch-second quotient in both engines (the bitmap/Layout
  // idiom, never calendar functions).
  private val BitmapTypeA = "view"
  private val BitmapTypeB = "purchase"

  def qBitmapIntersect(spark: SparkSession, d: String): DataFrame =
    qBitmapIntersectFrom(Tables.events(spark, d))

  /** DataFrame-in core for [[qBitmapIntersect]] (events needs user_id,
    * event_type, ts) — exposed for the randomized mask-recompute spec. */
  def qBitmapIntersectFrom(events: DataFrame): DataFrame = {
    val masks = events
      .filter(col("event_type").isin(BitmapTypeA, BitmapTypeB))
      .select(col("user_id"), col("event_type"),
        expr("(cast(ts as long) div 3600) % 24").as("hr"))
      .groupBy("user_id")
      .agg(
        expr(s"bit_or(CASE WHEN event_type = '$BitmapTypeA' " +
          "THEN shiftleft(1L, cast(hr as int)) ELSE 0L END)").as("ma"),
        expr(s"bit_or(CASE WHEN event_type = '$BitmapTypeB' " +
          "THEN shiftleft(1L, cast(hr as int)) ELSE 0L END)").as("mb"))
    masks
      .groupBy(bit_count(col("ma").bitwiseAND(col("mb"))).cast("long")
        .as("n_hours_both"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("ma").bitwiseAND(col("mb")) =!= 0L, 1L).otherwise(0L))
          .as("n_users_overlapping"))
      .orderBy("n_hours_both")
  }

  val qBitmapIntersectSql: String =
    s"""WITH m AS (
       | SELECT user_id,
       |  bit_or(CASE WHEN event_type = '$BitmapTypeA'
       |    THEN 1::BIGINT << CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT)
       |    ELSE 0::BIGINT END) AS ma,
       |  bit_or(CASE WHEN event_type = '$BitmapTypeB'
       |    THEN 1::BIGINT << CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT)
       |    ELSE 0::BIGINT END) AS mb
       | FROM events WHERE event_type IN ('$BitmapTypeA', '$BitmapTypeB')
       | GROUP BY 1)
       |SELECT CAST(bit_count(ma & mb) AS BIGINT) AS n_hours_both,
       | CAST(count(*) AS BIGINT) AS n_users,
       | CAST(sum(CASE WHEN (ma & mb) <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_overlapping
       |FROM m GROUP BY 1 ORDER BY n_hours_both""".stripMargin

  // --- q7_nation_volume -----------------------------------------------------
  // TPC-H Q7 shape: bilateral trade volume by (supplier nation, customer
  // nation, ship year). Unlike q5's co-located star (c_nationkey =
  // s_nationkey collapses to one nation), Q7 keeps BOTH nation dimensions
  // and reports the asymmetric pair matrix. Scale shape: lineitem (the
  // 100 TB fact) joins orders on its own key — the one genuinely large
  // shuffle, PINNED shuffle_hash (r15 crossover probe, the q9 finding:
  // orders' 2-column projection slips under the 64 MB broadcast estimate
  // at sf10 and the driver then builds a 15M-row broadcast relation
  // single-threaded — and at 100 TB orders can never be broadcast);
  // supplier/customer are SF-proportional dims planned from observed
  // size (no hints — AQE broadcasts while they fit); the cross-nation filter
  // (c_nationkey != s_nationkey) runs on the integer KEYS at the customer
  // join, before any name lookup, so excluded rows never reach the final
  // joins. The two 25-row nation NAME lookups join AFTER the aggregation
  // (SCALING.md): the per-fact-row path probes only
  // supplier/orders/customer, and names attach to the ≤25·25·years result
  // rows — two fewer hash probes per fact row, and the partial agg keys
  // are 3 integers instead of 2 strings + 1 integer. Money in integer
  // cents (q5 idiom): one IEEE division at the end.
  def q7NationVolume(spark: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(spark, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val s = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(spark, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_suppkey"),
      year(col("l_shipdate")).cast("long").as("l_year"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("vol"))
    l.join(s, l("l_suppkey") === s("s_suppkey"))
      .join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey") && c("c_nationkey") =!= s("s_nationkey"))
      .groupBy("s_nationkey", "c_nationkey", "l_year")
      .agg(sum(col("vol")).as("volc"))
      .join(n1, col("s_nationkey") === n1("s_nk"))
      .join(n2, col("c_nationkey") === n2("c_nk"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        (col("volc") / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | CAST(year(l_shipdate) AS BIGINT) AS l_year,
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey <> s_nationkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --- q_overlap_matrix -----------------------------------------------------
  // Exact pairwise audience overlap between event types — the EXACT
  // counterpart of sketch_jaccard's theta estimate, over the same user-day
  // activity sets (bare user sets degenerate here: every type shares the
  // full user population). Naive formulation self-joins the corpus-sized
  // (type, user-day) relation — the oracle keeps it; the Spark plan instead
  // collapses the corpus ONCE onto user-day keys (map-side combinable —
  // collect_set over ≤|types| elements is bounded state, not corpus
  // state), then explodes each user-day's sorted type set into its
  // ordered pairs IN THE MAP (≤ C(T,2) = 10 structs per row, no join), so
  // the only post-corpus shuffle carries pair keys onto ≤ T² reducers.
  // Same-operand IEEE division for jaccard; everything else integer.
  def qOverlapMatrix(spark: SparkSession, d: String): DataFrame = {
    // r18 single-reduce lowering: the pair table and the per-type totals
    // used to be TWO consumers of the ud exchange, each re-running the
    // collect_set finalization (27 + 11.5 core-seconds on the
    // same 119 MB read). The explode now starts each inner slice AT the
    // element itself, so the diagonal (a, a) rides along as the per-type
    // day-set counter — one explode, one reduce, and the totals fall out
    // of the same 15-row result the pairs do (T(T+1)/2 structs per row
    // vs 10 + a second pass).
    val ud = Tables.events(spark, d)
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"), col("event_type"))
      .groupBy("user_id", "day")
      .agg(sort_array(collect_set("event_type")).as("types"))
    // The totals attach via two windows over the T(T+1)/2-row cell table
    // (each row's diagonal is in its type_a / type_b partition), keeping
    // ONE linear pipeline — a tot-side self-join would make cells a
    // multi-consumer aggregate, and those re-execute their whole subtree
    // per consumer (the r17 hll_intersection lesson, re-measured here:
    // two consumers re-ran the 43-core-second reduce twice).
    val cells = ud.select(explode(expr(
        "flatten(transform(types, (a, i) -> " +
          "transform(slice(types, i + 1, size(types) - i), b -> struct(a AS ta, b AS tb))))")).as("p"))
      .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val diag = when(col("type_a") === col("type_b"), col("n_both"))
    cells
      .withColumn("n_a", max(diag).over(Window.partitionBy("type_a")))
      .withColumn("n_b", max(diag).over(Window.partitionBy("type_b")))
      .filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (col("n_both").cast("double") / (col("n_a") + col("n_b") - col("n_both")).cast("double"))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val qOverlapMatrixSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, event_type
      |  FROM events),
      |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ud GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        CAST(count(*) AS BIGINT) AS n_both
      |      FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
      |        AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_both,
      |  CAST(n_both AS DOUBLE) / CAST(ta.n + tb.n - n_both AS DOUBLE) AS jaccard
      |FROM p JOIN tot ta ON type_a = ta.event_type JOIN tot tb ON type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // --- q_dau_mau ------------------------------------------------------------
  // DAU / MAU stickiness — the product-analytics engagement ratio. The
  // classic formulation (per-day COUNT DISTINCT over a trailing 30-day
  // window) re-scans 30 days of raw events per output day. r15 shipped an
  // inverted-contribution form (each user-day explodes to the 30
  // window-end days it falls inside, deduped per (user, window-end)) —
  // correct, but its 30×-user-day distinct was the query's whole cost and
  // the term that grew in the sf1→sf10 crossover. r16 (r15 verdict #3):
  // EXACT INTERVAL-UNION SWEEP, zero explode. Per user, active days merge
  // into coverage intervals (a gap > 29 days starts a new one; merged
  // intervals are provably disjoint, so no user double-counts); each
  // interval emits +1 at its start day and −1 the day after it ends; MAU
  // on any day is the running sum of those deltas. The sweep stream is
  // DAY-GRID-sized (corpus span + 30), so the one partition-less window
  // is a report over time, not data — audited in GlobalWindowAllowed.
  // Shuffle budget: |user-day| rows once for the per-user merge window
  // (unbounded user key domain — parallel), interval rows for the delta
  // aggregate, vs the old 30×|user-day| distinct exchange. dau/mau are
  // exact BIGINTs; stickiness is one final division. Probe rows (observed
  // DAU days) ride the sweep with net=0 and a tie-ordered tag so each
  // day's deltas apply before its probe reads the running sum.
  def qDauMau(spark: SparkSession, d: String): DataFrame =
    qDauMauFrom(Tables.events(spark, d))

  /** DataFrame-in core for [[qDauMau]] (events needs user_id, ts) —
    * exposed so the interval-union sweep is spec-pinned against the
    * direct 30-day-explode formulation on constructed activity patterns
    * (gaps of exactly 29/30 days, overlapping users, single-day users). */
  def qDauMauFrom(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val uw = Window.partitionBy("user_id").orderBy("day")
    val iv = ud
      .withColumn("pd", lag(col("day"), 1).over(uw))
      .withColumn("ns", when(col("pd").isNull ||
        col("day") > date_add(col("pd"), 29), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ns")).over(
        uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("s"), date_add(max(col("day")), 29).as("e"))
    val deltas = iv.select(col("s").as("day"), lit(1L).as("net"))
      .unionByName(iv.select(date_add(col("e"), 1).as("day"), lit(-1L).as("net")))
      .groupBy("day").agg(sum(col("net")).as("net"))
    val sweep = deltas
      .select(col("day"), col("net"), lit(0).as("tag"),
        lit(null).cast("long").as("dau"))
      .unionByName(dau.select(col("day"), lit(0L).as("net"),
        lit(1).as("tag"), col("dau")))
    val gw = Window.orderBy("day", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep
      .withColumn("mau", sum(col("net")).over(gw))
      .filter(col("tag") === 1)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
      .orderBy("day_s")
  }

  val qDauMauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
      |c AS (SELECT DISTINCT user_id,
      |  CAST(unnest(generate_series(day, day + 29, INTERVAL 1 DAY)) AS DATE) AS mday
      | FROM ud),
      |mau AS (SELECT mday, CAST(count(*) AS BIGINT) AS mau FROM c GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day_s, dau, mau,
      | CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS stickiness
      |FROM dau JOIN mau ON day = mday
      |ORDER BY day_s""".stripMargin

  // --- q_gini ---------------------------------------------------------------
  // Activity-concentration coefficient: Gini index of per-user event counts
  // within each event_type — the one-number answer to "is this traffic
  // dominated by a few accounts?" that sits between q_heavy_hitters (who)
  // and q_count_distribution (full histogram). Exact-integer form of the
  // rank formula G = (2·Σ rn·c − (n+1)·Σc) / (n·Σc): per-user counts are
  // map-side combinable, the rank window is partitioned per event_type over
  // the second-tier (type, user) table, and every sum is a BIGINT — Σ rn·c
  // is invariant under tie permutations (equal c values swap ranks without
  // changing the sum), so the result is deterministic. One final division
  // of two exact integers converts to the double coefficient.
  def qGini(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.events(spark, d)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("c", "user_id")
    c.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("rn") * col("c")).as("wsum"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        ((lit(2L) * col("wsum") - (col("n_users") + lit(1L)) * col("n_events")).cast("double") /
          (col("n_users") * col("n_events")).cast("double")).as("gini"))
      .orderBy("event_type")
  }

  val qGiniSql: String =
    """WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      | FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, c,
      |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY c, user_id) AS BIGINT) AS rn
      | FROM c),
      |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(c) AS BIGINT) AS n_events, CAST(sum(rn*c) AS BIGINT) AS wsum
      | FROM r GROUP BY 1)
      |SELECT event_type, n_users, n_events,
      | CAST(2*wsum - (n_users+1)*n_events AS DOUBLE)
      |   / CAST(n_users*n_events AS DOUBLE) AS gini
      |FROM g ORDER BY event_type""".stripMargin

  // --- q_rfm ----------------------------------------------------------------
  // RFM (recency / frequency / monetary) segmentation — the classic
  // customer-base cut, built scale-first: the corpus-sized events table
  // feeds exactly ONE combinable groupBy (per-user aggregate); quintile
  // boundaries come from `discreteCuts`, which derives each discrete
  // rank-ceil(p·n) cut WITHOUT a global sort (bucket histogram → prefix sum
  // over the |buckets| report → row_number inside the ≤4 hit buckets only —
  // the select_token_budget decomposition applied to quantiles); score
  // assignment is then a pure map against twelve scalar cut values. The
  // oracle keeps the naive global-row_number form — the cut VALUE at rank k
  // is independent of how ties are broken, so both derivations agree.
  // Scores: cut_p = value at rank ceil(p·n/100); score = 1 + #{cuts < v};
  // recency inverts (recent = 5). Ties land in the lower class.
  private val RfmPs = Seq(20, 40, 60, 80)

  def qRfm(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    val mx = ev.agg(max(to_date(col("ts"))).as("mxd"))
    val u = ev.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("lts"), count(lit(1)).as("freq"),
        sum(cents(col("value"))).as("mon_cents"))
      .crossJoin(mx)
      .withColumn("rec_days", datediff(col("mxd"), col("lts")).cast("long"))
      .select("user_id", "rec_days", "freq", "mon_cents")
    // ONE (dim, v, bucket) triple-projection of the user table: the three
    // quantile derivations share one corpus pass and one user-table
    // shuffle, and every histogram / prefix / bucket-rank step below is
    // partitioned by dim (no single-partition window anywhere). Bucket
    // width 2^shift bounds |buckets| by the VALUE RANGE, not by |users|;
    // shiftright is an arithmetic shift, so negative values floor-divide
    // consistently and bucket order refines value order.
    val dims = Seq(("r", col("rec_days"), 3), ("f", col("freq"), 2), ("m", col("mon_cents"), 10))
    val b3 = u.select(explode(array(dims.map { case (dim, v, sh) =>
        struct(lit(dim).as("dim"), v.as("v"), shiftright(v, sh).as("bk"))
      }: _*)).as("x"))
      .select(col("x.dim").as("dim"), col("x.v").as("v"), col("x.bk").as("bk"))
    val hist = b3.groupBy("dim", "bk").agg(count(lit(1)).as("cnt"))
    val wb = Window.partitionBy("dim").orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wb))
      .withColumn("cum_prev", col("cum") - col("cnt"))
    // rank targets k_p = ceil(p·n/100), with n read off the histogram
    // itself (no extra corpus pass); 12 (dim, p, k) rows
    val targets = hist.groupBy("dim").agg(sum(col("cnt")).as("n"))
      .select(col("dim").as("tdim"), explode(array(RfmPs.map(p =>
        struct(lit(p.toLong).as("p"), expr(s"(n * $p + 99) div 100").as("k"))): _*)).as("t"))
      .select(col("tdim"), col("t.p").as("p"), col("t.k").as("k"))
    val hit = targets.join(cum, col("tdim") === col("dim"))
      .where(col("cum_prev") < col("k") && col("k") <= col("cum"))
      .select(col("dim").as("hdim"), col("p"), col("bk").as("hbk"),
        (col("k") - col("cum_prev")).as("off"))
    // rank within the ≤12 hit buckets only; the off-th smallest VALUE in a
    // bucket is tie-order-independent even though row_number is not
    val wv = Window.partitionBy("dim", "p").orderBy("v")
    val cutRows = b3.join(hit, col("dim") === col("hdim") && col("bk") === col("hbk"))
      .withColumn("rnb", row_number().over(wv).cast("long"))
      .where(col("rnb") === col("off"))
      .select(col("dim"), col("p"), col("v"))
    val aggs = for { (dim, _, _) <- dims; p <- RfmPs }
      yield max(when(col("dim") === dim && col("p") === p.toLong, col("v"))).as(s"$dim$p")
    val cuts = cutRows.agg(aggs.head, aggs.tail: _*)
    def sc(v: Column, pre: String): Column =
      lit(1L) + RfmPs.map(p => when(v > col(s"$pre$p"), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    u.crossJoin(cuts)
      .withColumn("r_score", lit(6L) - sc(col("rec_days"), "r"))
      .withColumn("f_score", sc(col("freq"), "f"))
      .withColumn("m_score", sc(col("mon_cents"), "m"))
      .select(col("user_id"), col("rec_days"), col("freq"), col("mon_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy("user_id")
  }

  val qRfmSql: String = {
    val cutCases = Seq(("rec_days", "rr", "r"), ("freq", "rf", "f"), ("mon_cents", "rm", "m"))
      .flatMap { case (v, r, pre) =>
        RfmPs.map(p => s"  max(CASE WHEN $r = (n*$p+99)//100 THEN $v END) AS $pre$p")
      }.mkString(",\n")
    def sc(v: String, pre: String) =
      s"1 + ${RfmPs.map(p => s"(CASE WHEN $v > $pre$p THEN 1 ELSE 0 END)").mkString(" + ")}"
    s"""WITH mx AS (SELECT CAST(max(ts) AS DATE) AS mxd FROM events),
       |u AS (SELECT user_id,
       |  CAST(date_diff('day', CAST(max(ts) AS DATE), (SELECT mxd FROM mx)) AS BIGINT) AS rec_days,
       |  CAST(count(*) AS BIGINT) AS freq,
       |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS mon_cents
       | FROM events GROUP BY 1),
       |r AS (SELECT u.*, CAST(count(*) OVER () AS BIGINT) AS n,
       |  CAST(row_number() OVER (ORDER BY rec_days, user_id) AS BIGINT) AS rr,
       |  CAST(row_number() OVER (ORDER BY freq, user_id) AS BIGINT) AS rf,
       |  CAST(row_number() OVER (ORDER BY mon_cents, user_id) AS BIGINT) AS rm
       | FROM u),
       |c AS (SELECT
       |$cutCases
       | FROM r)
       |SELECT user_id, rec_days, freq, mon_cents,
       | CAST(6 - (${sc("rec_days", "r")}) AS BIGINT) AS r_score,
       | CAST(${sc("freq", "f")} AS BIGINT) AS f_score,
       | CAST(${sc("mon_cents", "m")} AS BIGINT) AS m_score,
       | CAST(CAST(6 - (${sc("rec_days", "r")}) AS BIGINT) AS VARCHAR)
       |   || CAST(CAST(${sc("freq", "f")} AS BIGINT) AS VARCHAR)
       |   || CAST(CAST(${sc("mon_cents", "m")} AS BIGINT) AS VARCHAR) AS segment
       |FROM u, c ORDER BY user_id""".stripMargin
  }

  // --- q_promo_share ------------------------------------------------------
  // TPC-H Q14 shape: promotion revenue share per ship month — the
  // conditional-aggregation ratio report ("what fraction of revenue came
  // from the promo line?"). The part side is a dimension (|parts| rows,
  // two columns after pruning) joined hint-free: AQE broadcasts it from
  // observed size; the fact scan prunes to 4 columns. Revenue stays in
  // the exact integer-cents lattice (cents × (100−disc_cents) is an
  // associative BIGINT sum at any partitioning); the share is ONE IEEE
  // division of identical exact operands per output row. Output is
  // |months| rows — the groupBy is fully map-side-combinable.
  def qPromoShare(spark: SparkSession, d: String): DataFrame = {
    // group on INTEGER (year, month) and format only the |months| output
    // rows (r16 sf10 triage): date_format is a per-row string build —
    // 60M timestamp→string formats at sf10 were a visible slice of the
    // 4.4s exec for a report whose grain is ~84 months; year()/month()
    // are integer field extractions that stay in codegen.
    // r17 (r16 verdict #4): the residual constant was the per-row probe of
    // every fact row against the FULL |parts| dimension hash. The verdict's
    // own suggestion — pre-aggregating to (partkey, year, month) first —
    // was measured and REJECTED: the key collapses only 1.19× on this data
    // (TPC-H-uniform ship dates spread each part across ~all months), so
    // it adds a near-corpus-sized shuffle to save 19% of probes. What DOES
    // shrink the work 6×: only the PROMO share needs the dimension at all.
    // The month total aggregates the bare fact scan (no join — l_partkey
    // is a foreign key into part by the table contract, which the oracle
    // below now states explicitly), and the promo side joins the
    // p_type='PROMO' sixth of the key list, probed by a 6×-smaller hash,
    // producing a 6×-smaller aggregate input. Two |months|-row tables
    // left-join at the end (zero-promo months coalesce to 0 exactly like
    // the old conditional sum).
    val l = Tables.lineitem(spark, d)
      .select(col("l_partkey"),
        year(col("l_shipdate")).as("sy"), month(col("l_shipdate")).as("sm"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev"))
    // FK guard (r17 advice): the join-free total is only equal to the old
    // joined total if every l_partkey resolves into part. That contract is
    // stated in the oracle comment, asserted on the test corpus by
    // AnalyticsSpec, and — for arbitrary corpora — checkable here: debug
    // mode fails loudly on an FK-violating corpus (e.g. a mis-offset
    // replication) instead of silently shifting promo_share_pct.
    if (spark.conf.get("spark.graft.debug.assertFk", "false").toBoolean) {
      val orphans = l.select("l_partkey")
        .join(Tables.part(spark, d).select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_anti").count()
      require(orphans == 0L,
        s"q_promo_share FK contract violated: $orphans lineitem rows have " +
          "l_partkey not present in part — the join-free total would " +
          "silently diverge from the joined formulation")
    }
    // r18: ONE scan with a conditional promo sum instead of two (total
    // from scan 1, promo slice from scan 2 + an aggregate join). The
    // PROMO sixth of the key list is memoized so the static planner
    // broadcast-hashes it (LEFT outer, BuildRight); the fact stream
    // flows through a single map-side-combinable (year, month) aggregate
    // carrying both sums. Zero-promo months fall out as exact 0 from the
    // `otherwise`, matching the old coalesce.
    val promoKeys = Memo.atScale(spark, d, "promo_partkeys") {
      Tables.part(spark, d)
        .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    }
    val byMonth = l.join(promoKeys, col("l_partkey") === col("p_partkey"), "left")
      .groupBy("sy", "sm")
      .agg(sum(col("rev")).as("tr"),
        sum(when(col("p_partkey").isNotNull, col("rev")).otherwise(lit(0L))).as("pr"))
    byMonth
      // The share divides the two already-converted doubles (never the raw
      // BIGINT cents-lattice sums times 100): the integer lattice has
      // ~2^63-cents² headroom per month, and an extra ×100 inside it is the
      // first thing to wrap at extreme scale while an oracle summing in
      // wider integers would error instead. Double-space division keeps
      // both engines on the identical IEEE operand sequence.
      .select(format_string("%04d-%02d", col("sy"), col("sm")).as("ship_month"),
        (col("pr") / 10000.0).as("promo_revenue"),
        (col("tr") / 10000.0).as("total_revenue"),
        ((col("pr") / 10000.0) / (col("tr") / 10000.0) * lit(100.0)).as("promo_share_pct"))
      .orderBy("ship_month")
  }

  val qPromoShareSql: String =
    """WITH l AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_partkey,
      |  CAST(round(l_extendedprice*100) AS BIGINT)
      |    * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev
      | FROM lineitem),
      |t AS (SELECT ship_month, CAST(sum(rev) AS BIGINT) AS tr FROM l GROUP BY 1),
      |p AS (SELECT ship_month, CAST(sum(rev) AS BIGINT) AS pr FROM l
      |      JOIN part ON l_partkey = p_partkey WHERE p_type = 'PROMO' GROUP BY 1)
      |SELECT t.ship_month,
      | coalesce(pr, 0)/10000.0 AS promo_revenue,
      | tr/10000.0 AS total_revenue,
      | (coalesce(pr, 0)/10000.0) / (tr/10000.0) * 100.0 AS promo_share_pct
      |FROM t LEFT JOIN p USING (ship_month) ORDER BY 1""".stripMargin

  // --- q_min_cost_supplier ------------------------------------------------
  // TPC-H Q2 shape (decorrelated): for every part, the supplier that has
  // shipped it cheapest — "min over a correlated group, then fetch the
  // row that achieved it". The textbook form is a correlated subquery
  // re-scanning lineitem per part; here the whole thing is ONE
  // map-side-combinable struct-min per partkey (the comparison key is
  // (cents, suppkey), so the smallest-suppkey tie-break is built into the
  // ordering — no second pass, no window over raw rows). The |parts|-row
  // result then joins the supplier dimension hint-free (AQE broadcasts
  // from observed size). At 100 TB: lineitem shuffles one candidate per
  // partkey per map partition, never raw rows.
  /** The argmin core: one candidate per partkey whose comparison key is
    * (price-cents, suppkey) lexicographic — "cheapest price, smallest
    * suppkey on ties" as a single combinable aggregate. r18: the candidate
    * is a PACKED BIGINT `pc·2³² + suppkey`, not a struct — min over a
    * struct type falls out of whole-stage codegen into SortAggregate,
    * which SORTED the 60M-row corpus inside every map partition (70 of
    * the query's 81 core-seconds at sf10). The packed min is a
    * primitive HashAggregate. Packing is exact while pc < 2³¹ (price
    * < $21.4M; TPC-H max ~$105K) and suppkey < 2³² — both asserted by
    * the lexicographic-equivalence law: for non-negative fields,
    * min(a·2³² + b) = (min lexicographic (a, b)) packed. Exposed so the
    * tie-break path (several suppliers at the exact min price) can be
    * pinned by a constructed-tie spec — the testdata rarely produces
    * ties. */
  def minCostBest(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_partkey"),
        (shiftleft(cents(col("l_extendedprice")), 32) + col("l_suppkey")).as("cand"))
      .groupBy("l_partkey").agg(min(col("cand")).as("b"))
      .select(col("l_partkey").as("partkey"),
        (shiftright(col("b"), 32) / 100.0).as("min_price"),
        (col("b") % lit(4294967296L)).as("suppkey"))

  def qMinCostSupplier(spark: SparkSession, d: String): DataFrame = {
    val best = minCostBest(Tables.lineitem(spark, d))
    val s = Tables.supplier(spark, d).select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val n = Tables.nation(spark, d).select(col("n_nationkey"), col("n_name"))
    best.join(s, col("suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("partkey"), col("min_price"), col("suppkey"), col("s_name"), col("n_name"))
      .orderBy("partkey")
  }

  val qMinCostSupplierSql: String =
    """WITH c AS (SELECT l_partkey,
      |  CAST(round(l_extendedprice*100) AS BIGINT) AS pc, l_suppkey FROM lineitem),
      |m AS (SELECT l_partkey AS partkey, min(pc) AS mpc FROM c GROUP BY 1),
      |b AS (SELECT m.partkey, m.mpc, min(c.l_suppkey) AS suppkey
      | FROM m JOIN c ON c.l_partkey = m.partkey AND c.pc = m.mpc GROUP BY 1, 2)
      |SELECT partkey, mpc/100.0 AS min_price, suppkey, s_name, n_name
      |FROM b
      |JOIN supplier ON suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY partkey""".stripMargin

  // --- q_disjunctive ------------------------------------------------------
  // TPC-H Q19 shape: an OR of three brand/size/quantity conjunctions over
  // the fact⋈dim join — the disjunctive-predicate pushdown stress test
  // (a naive planner evaluates the OR after the join; a good one pushes
  // the per-side conjuncts into both scans: quantity bands into lineitem,
  // size bands into part). Revenue in the exact cents lattice; the final
  // aggregate is one row. The dim side is AQE-broadcast, hint-free.
  def qDisjunctive(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
      .select(col("l_partkey"), col("l_quantity"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev"))
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
    val p = Tables.part(spark, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
      .filter(col("p_size") >= 1 && col("p_size") <= 40)
    val joined = l.join(p, col("l_partkey") === col("p_partkey"))
    val pred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#24" && col("p_size").between(1, 40) &&
        col("l_quantity").between(20, 30))
    joined.filter(pred)
      .agg((sum(col("rev")) / 10000.0).as("revenue"), count(lit(1)).as("n_lines"))
  }

  val qDisjunctiveSql: String =
    """SELECT
      | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |   * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue,
      | CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 40 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --- q17_small_qty_revenue ----------------------------------------------
  // TPC-H Q17 shape (decorrelated): revenue locked in "small" lines — ones
  // whose quantity is below 20% of their part's average quantity. The
  // textbook form re-computes avg(l_quantity) per outer row via a
  // correlated subquery; here the per-part aggregate is ONE map-side-
  // combinable groupBy joined back to the fact — the decorrelation every
  // serious planner performs, written as the plan we want. The
  // 20%-of-average test stays in exact integers via cross-multiplication
  // (qty·5·cnt < sum_qty — no float average anywhere), so both engines
  // agree on exactly which lines qualify; money converts to cents once and
  // the per-brand division is the final step. At 100 TB the per-part
  // aggregate and the join both hash on l_partkey — one shuffle key, AQE
  // handles part-popularity skew.
  /** DataFrame-in core (lineitem needs l_partkey/l_quantity/l_extendedprice,
    * part needs p_partkey/p_brand) — exposed so the strict-inequality
    * boundary (a line at EXACTLY 20% of its part's average is NOT small)
    * can be pinned by a constructed spec. */
  def q17From(lineitem: DataFrame, part: DataFrame): DataFrame =
    q17Core(lineitem, part, identity)

  /** Shared core; `pin` lets the registered entry materialize the packed
    * per-part stats through `Memo.atScale` while the spec path stays lazy.
    *
    * Lowering (shape race at sf10, SCALING.md): the raw 60M-row fact side used
    * to pay a partkey exchange + SMJ sort ONLY to meet the 2M-row
    * per-part stats (in-bench 4.5 s; the sort buffers also made it the
    * first victim of pass-wide memo storage pressure). Packing the
    * stats to ONE BIGINT — sum_qty·2²⁴ | cnt — keeps the side ~32 MB,
    * under the 64 MB static threshold at sf10, so the materialized memo
    * static-broadcasts and the fact side never exchanges or sorts:
    * total 2.3 s incl. the memo build vs 7.3-8.9 s for the lazy form
    * and 5.6 s for a shuffle_hash pin (same race). Past the threshold
    * the identical plan degrades to the shuffle join by itself (the
    * materialized-side contract). Packing bound: cnt < 2²⁴ lines per part (TPC-H
    * holds ~30 at every SF) and sum_qty < 2³⁹ (≤ 50·cnt) — both orders
    * of magnitude above any honest corpus; the quantities are
    * non-negative so the packed compare is exact integer arithmetic
    * (qty·5·cnt < sum_qty ⇔ qty·5·(packed & (2²⁴−1)) < packed >> 24).
    */
  private def q17Core(lineitem: DataFrame, part: DataFrame,
      pin: DataFrame => DataFrame): DataFrame = {
    val l = lineitem.select(
      col("l_partkey"), col("l_quantity").cast("long").as("qty"),
      cents(col("l_extendedprice")).as("price_c"))
    val perPart = pin(l.groupBy("l_partkey")
      .agg((sum(col("qty")) * lit(1L << 24) + count(lit(1))).as("packed")))
    val p = part.select(col("p_partkey"), col("p_brand"))
    l.join(perPart, Seq("l_partkey"))
      .filter(col("qty") * lit(5L) * col("packed").bitwiseAND(lit((1L << 24) - 1)) <
        shiftright(col("packed"), 24))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small_lines"),
        (sum(col("price_c")) / 100.0).as("small_revenue"))
      .orderBy("p_brand")
  }

  def q17SmallQtyRevenue(spark: SparkSession, d: String): DataFrame =
    q17Core(Tables.lineitem(spark, d), Tables.part(spark, d),
      Memo.atScale(spark, d, "q17_perpart_packed")(_))

  val q17SmallQtyRevenueSql: String =
    """WITH l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |  CAST(round(l_extendedprice*100) AS BIGINT) AS price_c FROM lineitem),
      |pp AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS cnt FROM l GROUP BY 1)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small_lines,
      | CAST(sum(price_c) AS BIGINT)/100.0 AS small_revenue
      |FROM l JOIN pp USING (l_partkey) JOIN part ON l_partkey = p_partkey
      |WHERE qty * 5 * cnt < sum_qty
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q22_idle_balances ---------------------------------------------------
  // TPC-H Q22 shape: wealth sitting with customers gone quiet — customers
  // with an above-average POSITIVE balance and no order in the 180 days up
  // to the corpus's latest order date, reported per nation. (Classic Q22
  // anti-joins against ALL orders; this generator gives virtually every
  // customer at least one lifetime order, so the literal form is a dead
  // path — the recency window keeps the exact plan shape with live rows,
  // and is the churn-risk report a real account team runs.) Two 1-row
  // scalars (balance average as an exact cents cross-multiply bal·n > s;
  // the max order date) are cross-joined back — the decorrelated form,
  // planned as broadcast nested loops over one row. The anti-join against
  // the recent-orderer set is the one big operation and hashes on custkey;
  // the final groupBy lands on |nations| keys.
  def q22IdleBalances(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nationkey"),
        cents(col("c_acctbal")).as("bal_c"))
    val pos = c.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
    val o = Tables.orders(spark, d).select(col("o_custkey"), col("o_orderdate"))
    val cutoff = o.agg((max(col("o_orderdate")) - expr("INTERVAL 180 DAYS")).as("cut"))
    val recent = o.crossJoin(cutoff)
      .filter(col("o_orderdate") >= col("cut"))
      .select(col("o_custkey"))
    c.crossJoin(pos)
      .filter(col("bal_c") * col("n") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n_cust"), (sum(col("bal_c")) / 100.0).as("total_bal"))
      .orderBy("nationkey")
  }

  val q22IdleBalancesSql: String =
    """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
      |  CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer),
      |t AS (SELECT CAST(sum(bal_c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      |  FROM c WHERE bal_c > 0),
      |mx AS (SELECT max(o_orderdate) - INTERVAL 180 DAY AS cut FROM orders),
      |recent AS (SELECT DISTINCT o_custkey FROM orders, mx WHERE o_orderdate >= cut)
      |SELECT nationkey, CAST(count(*) AS BIGINT) AS n_cust,
      | CAST(sum(bal_c) AS BIGINT)/100.0 AS total_bal
      |FROM c, t
      |WHERE bal_c * n > s
      |  AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q_cohort_ltv --------------------------------------------------------
  // Cohort lifetime-value curves — the subscription/e-commerce report next
  // to q_retention: customers cohorted by FIRST order month, revenue
  // accumulated over cohort age in months. Per-customer first month is one
  // combinable min; the cohort×age cell table is a second combinable
  // groupBy (≤ |months|² report cells); the cumulative sum runs over that
  // report table partitioned by cohort — never the corpus (the decomposed-
  // prefix-sum rule). Month age is exact integer calendar arithmetic on
  // both engines; money stays in the cents lattice until the final /100.
  def qCohortLtv(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d).select(col("o_custkey"),
      date_trunc("MONTH", col("o_orderdate")).as("om"),
      cents(col("o_totalprice")).as("oc"))
    val first = o.groupBy("o_custkey").agg(min(col("om")).as("cm"))
    val cells = o.join(first, Seq("o_custkey"))
      .withColumn("age", months_between(col("om"), col("cm")).cast("long"))
      .groupBy(col("cm"), col("age"))
      .agg(count(lit(1)).as("n_orders"), sum(col("oc")).as("rev_c"))
    val w = Window.partitionBy("cm").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_c", sum(col("rev_c")).over(w))
      .select(date_format(col("cm"), "yyyy-MM").as("cohort_month"),
        col("age"), col("n_orders"),
        (col("rev_c") / 100.0).as("revenue"), (col("cum_c") / 100.0).as("cum_revenue"))
      .orderBy("cohort_month", "age")
  }

  val qCohortLtvSql: String =
    """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS om,
      |  CAST(round(o_totalprice*100) AS BIGINT) AS oc FROM orders),
      |f AS (SELECT o_custkey, min(om) AS cm FROM o GROUP BY 1),
      |cells AS (SELECT cm, CAST(date_diff('month', cm, om) AS BIGINT) AS age,
      |  CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(oc) AS BIGINT) AS rev_c
      | FROM o JOIN f USING (o_custkey) GROUP BY 1, 2)
      |SELECT strftime(cm, '%Y-%m') AS cohort_month, age, n_orders,
      | rev_c/100.0 AS revenue,
      | CAST(sum(rev_c) OVER (PARTITION BY cm ORDER BY age
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)/100.0 AS cum_revenue
      |FROM cells ORDER BY cohort_month, age""".stripMargin

  // --- q8_market_share ------------------------------------------------------
  // TPC-H Q8 shape: one supplier nation's share of a regional market —
  // PROMO-type parts sold to ASIA customers in 1996-1997, share of revenue
  // supplied by NATION_7 per order year. Scale shape: part (type-filtered)
  // and the ASIA nation-key list are key-only dims AQE broadcasts; the one
  // large shuffle is lineitem⋈orders on the natural key; the fact stream
  // aggregates to (year, supplier nation key) FIRST — the share arithmetic
  // and both name lookups run on the ≤25·|years| report table, never per
  // fact row (the q7 post-agg-names idiom). Revenue in the exact epc·(100−dc)
  // 10^-4 lattice; the share and total are each ONE division of identical
  // exact BIGINT operands.
  private val Q8Region = "ASIA"
  private val Q8Nation = "NATION_7"
  private val Q8Type = "PROMO"

  def q8MarketShare(spark: SparkSession, d: String): DataFrame = {
    // r18 (the q5 materialized-side shape): ASIA customers gate the date-filtered
    // orders into a materialized (o_orderkey, o_year) side — accurate
    // stats drive static broadcast-hash, so the PROMO-filtered lineitem
    // stream joins it with zero fact-side exchange; past the 64 MB
    // threshold the same plan degrades to the shuffle join by itself.
    // The memo's orders⋈customer join is pinned shuffle_hash (the q5
    // estimate trap: never build an orders-side hash on the driver).
    val p = Tables.part(spark, d).filter(col("p_type") === Q8Type).select("p_partkey")
    val qual = Memo.atScale(spark, d, "q8_qual_orders") {
      val asiaN = Tables.nation(spark, d)
        .join(Tables.region(spark, d).filter(col("r_name") === Q8Region),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val cAsia = Tables.customer(spark, d).select("c_custkey", "c_nationkey")
        .join(broadcast(asiaN), col("c_nationkey") === col("cn_key"))
        .select("c_custkey")
      Tables.orders(spark, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .hint("shuffle_hash")
        .join(cAsia, col("o_custkey") === cAsia("c_custkey"))
        .select("o_orderkey", "o_year")
    }
    val s = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
    val l = Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("vol"))
    val rep = l.join(p, l("l_partkey") === p("p_partkey"))
      .join(qual, l("l_orderkey") === qual("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .groupBy(col("o_year"), col("s_nationkey"))
      .agg(sum(col("vol")).as("rc"))
    rep.join(Tables.nation(spark, d).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("n_name") === Q8Nation, col("rc")).otherwise(lit(0L))).as("tn"),
        sum(col("rc")).as("tot"))
      .select(col("o_year"),
        (col("tn").cast("double") / col("tot").cast("double")).as("mkt_share"),
        (col("tot") / 10000.0).as("total_revenue"))
      .orderBy("o_year")
  }

  val q8MarketShareSql: String =
    s"""WITH rep AS (
       | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, s_nationkey,
       |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |           *(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rc
       | FROM lineitem
       | JOIN part ON l_partkey = p_partkey AND p_type = '$Q8Type'
       | JOIN orders ON l_orderkey = o_orderkey
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation cn ON c_nationkey = cn.n_nationkey
       | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = '$Q8Region'
       | JOIN supplier ON l_suppkey = s_suppkey
       | GROUP BY 1, 2)
       |SELECT o_year,
       | CAST(sum(CASE WHEN n_name = '$Q8Nation' THEN rc ELSE 0 END) AS DOUBLE)
       |   / CAST(sum(rc) AS DOUBLE) AS mkt_share,
       | CAST(sum(rc) AS BIGINT)/10000.0 AS total_revenue
       |FROM rep JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY o_year""".stripMargin

  // --- q9_product_profit ----------------------------------------------------
  // TPC-H Q9 shape on the available columns: profit per (supplier nation,
  // order year) for parts whose name carries one token — profit per line =
  // discounted revenue minus cost, with p_retailprice standing in for the
  // absent partsupp supply cost. All arithmetic stays in the exact 10^-4
  // dollar lattice: epc·(100−dc) − rpc·qty·100 is an exact BIGINT per line
  // (qty is integral in this generator), so the per-(nation, year) sums are
  // associative at any partitioning and ONE division renders dollars.
  // Scale shape: the name-filtered part dim (carrying rpc) and supplier are
  // AQE-planned from observed size; lineitem⋈orders is the one large
  // shuffle — PINNED shuffle_hash (r15, the sf10 crossover probe): orders
  // is corpus-proportional, but its 2-column projection compresses under
  // the 64 MB broadcast estimate at sf10 and AQE then builds a 15M-row
  // broadcast relation single-threaded on the driver (~7s of the 9.8s
  // total; the ratio vs DuckDB GREW 5.2x→9.9x sf1→sf10). The hint keeps
  // the build per-partition and parallel — the only plan that survives
  // 100 TB, where orders cannot be broadcast at any threshold. Nation
  // names attach to the ≤25·|years| report post-agg.
  private val Q9Token = "red"

  def q9ProductProfit(spark: SparkSession, d: String): DataFrame = {
    val p = Tables.part(spark, d).filter(col("p_name").like(s"%$Q9Token%"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("rpc"))
    val s = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
    val o = Tables.orders(spark, d).select(col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"))
    val l = Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"),
      graft.functions.FastRound.roundL(col("l_quantity")).as("qtyl"))
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("s_nationkey"), col("o_year"))
      .agg(sum(col("rev_c4") - col("rpc") * col("qtyl") * lit(100L)).as("profit_c4"))
      .join(Tables.nation(spark, d).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_year"),
        (col("profit_c4") / 10000.0).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProductProfitSql: String =
    s"""WITH rep AS (
       | SELECT s_nationkey, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
       |            *(100-CAST(round(l_discount*100) AS BIGINT))
       |         - CAST(round(p_retailprice*100) AS BIGINT)
       |            *CAST(round(l_quantity) AS BIGINT)*100) AS BIGINT) AS profit_c4
       | FROM lineitem
       | JOIN part ON l_partkey = p_partkey AND p_name LIKE '%$Q9Token%'
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN orders ON l_orderkey = o_orderkey
       | GROUP BY 1, 2)
       |SELECT n_name AS nation, o_year, profit_c4/10000.0 AS sum_profit
       |FROM rep JOIN nation ON s_nationkey = n_nationkey
       |ORDER BY nation, o_year DESC""".stripMargin

  // --- q11_important_parts --------------------------------------------------
  // TPC-H Q11 shape on the available columns: the "important stock" screen —
  // parts whose shipped value through one nation's suppliers exceeds a
  // fraction of that nation's total (ps_availqty·ps_supplycost stands
  // replaced by shipped qty·p_retailprice). The correlated HAVING-over-total
  // decorrelates exactly like q_scalar_subquery: the per-part value table is
  // aggregated ONCE (one shuffle on l_partkey), its 1-row total cross-joins
  // back (BroadcastNestedLoopJoin on a single row), and the threshold is the
  // integer cross-multiply vc·10000 > total·2 (0.02% — selective but live at
  // every shipped SF) — no division anywhere until the rendered value column.
  private val Q11Nation = "NATION_3"

  def q11ImportantParts(spark: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(spark, d)
      .join(Tables.nation(spark, d).filter(col("n_name") === Q11Nation),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val p = Tables.part(spark, d)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("rpc"))
    val g = Tables.lineitem(spark, d)
      .select(col("l_partkey"), col("l_suppkey"),
        graft.functions.FastRound.roundL(col("l_quantity")).as("qtyl"))
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .join(p, col("l_partkey") === p("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("qtyl") * col("rpc")).as("vc"))
    val tot = g.agg(sum(col("vc")).as("tvc"))
    g.crossJoin(tot)
      .filter(col("vc") * lit(10000L) > col("tvc") * lit(2L))
      .select(col("l_partkey").as("p_partkey"), (col("vc") / 100.0).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  val q11ImportantPartsSql: String =
    s"""WITH g AS (
       | SELECT l_partkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)
       |   * CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS vc
       | FROM lineitem
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey AND n_name = '$Q11Nation'
       | JOIN part ON l_partkey = p_partkey
       | GROUP BY 1)
       |SELECT l_partkey AS p_partkey, vc/100.0 AS value
       |FROM g WHERE vc*10000 > (SELECT sum(vc) FROM g)*2
       |ORDER BY value DESC, p_partkey""".stripMargin

  // --- q12_late_priority ----------------------------------------------------
  // TPC-H Q12 shape on the available columns: the late-shipment priority
  // census — lines shipped more than 90 days after their order date inside a
  // two-year ship window, counted per return flag as URGENT/HIGH vs other
  // order priorities (l_shipmode and l_receiptdate don't exist in this
  // generator; the flag plays the mode's grouping role and ship−order lag
  // plays receipt−commit). Scale shape: the ship-window predicate pushes to
  // the lineitem scan; lineitem⋈orders on the natural key is the one
  // shuffle; the lag predicate is exact timestamp arithmetic at the join;
  // the conditional counts are fully map-side-combinable onto ≤3 keys.
  // Pure BIGINT counts — no division at all.
  def q12LatePriority(spark: SparkSession, d: String): DataFrame = {
    // Shape race at sf10 (SCALING.md): both sides are fact-sized, so the planner's SMJ
    // sorted 17M + 15M rows just to meet on an integer key — pinning
    // shuffle_hash (build = orders, the smaller side) runs the identical
    // exchanges without either sort: 10.4 → 4.0 s in-lab, 2.4 → 1.1 s
    // QueryTime. The priority predicate also collapses to a pre-exchange
    // boolean so the orders payload ships 1 bit instead of the string.
    // At 100 TB both sides still hash-partition on the natural key; the
    // per-partition orders build is |orders|/shuffle-partitions rows —
    // AQE splits skewed partitions, and the bucket-at-ingest layout
    // (BucketJoinSpec) removes even these exchanges when the deployment
    // owns the table layout.
    val l = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
    val o = shuffleHashWhenBig(
      Tables.orders(spark, d).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi")))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("hi"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val q12LatePrioritySql: String =
    """SELECT l_returnflag,
      | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // --- q15_top_supplier -----------------------------------------------------
  // TPC-H Q15 shape: the top revenue supplier over one quarter, ties kept.
  // The view-over-max correlated pair decorrelates to ONE per-supplier
  // aggregate (one shuffle, scan predicate pushed) whose 1-row max
  // cross-joins back — revenue compares as exact BIGINTs so "top" is
  // total-order sharp, and the supplier name attaches to the ≤|ties| winner
  // rows post-filter, never per fact row.
  def q15TopSupplier(spark: SparkSession, d: String): DataFrame = {
    val g = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1996-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("rc4"))
    val mx = g.agg(max(col("rc4")).as("mxc"))
    g.crossJoin(mx).filter(col("rc4") === col("mxc"))
      .join(Tables.supplier(spark, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), (col("rc4") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q15TopSupplierSql: String =
    """WITH g AS (
      | SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |   *(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rc4
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      | GROUP BY 1)
      |SELECT s_suppkey, s_name, rc4/10000.0 AS total_revenue
      |FROM g JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rc4 = (SELECT max(rc4) FROM g)
      |ORDER BY s_suppkey""".stripMargin

  // --- q16_supplier_variety -------------------------------------------------
  // TPC-H Q16 shape on the available columns: supplier variety per part
  // attribute triple — distinct suppliers that SHIPPED each (brand, type,
  // size) combination (lineitem stands in for the absent partsupp), minus
  // one excluded brand, a type prefix, oversize parts, and "complaint"
  // suppliers (negative account balance plays the Q16 complaints LIKE).
  // Scale shape: the attribute dim rides the part join (AQE-planned); the
  // complaint list is a ≤|suppliers| anti-join side; the count-distinct is
  // Spark's two-phase partial-distinct aggregate hashed on the attribute
  // triple — no Expand, no window, report-sized output.
  def q16SupplierVariety(spark: SparkSession, d: String): DataFrame = {
    val p = Tables.part(spark, d)
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%") &&
        col("p_size") <= 8)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val bad = Tables.supplier(spark, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_sk"))
    Tables.lineitem(spark, d).select("l_partkey", "l_suppkey")
      .join(p, col("l_partkey") === p("p_partkey"))
      .join(bad, col("l_suppkey") === col("bad_sk"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SupplierVarietySql: String =
    """SELECT p_brand, p_type, p_size,
      | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%' AND p_size <= 8
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --- q20_volume_suppliers -------------------------------------------------
  // TPC-H Q20 shape on the available columns: the semi-join chain finding
  // suppliers who DOMINATE a part's flow — for name-matched parts in one
  // ship year, suppliers carrying more than 2/3 of a part's shipped volume
  // (shipped-share plays availqty-vs-half-shipped; the absent partsupp is
  // the (part, supplier) aggregate itself). Scale shape: ONE corpus shuffle
  // builds the (part, supplier) volume table; the per-part total is a
  // window over THAT density-bounded table (never a second corpus pass);
  // dominance is the integer cross-multiply q·3 > tq·2; the surviving
  // distinct supplier keys semi-join the supplier dim for names.
  private val Q20Token = "blue"

  def q20VolumeSuppliers(spark: SparkSession, d: String): DataFrame = {
    val p = Tables.part(spark, d).filter(col("p_name").like(s"%$Q20Token%"))
      .select("p_partkey")
    val ps = Tables.lineitem(spark, d)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .select(col("l_partkey"), col("l_suppkey"),
        graft.functions.FastRound.roundL(col("l_quantity")).as("qtyl"))
      .join(p, col("l_partkey") === p("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qtyl")).as("q"))
    ps.withColumn("tq", sum(col("q")).over(Window.partitionBy("l_partkey")))
      .filter(col("q") * lit(3L) > col("tq") * lit(2L))
      .select("l_suppkey").distinct()
      .join(Tables.supplier(spark, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  val q20VolumeSuppliersSql: String =
    s"""WITH ps AS (
       | SELECT l_partkey, l_suppkey, CAST(sum(round(l_quantity)) AS BIGINT) AS q
       | FROM lineitem
       | JOIN part ON l_partkey = p_partkey AND p_name LIKE '%$Q20Token%'
       | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |   AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       | GROUP BY 1, 2),
       |t AS (SELECT l_partkey, l_suppkey, q,
       |  sum(q) OVER (PARTITION BY l_partkey) AS tq FROM ps)
       |SELECT DISTINCT s_suppkey, s_name
       |FROM t JOIN supplier ON l_suppkey = s_suppkey
       |WHERE q*3 > tq*2
       |ORDER BY s_suppkey""".stripMargin

  // --- q_attribution ------------------------------------------------------
  // Last-touch marketing attribution (the standard-model baseline of the
  // Shapley/Markov attribution literature, e.g. Dalessandro et al. 2012):
  // each purchase credits the user's LATEST preceding click-or-view within
  // a 4-hour lookback; purchases with no qualifying touch credit 'direct'.
  // Revenue stays on the integer cents lattice until the one final
  // division, so per-channel sums are order-free and hash-portable.
  // Scale shape: ONE hash join on user_id (purchases and touches
  // co-partitioned); candidate rows per purchase are bounded by that
  // user's 4h activity (per-user rate × window, never corpus²); the
  // per-purchase argmax is a map-side-combinable struct-max — no window
  // over the join output — and the channel rollup is ≤ 3 rows.
  private val AttrWindowSec = 14400L

  def qAttribution(spark: SparkSession, d: String): DataFrame =
    qAttributionFrom(eventsByUser(spark, d)) // memo: 1 cache read vs 3 scans

  /** DataFrame-in core for [[qAttribution]] (events needs event_id,
    * user_id, event_type, ts, value) — exposed so the randomized spec can
    * pin the struct-max argmax against a direct window formulation on
    * constructed streams (timestamp ties, window-edge touches, users with
    * no touch). */
  def qAttributionFrom(ev: DataFrame): DataFrame = {
    val win = expr(s"INTERVAL $AttrWindowSec SECOND")
    // accept either the raw events schema (spec harness) or the memo's
    // pre-quantized value_c
    val vc = if (ev.columns.contains("value_c")) col("value_c")
             else cents(col("value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("tp"), vc.as("vc"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("tt"),
        col("event_id").as("tid"), col("event_type").as("touch"))
    val best = p.join(t, Seq("user_id"))
      .filter(col("tt") < col("tp") && col("tt") >= col("tp") - win)
      .groupBy(col("pid"))
      // latest (tt, tid) wins; struct order never reaches `touch`
      // because tid is unique
      .agg(max(struct(col("tt"), col("tid"), col("touch")))
        .getField("touch").as("t_touch"))
    p.join(best, Seq("pid"), "left")
      .select(coalesce(col("t_touch"), lit("direct")).as("touch"), col("vc"))
      .groupBy(col("touch"))
      .agg(count(lit(1)).as("n_conv"), (sum(col("vc")) / 100.0).as("revenue"))
      .orderBy("touch")
  }

  val qAttributionSql: String =
    s"""WITH p AS (SELECT event_id AS pid, user_id, ts AS tp,
       |  CAST(round(value*100) AS BIGINT) AS vc
       | FROM events WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, ts AS tt, event_id AS tid, event_type AS touch
       | FROM events WHERE event_type IN ('click', 'view')),
       |j AS (SELECT p.pid, t.touch,
       |  row_number() OVER (PARTITION BY p.pid ORDER BY t.tt DESC, t.tid DESC) AS rn
       | FROM p JOIN t ON p.user_id = t.user_id
       |  AND t.tt < p.tp AND t.tt >= p.tp - INTERVAL $AttrWindowSec SECOND),
       |a AS (SELECT p.pid, p.vc, coalesce(j.touch, 'direct') AS touch
       | FROM p LEFT JOIN j ON p.pid = j.pid AND j.rn = 1)
       |SELECT touch, count(*) AS n_conv,
       | CAST(sum(vc) AS BIGINT)/100.0 AS revenue
       |FROM a GROUP BY 1 ORDER BY touch""".stripMargin

  // --- q_session_paths ----------------------------------------------------
  // Top session paths (the product-analytics "user flow" report): reuse
  // the gap>30min sessionization, take each session's first three event
  // types in exact (ts, event_id) order, and count sessions per '>'-joined
  // path. Deterministic: the path is a pure function of the event order,
  // and the report is VALUE-sorted (n desc, path) — no sampled tie-break.
  // Scale shape: both window passes partition by user_id (per-user data,
  // co-partitioned with the sessionizer's shuffle); the rank-≤-3 filter
  // drops the corpus to ≤ 3 rows per session BEFORE the pivot; the path
  // rollup is bounded by |event_types|³ + shorter prefixes (≤ 155 rows
  // here), a report-sized table at any corpus size.
  def qSessionPaths(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r19: eventsSlim — memo above the size gate, raw scan below it
    val sess = eventsSlim(spark, d)
      .select("user_id", "event_id", "ts", "event_type")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull, 1L)
          .when(col("ts").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
    val ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    sess.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= 3)
      .groupBy("user_id", "session_id")
      .agg(concat_ws(">",
        max(when(col("rn") === 1, col("event_type"))),
        max(when(col("rn") === 2, col("event_type"))),
        max(when(col("rn") === 3, col("event_type")))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("path"))
  }

  val qSessionPathsSql: String =
    """WITH flagged AS (
      | SELECT user_id, event_id, ts, event_type,
      |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |       WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
      |       ELSE 0 END AS new_sess
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      | SELECT user_id, event_id, ts, event_type,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM flagged
      |), ranked AS (
      | SELECT user_id, session_id, event_type,
      |  row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn
      | FROM sess
      |), paths AS (
      | SELECT user_id, session_id,
      |  concat_ws('>',
      |    max(CASE WHEN rn = 1 THEN event_type END),
      |    max(CASE WHEN rn = 2 THEN event_type END),
      |    max(CASE WHEN rn = 3 THEN event_type END)) AS path
      | FROM ranked WHERE rn <= 3 GROUP BY 1, 2
      |)
      |SELECT path, count(*) AS n_sessions FROM paths
      |GROUP BY 1 ORDER BY n_sessions DESC, path""".stripMargin

  // --- q_twap -------------------------------------------------------------
  // Time-weighted average value per user (the TWAP/step-function integral —
  // what "average balance", "average position", and metering reports
  // actually mean; the plain mean q_column_stats gives is sampling-biased
  // the moment event spacing is uneven). Each event sets the user's level
  // until their next event; the last level has no measured duration and is
  // excluded from numerator AND denominator, so the statistic is a pure
  // function of consecutive pairs. Exactness: cents × whole seconds keeps
  // the weighted sum on the BIGINT lattice (order-free; ~2^53 headroom at
  // 100 TB per-user scales), ONE final division of identical exact operands
  // per user. Scale shape: a single per-user window (lead) — co-partitioned
  // with every other per-user pass — then one combinable groupBy; no joins,
  // no global state, output = per-user report rows.
  def qTwap(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // r19: ride the eventsByUser memo above the size gate (value_c IS
    // cents(value) — the memo's projection): partitioned on user_id
    // already, so the lead window needs no exchange and events is not
    // re-scanned. Below the gate: raw scan (see eventsSlim).
    eventsSlim(spark, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value_c").as("vc"))
      .withColumn("dur", lead(col("ts"), 1).over(w).cast("long") - col("ts").cast("long"))
      .filter(col("dur").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_steps"),
        sum(col("dur")).as("total_sec"),
        sum(col("vc") * col("dur")).as("twap_num"))
      .withColumn("twap",
        col("twap_num").cast("double") / (col("total_sec") * 100L).cast("double"))
      .orderBy("user_id")
  }

  val qTwapSql: String =
    """WITH s AS (
      | SELECT user_id, CAST(round(value*100) AS BIGINT) AS vc,
      |  CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
      |    - CAST(floor(epoch(ts)) AS BIGINT) AS dur
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, count(*) AS n_steps,
      | CAST(sum(dur) AS BIGINT) AS total_sec,
      | CAST(sum(vc * dur) AS BIGINT) AS twap_num,
      | CAST(sum(vc * dur) AS BIGINT) / CAST(sum(dur) * 100 AS BIGINT) AS twap
      |FROM s WHERE dur IS NOT NULL
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  // --- q_ab_test ------------------------------------------------------------
  // Two-variant conversion A/B report with the exact 2×2 chi-square — the
  // experimentation readout every product team runs. Assignment is
  // DETERMINISTIC (doc_split's convention: a user's variant is an md5
  // hash bucket, stable across runs/cluster sizes — what real experiment
  // assignment needs, and what makes the statistic a pure function of the
  // data); conversion = heavy purchaser (purchases exceed 20% of the
  // user's events — an exact integer cross-product test; "≥1 purchase"
  // saturates this corpus, leaving a degenerate margin and a NULL
  // statistic). Counts and ppm rates are
  // exact BIGINTs; the chi-square is ds_autocorr's fixed-double-tree
  // convention — every input count is an exact double (< 2^53) and the
  // parenthesization is identical in both engines, so the one statistic
  // is bit-identical (at ≥ 2^26 users per cell the double products round,
  // identically on both engines — determinism survives, exactness is the
  // counts'). Scale shape: one per-user combinable aggregate (the
  // standard user-grain shuffle), then a SINGLE global conditional-sum
  // aggregate — constant state per partition, one row out, no joins.
  def qAbTest(spark: SparkSession, d: String): DataFrame = {
    val u = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"))
      .groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        * 5 > count(lit(1)), 1L).otherwise(0L).as("cv"))
      .withColumn("v",
        conv(substring(md5(col("user_id").cast("string")), 1, 2), 16, 10)
          .cast("long") % 2)
    u.agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 0, col("cv")).otherwise(0L)).as("conv_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("v") === 1, col("cv")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        expr("conv_a * 1000000 div n_a").as("conv_a_ppm"),
        expr("conv_b * 1000000 div n_b").as("conv_b_ppm"),
        expr("conv_a * 1000000 div n_a - conv_b * 1000000 div n_b").as("lift_ppm"),
        expr("""CASE WHEN n_a = 0 OR n_b = 0
               |  OR conv_a + conv_b = 0 OR n_a + n_b - conv_a - conv_b = 0
               | THEN NULL ELSE
               |  (CAST(n_a + n_b AS DOUBLE)
               |   * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
               |      - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
               |   * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
               |      - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE)))
               |  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
               |     * CAST(conv_a + conv_b AS DOUBLE)
               |     * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE))
               |END""".stripMargin).as("chi2"))
  }

  val qAbTestSql: String =
    """WITH u AS (SELECT user_id,
      |  CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
      |       > count(*) THEN 1 ELSE 0 END AS cv
      | FROM events GROUP BY 1),
      |v AS (SELECT CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS INTEGER) % 2 AS BIGINT) AS v, cv FROM u),
      |t AS (SELECT
      |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN v = 0 THEN cv ELSE 0 END) AS BIGINT) AS conv_a,
      |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN v = 1 THEN cv ELSE 0 END) AS BIGINT) AS conv_b
      | FROM v)
      |SELECT n_a, conv_a, n_b, conv_b,
      | conv_a * 1000000 // n_a AS conv_a_ppm,
      | conv_b * 1000000 // n_b AS conv_b_ppm,
      | conv_a * 1000000 // n_a - conv_b * 1000000 // n_b AS lift_ppm,
      | CASE WHEN n_a = 0 OR n_b = 0
      |   OR conv_a + conv_b = 0 OR n_a + n_b - conv_a - conv_b = 0
      |  THEN NULL ELSE
      |   (CAST(n_a + n_b AS DOUBLE)
      |    * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
      |       - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
      |    * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
      |       - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE)))
      |   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |      * CAST(conv_a + conv_b AS DOUBLE)
      |      * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE))
      | END AS chi2
      |FROM t""".stripMargin

  // --- q_funnel_time ----------------------------------------------------------
  // Time-to-convert distribution (q_funnel's companion readout: the funnel
  // says HOW MANY convert, this says HOW FAST — the latency product teams
  // actually tune against): per user, delay from first view to the first
  // later purchase; report = converting-user count plus discrete p50/p90
  // delays in whole minutes. Exactness: delays are exact integer seconds
  // (floored epoch), minute-bucketed by integer division; percentiles use
  // the rank rule ceil(p·n) over the minute histogram's cumulative counts
  // — a raw bucket value, never an interpolation. Scale shape: two
  // map-side-combinable per-user aggregates (min view ts, then min
  // later-purchase ts — both hash on user_id, co-partitioned), then the
  // corpus collapses to the delay-minute histogram in ONE combinable
  // groupBy; the cumulative window runs over that report-sized table
  // (bounded by the corpus time span in minutes), never the users.
  def qFunnelTime(spark: SparkSession, d: String): DataFrame = {
    def rank(p: Int) = expr(s"(n * $p + 99) div 100")
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("sec")).as("v0"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("sec") >= col("v0"))
      .groupBy("user_id").agg(min(col("sec") - col("v0")).as("delay"))
      .select(col("user_id"), expr("delay div 60").as("dm"))
    val hist = conv.groupBy("dm").agg(count(lit(1)).as("c"))
    val n = hist.agg(sum(col("c")).as("n"))
    val wcum = Window.orderBy("dm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(wcum))
      .crossJoin(n)
      .agg(max(col("n")).as("n_converted"),
        min(when(col("cum") >= rank(50), col("dm"))).as("p50_min"),
        min(when(col("cum") >= rank(90), col("dm"))).as("p90_min"))
  }

  val qFunnelTimeSql: String =
    """WITH fv AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS v0
      | FROM events WHERE event_type = 'view' GROUP BY 1),
      |cv AS (SELECT e.user_id,
      |  min(CAST(floor(epoch(e.ts)) AS BIGINT) - fv.v0) // 60 AS dm
      | FROM events e JOIN fv ON e.user_id = fv.user_id
      | WHERE e.event_type = 'purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) >= fv.v0
      | GROUP BY 1),
      |h AS (SELECT dm, count(*) AS c FROM cv GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
      |cum AS (SELECT dm, CAST(sum(c) OVER (ORDER BY dm) AS BIGINT) AS cum FROM h)
      |SELECT max(n.n) AS n_converted,
      | min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN dm END) AS p50_min,
      | min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN dm END) AS p90_min
      |FROM cum, n""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel_time" -> qFunnelTime,
    "q_ab_test" -> qAbTest,
    "q_twap" -> qTwap,
    "q_attribution" -> qAttribution,
    "q_session_paths" -> qSessionPaths,
    "q8_market_share" -> q8MarketShare,
    "q_bitmap_intersect" -> qBitmapIntersect,
    "q9_product_profit" -> q9ProductProfit,
    "q11_important_parts" -> q11ImportantParts,
    "q12_late_priority" -> q12LatePriority,
    "q15_top_supplier" -> q15TopSupplier,
    "q16_supplier_variety" -> q16SupplierVariety,
    "q20_volume_suppliers" -> q20VolumeSuppliers,
    "q_cohort_ltv" -> qCohortLtv,
    "q17_small_qty_revenue" -> q17SmallQtyRevenue,
    "q22_idle_balances" -> q22IdleBalances,
    "q_promo_share" -> qPromoShare,
    "q_min_cost_supplier" -> qMinCostSupplier,
    "q_disjunctive" -> qDisjunctive,
    "q_dau_mau" -> qDauMau,
    "q_gini" -> qGini,
    "q_rfm" -> qRfm,
    "q_runs" -> qRuns,
    "q_column_stats" -> qColumnStats,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_activity_bitmap" -> qActivityBitmap,
    "q7_nation_volume" -> q7NationVolume,
    "q_overlap_matrix" -> qOverlapMatrix,
    "q_multi_exists" -> qMultiExists,
    "q_cumulative_users" -> qCumulativeUsers,
    "q_exists_subquery" -> qExistsSubquery,
    "q_having" -> qHaving,
    "q_scalar_subquery" -> qScalarSubquery,
    "q_interval_coverage" -> qIntervalCoverage,
    "q_calendar_fill" -> qCalendarFill,
    "q_markov_transitions" -> qMarkovTransitions,
    "q_corr_subquery" -> qCorrSubquery,
    "q_count_distribution" -> qCountDistribution,
    "q_incremental_agg" -> qIncrementalAgg,
    "pipeline_sessions" -> pipelineSessions,
    "q_ohlc" -> qOhlc,
    "q_concurrency" -> qConcurrency,
    "q_day_over_day" -> qDayOverDay,
    "q_cooccurrence" -> qCooccurrence,
    "q_mode_by_key" -> qModeByKey,
    "q_latest_by_key" -> qLatestByKey,
    "q_merge_upsert" -> qMergeUpsert,
    "q_skew_join" -> qSkewJoin,
    "q_retention" -> qRetention,
    "q_funnel" -> qFunnel,
    "q_window_funnel" -> qWindowFunnel,
    "q_pivot" -> qPivot,
    "q_grouping_sets" -> qGroupingSets,
    "q1_pricing_summary" -> q1PricingSummary,
    "q3_topk_revenue" -> q3TopkRevenue,
    "q5_region_join" -> q5RegionJoin,
    "q_topk_per_group" -> qTopkPerGroup,
    "q_window_running" -> qWindowRunning,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_semi_anti" -> qSemiAnti,
    "q_events_hourly" -> qEventsHourly,
    "q_sessionize" -> qSessionize,
    "q_percentiles" -> qPercentiles,
    "q_salted_agg" -> qSaltedAgg,
    "q_sliding_window" -> qSlidingWindow,
    "q_decay_sum" -> qDecaySum,
    "q_event_dedup" -> qEventDedup,
    "q6_forecast_revenue" -> q6ForecastRevenue,
    "q10_returned_items" -> q10ReturnedItems,
    "q18_large_orders" -> q18LargeOrders)

  val oracle: Map[String, String] = Map(
    "q_funnel_time" -> qFunnelTimeSql,
    "q_ab_test" -> qAbTestSql,
    "q_twap" -> qTwapSql,
    "q_attribution" -> qAttributionSql,
    "q_session_paths" -> qSessionPathsSql,
    "q8_market_share" -> q8MarketShareSql,
    "q_bitmap_intersect" -> qBitmapIntersectSql,
    "q9_product_profit" -> q9ProductProfitSql,
    "q11_important_parts" -> q11ImportantPartsSql,
    "q12_late_priority" -> q12LatePrioritySql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q16_supplier_variety" -> q16SupplierVarietySql,
    "q20_volume_suppliers" -> q20VolumeSuppliersSql,
    "q_cohort_ltv" -> qCohortLtvSql,
    "q17_small_qty_revenue" -> q17SmallQtyRevenueSql,
    "q22_idle_balances" -> q22IdleBalancesSql,
    "q_promo_share" -> qPromoShareSql,
    "q_min_cost_supplier" -> qMinCostSupplierSql,
    "q_disjunctive" -> qDisjunctiveSql,
    "q_dau_mau" -> qDauMauSql,
    "q_gini" -> qGiniSql,
    "q_rfm" -> qRfmSql,
    "q_runs" -> qRunsSql,
    "q_column_stats" -> qColumnStatsSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_activity_bitmap" -> qActivityBitmapSql,
    "q7_nation_volume" -> q7Sql,
    "q_overlap_matrix" -> qOverlapMatrixSql,
    "q_multi_exists" -> qMultiExistsSql,
    "q_cumulative_users" -> qCumulativeUsersSql,
    "q_exists_subquery" -> qExistsSubquerySql,
    "q_having" -> qHavingSql,
    "q_scalar_subquery" -> qScalarSubquerySql,
    "q_interval_coverage" -> qIntervalCoverageSql,
    "q_calendar_fill" -> qCalendarFillSql,
    "q_markov_transitions" -> qMarkovTransitionsSql,
    "q_corr_subquery" -> qCorrSubquerySql,
    "q_count_distribution" -> qCountDistributionSql,
    "q_incremental_agg" -> qIncrementalAggSql,
    "pipeline_sessions" -> pipelineSessionsSql,
    "q_ohlc" -> qOhlcSql,
    "q_concurrency" -> qConcurrencySql,
    "q_day_over_day" -> qDayOverDaySql,
    "q_cooccurrence" -> qCooccurrenceSql,
    "q_mode_by_key" -> qModeByKeySql,
    "q_latest_by_key" -> qLatestByKeySql,
    "q_merge_upsert" -> qMergeUpsertSql,
    "q_skew_join" -> qSkewJoinSql,
    "q_retention" -> qRetentionSql,
    "q_funnel" -> qFunnelSql,
    "q_window_funnel" -> qWindowFunnelSql,
    "q_pivot" -> qPivotSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_topk_revenue" -> q3Sql,
    "q5_region_join" -> q5Sql,
    "q_topk_per_group" -> qTopkPerGroupSql,
    "q_window_running" -> qWindowRunningSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_semi_anti" -> qSemiAntiSql,
    "q_events_hourly" -> qEventsHourlySql,
    "q_sessionize" -> qSessionizeSql,
    "q_percentiles" -> qPercentilesSql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_sliding_window" -> qSlidingWindowSql,
    "q_decay_sum" -> qDecaySumSql,
    "q_event_dedup" -> qEventDedupSql,
    "q6_forecast_revenue" -> q6ForecastRevenueSql,
    "q10_returned_items" -> q10ReturnedItemsSql,
    "q18_large_orders" -> q18LargeOrdersSql)
}
