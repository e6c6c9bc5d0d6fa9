package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.Tables

class AnalyticsSpec extends SparkSpec {

  test("q1 produces the full returnflag × linestatus lattice with consistent sums") {
    val rows = Analytics.q1PricingSummary(spark, sf).collect()
    assert(rows.length >= 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
      assert(r.getAs[Double]("sum_charge") >= r.getAs[Double]("sum_disc_price"))
      assert(math.abs(r.getAs[Double]("avg_qty") * r.getAs[Long]("count_order")
        - r.getAs[Double]("sum_qty")) < 1e-6)
    }
  }

  test("skew-safe window running equals the plain window on a hot-key corpus") {
    // one user owns 80% of a corpus that crosses the HeavyKeyRows=32768
    // detection threshold; timestamps interleave hot/cold users and
    // repeat exactly (tie order decided by event_id), spanning multiple
    // absolute-hour buckets so the census handoff actually fires.
    // NULL user_id rows (every 13th) pin the null-safe join path — the
    // plain window keeps them as one partition; NULL values (every 11th)
    // pin the lag law: a NULL predecessor gives delta NULL even mid-bucket
    import spark.implicits._
    val n = 50000
    val rows = (0 until n).map { i =>
      val user: java.lang.Long =
        if (i % 13 == 0) null
        else if (i % 5 == 0) i.toLong % 7 + 100L else -1L
      val t = new java.sql.Timestamp(1700000000000L + (i / 4).toLong * 3600L * 1000L / 2)
      val v: java.lang.Double =
        if (i % 11 == 0) null else (i % 997).toDouble / 100.0
      (user, i.toLong, t, v)
    }.toDF("user_id", "event_id", "ts", "value")
    val plain = Analytics.qWindowRunningFrom(rows).collect()
    val hybrid = Analytics.qWindowRunningSkewSafe(rows).collect()
    assert(plain.length === n && hybrid.length === n)
    plain.zip(hybrid).foreach { case (p, h) =>
      assert(p.getAs[Long]("event_id") === h.getAs[Long]("event_id"))
      assert(p.getAs[java.lang.Long]("run_sum_c") === h.getAs[java.lang.Long]("run_sum_c"),
        s"run_sum at event ${p.getAs[Long]("event_id")}")
      assert(p.getAs[java.lang.Long]("delta_c") === h.getAs[java.lang.Long]("delta_c"),
        s"delta at event ${p.getAs[Long]("event_id")}")
    }
  }

  test("skew-safe sliding window equals the plain window on a hot-key corpus") {
    // hot user crosses the detection threshold; timestamps repeat (RANGE
    // peers) and straddle absolute-hour boundaries so the context
    // re-emission actually carries cross-bucket windows
    import spark.implicits._
    val n = 50000
    val rows = (0 until n).map { i =>
      val user: java.lang.Long =
        if (i % 13 == 0) null
        else if (i % 5 == 0) i.toLong % 7 + 100L else -1L
      val t = new java.sql.Timestamp(1700000000000L + (i / 3).toLong * 977L * 1000L)
      val v: java.lang.Double =
        if (i % 11 == 0) null else (i % 997).toDouble / 100.0
      (user, i.toLong, t, v)
    }.toDF("user_id", "event_id", "ts", "value")
    val plain = Analytics.qSlidingWindowFrom(rows).collect()
    val hybrid = Analytics.qSlidingWindowSkewSafe(rows).collect()
    assert(plain.length === n && hybrid.length === n)
    plain.zip(hybrid).foreach { case (p, h) =>
      assert(p.getAs[Long]("event_id") === h.getAs[Long]("event_id"))
      assert(p.getAs[java.lang.Long]("trail_1h_c") === h.getAs[java.lang.Long]("trail_1h_c"),
        s"trail sum at event ${p.getAs[Long]("event_id")}")
      assert(p.getAs[Long]("trail_1h_n") === h.getAs[Long]("trail_1h_n"),
        s"trail count at event ${p.getAs[Long]("event_id")}")
    }
  }

  test("window auto-dispatch picks the skew-safe branch on a hot key and the plain window on a cool one") {
    import spark.implicits._
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    val hot = (0 until 40000).map { i =>
      (-1L, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), 1.0)
    }.toDF("user_id", "event_id", "ts", "value")
    val cool = (0 until 100).map { i =>
      (i.toLong % 7, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), 1.0)
    }.toDF("user_id", "event_id", "ts", "value")
    // at scale (gate 0): hot corpus → the census decomposition (joins
    // present); cool → plain
    try {
      spark.conf.set("spark.graft.memoSide.minLeafBytes", "0")
      assert(hasJoin(Analytics.qWindowRunningAuto(spark, hot)))
      assert(!hasJoin(Analytics.qWindowRunningAuto(spark, cool)))
      assert(hasJoin(Analytics.qSlidingWindowAuto(spark, hot)))
      assert(!hasJoin(Analytics.qSlidingWindowAuto(spark, cool)))
    } finally spark.conf.unset("spark.graft.memoSide.minLeafBytes")
    // below the default gate one key's window is bounded by the gate, so
    // the 40k-row hot input takes the plain window and no probe job runs
    assert(jobsDuring {
      assert(!hasJoin(Analytics.qWindowRunningAuto(spark, hot)))
      assert(!hasJoin(Analytics.qSlidingWindowAuto(spark, hot)))
    } === 0)
    // resolving the table reads its parquet footer in a job, once per session
    Tables.events(spark, "/root/testdata/sf0.01")
    Analytics.releaseCaches()
    assert(jobsDuring(SparkEntry.queries("q_window_running")(spark, "/root/testdata/sf0.01")) === 0,
      "building q_window_running below the gate must run no job")
  }

  test("dau/mau interval sweep equals the direct 30-day-explode formulation") {
    // activity patterns chosen to hit every merge boundary: gaps of
    // exactly 29 days (same interval), exactly 30 (new interval), dense
    // runs, single-day users, and users whose intervals overlap others'
    import spark.implicits._
    val base = java.time.LocalDate.of(2024, 1, 1)
    val days = Seq(
      1L -> Seq(0, 5, 29, 59, 60, 90),   // 29-gap merges, 30-gap splits
      2L -> Seq(0),                       // single day
      3L -> Seq(10, 40, 70, 100),        // chain of exact-30 gaps
      4L -> (0 until 120 by 3),          // dense
      5L -> Seq(100, 130, 160))
    val rows = days.flatMap { case (u, ds) => ds.map { dd =>
      (u, java.sql.Timestamp.valueOf(base.plusDays(dd.toLong).atTime(12, 0)))
    } }.toDF("user_id", "ts")
    val got = Analytics.qDauMauFrom(rows).collect()
    val ud = rows.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val want = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      .join(ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 29))).as("mday"))
        .distinct().groupBy("mday").agg(count(lit(1)).as("mau")),
        col("day") === col("mday"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        col("dau"), col("mau"))
      .orderBy("day_s").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[String]("day_s") === w.getAs[String]("day_s"))
      assert(g.getAs[Long]("dau") === w.getAs[Long]("dau"), g.getAs[String]("day_s"))
      assert(g.getAs[Long]("mau") === w.getAs[Long]("mau"), g.getAs[String]("day_s"))
    }
  }

  test("q3 returns at most 10 rows in descending revenue order") {
    val revs = Analytics.q3TopkRevenue(spark, sf).collect().map(_.getAs[Double]("revenue"))
    assert(revs.length <= 10 && revs.nonEmpty)
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("rollup grand total equals the sum of leaf rows") {
    val rows = Analytics.qRollup(spark, sf).collect()
    val grand = rows.find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    val leaves = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    assert(leaves.map(_.getAs[Long]("n")).sum === grand.getAs[Long]("n"))
    assert(math.abs(leaves.map(_.getAs[Double]("sum_price")).sum
      - grand.getAs[Double]("sum_price")) < 1e-6)
  }

  test("percentiles are actual data values and monotone") {
    val vals = Tables.events(spark, sf).select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).toSet)
    Analytics.qPercentiles(spark, sf).collect().foreach { r =>
      val et = r.getAs[String]("event_type")
      val ps = Seq("p25", "p50", "p75", "p90").map(r.getAs[Double])
      assert(ps == ps.sorted, s"$et percentiles not monotone")
      ps.foreach(p => assert(vals(et).contains(p), s"$et percentile $p not a data value"))
    }
  }

  test("sessionize: event counts over sessions equal total events per user") {
    val sess = Analytics.qSessionize(spark, sf)
      .groupBy("user_id").agg(sum("n_events").as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val raw = Tables.events(spark, sf).groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(sess === raw)
  }

  test("semi/anti composition excludes customers with finished orders") {
    val res = Analytics.qSemiAnti(spark, sf).select("c_custkey")
    val withF = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
    assert(res.intersect(withF).count() === 0)
  }

  test("built-in session_window agrees with the cumsum sessionizer on session counts") {
    // qSessionize derives sessions from a gap>30min window cumsum; Spark's
    // native session_window must partition events into the same sessions
    // (same count per user, same total), since both close a session at a
    // 30-minute silence
    val builtIn = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val ours = Analytics.qSessionize(spark, sf)
    val a = builtIn.groupBy("user_id").agg(count(lit(1)).as("sessions"), sum("n_events").as("events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val b = ours.groupBy("user_id").agg(count(lit(1)).as("sessions"), sum("n_events").as("events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(a === b)
  }

  test("pivot conserves document and char totals across the lang columns") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.count()
    val totalChars = docs.agg(sum(col("n_chars"))).head.getLong(0)
    val rows = Analytics.qPivot(spark, sf).collect()
    assert(rows.length === docs.select("source").distinct().count())
    val langs = Seq("de", "en", "es", "fr", "zh")
    val cntSum = rows.map(r => langs.map(l => r.getAs[Long](s"${l}_cnt")).sum).sum
    val charSum = rows.map(r => langs.map(l => r.getAs[Long](s"${l}_chars")).sum).sum
    assert(cntSum === total)
    assert(charSum === totalChars)
  }

  test("funnel stages narrow monotonically and stage 1 counts distinct viewers") {
    val rows = graft.operators.Analytics.qFunnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    assert(rows.keySet === Set("1_view", "2_click", "3_purchase"))
    val viewers = graft.sources.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(rows("1_view") === viewers)
    assert(rows("1_view") >= rows("2_click"))
    assert(rows("2_click") >= rows("3_purchase"))
  }

  test("retention day-0 covers every user once and totals count distinct user-days") {
    import org.apache.spark.sql.functions.{col, to_date}
    val rows = graft.operators.Analytics.qRetention(spark, sf).collect()
    val ev = graft.sources.Tables.events(spark, sf)
    val users = ev.select("user_id").distinct().count()
    val userDays = ev.select(col("user_id"), to_date(col("ts"))).distinct().count()
    // every user is active on their own cohort day, exactly once
    assert(rows.filter(_.getAs[Long]("day_offset") == 0L).map(_.getAs[Long]("n_users")).sum === users)
    // the table partitions the distinct (user, day) set
    assert(rows.map(_.getAs[Long]("n_users")).sum === userDays)
    rows.foreach(r => assert(r.getAs[Long]("day_offset") >= 0L))
  }

  test("latest-by-key keeps exactly the max-(ts, event_id) record per user") {
    val rows = Analytics.qLatestByKey(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id").collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(rows.length === ev.size)
    rows.foreach { r =>
      val best = ev(r.getAs[Long]("user_id"))
        .maxBy(e => (e.getAs[java.sql.Timestamp]("ts").getTime, e.getAs[Long]("event_id")))
      assert(r.getAs[Long]("event_id") === best.getAs[Long]("event_id"))
    }
  }

  test("session histogram equals the bucketed recompute of qSessionize's table") {
    val sessions = Analytics.qSessionize(spark, sf).collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("dur_sec")))
    val exp = sessions.groupBy { case (n, _) => 63 - java.lang.Long.numberOfLeadingZeros(n) }
      .map { case (b, g) =>
        b.toLong -> ((g.length.toLong, g.map(_._1).sum, g.map(_._2).sum))
      }
    val got = Analytics.pipelineSessions(spark, sf).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("total_events"), r.getAs[Long]("total_dur_sec"))))
      .toMap
    assert(got === exp)
    // conservation: every event lands in exactly one session
    assert(got.values.map(_._2).sum === Tables.events(spark, sf).count())
  }

  test("OHLC candles match first/last/extreme recomputes per (type, hour)") {
    val ev = Tables.events(spark, sf)
      .select("event_type", "ts", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("event_id"), math.round(r.getAs[Double]("value") * 100)))
    val exp = ev.groupBy { case (t, ts, _, _) =>
      (t, ts.getTime - Math.floorMod(ts.getTime, 3600000L))
    }.map { case (k, rs) =>
      val ordered = rs.sortBy { case (_, ts, id, _) => (ts.getTime, id) }
      k -> ((ordered.head._4 / 100.0, rs.map(_._4).max / 100.0,
        rs.map(_._4).min / 100.0, ordered.last._4 / 100.0, rs.length.toLong))
    }
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm")
    val got = Analytics.qOhlc(spark, sf).collect().map { r =>
      val key = (r.getString(0), fmt.parse(r.getAs[String]("hour_s")).getTime)
      key -> ((r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"), r.getAs[Long]("n")))
    }.toMap
    assert(got.size === exp.size)
    exp.foreach { case (k, v) => assert(got(k) === v, s"candle $k") }
  }

  test("max concurrency matches an in-process sweep-line recompute") {
    val ev = Tables.events(spark, sf).select("event_type", "ts", "event_id").collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
    val exp = ev.groupBy(_._1).map { case (t, rs) =>
      val marks = rs.flatMap { case (_, ms, id) =>
        Seq((ms, 1L, id), (ms + 600000L, -1L, id))
      }.sortBy(identity)
      var open = 0L; var mx = 0L
      marks.foreach { case (_, d, _) => open += d; mx = math.max(mx, open) }
      t -> (mx, rs.length.toLong)
    }
    val got = Analytics.qConcurrency(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("max_concurrent"), r.getAs[Long]("n_intervals")))).toMap
    assert(got === exp)
  }

  test("day-over-day deltas are consistent with the daily counts") {
    val rows = Analytics.qDayOverDay(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[String]("day_s"), r.getAs[Long]("n"),
        Option(r.getAs[java.lang.Long]("prev_n")).map(_.toLong), r.getAs[Long]("delta")))
    assert(rows.map(_._3).sum === Tables.events(spark, sf).count())
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.head._4.isEmpty && sorted.head._5 === 0L)
      sorted.sliding(2).foreach {
        case Array((_, _, nPrev, _, _), (_, _, n, prev, delta)) =>
          assert(prev.contains(nPrev))
          assert(delta === n - nPrev)
        case _ =>
      }
    }
  }

  test("cooccurrence pair counts match the distinct (user, type) recompute") {
    val ut = Tables.events(spark, sf).select("user_id", "event_type").distinct()
      .collect().map(r => (r.getAs[Long]("user_id"), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exp = ut.values.toSeq
      .flatMap(ts => ts.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Analytics.qCooccurrence(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_users")).toMap
    assert(got === exp)
    // unordered pairs: type_a < type_b always
    got.keys.foreach { case (a, b) => assert(a < b) }
  }

  test("mode-by-key picks the most frequent type with smallest-name tie-break") {
    val counts = Tables.events(spark, sf).select("user_id", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap).toMap
    val got = Analytics.qModeByKey(spark, sf).collect()
    assert(got.length === counts.size)
    got.foreach { r =>
      val c = counts(r.getAs[Long]("user_id"))
      val best = c.toSeq.sortBy { case (t, n) => (-n, t) }.head
      assert((r.getAs[String]("mode_type"), r.getAs[Long]("mode_n")) === best)
      assert(r.getAs[Long]("n_events") === c.values.sum)
    }
  }

  test("salted skew join equals the direct unsalted join bit-for-bit") {
    import spark.implicits._
    val salted = Analytics.qSkewJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getAs[Long]("n_above"), r.getAs[Double]("sum_above")))
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), round(col("value") * 100).cast("long").as("vc"))
    val dim = ev.groupBy("event_type")
      .agg((sum($"vc").cast("double") / 100.0 / count(lit(1)).cast("double")).as("mean"))
    val direct = ev.join(dim, Seq("event_type"))
      .groupBy("event_type", "mean")
      .agg(count(when($"value" > $"mean", 1)).as("n_above"),
        (sum(when($"value" > $"mean", $"vc")) / 100.0).as("sum_above"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getAs[Long]("n_above"), r.getAs[Double]("sum_above")))
    assert(salted.toSeq === direct.toSeq)
  }

  test("corr-subquery rows match the window-formulation recompute") {
    // independent formulation: per-part threshold via a window instead of
    // the decorrelated join-back
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    val qc = round(col("l_quantity") * 100).cast("long")
    val expected = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), qc.as("qc"),
        round(col("l_extendedprice") * 100).cast("long").as("epc"))
      .withColumn("sq", sum(col("qc")).over(w))
      .withColumn("cq", count(lit(1)).over(w))
      .filter(col("qc") * col("cq") * lit(5L) < col("sq"))
      .join(Tables.part(spark, sf).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg((sum(col("epc")) / 100.0).as("low_qty_revenue"), count(lit(1)).as("n_rows"))
      .orderBy("p_brand").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getAs[Long]("n_rows")))
    val got = Analytics.qCorrSubquery(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Double]("low_qty_revenue"), r.getAs[Long]("n_rows")))
    assert(got.toSeq === expected.toSeq)
  }

  test("count distribution conserves customers and non-F orders") {
    val rows = Analytics.qCountDistribution(spark, sf).collect()
      .map(r => r.getAs[Long]("c_count") -> r.getAs[Long]("custdist"))
    val nCust = Tables.customer(spark, sf).count()
    val nOrders = Tables.orders(spark, sf).filter(col("o_orderstatus") =!= "F").count()
    assert(rows.map(_._2).sum === nCust)
    assert(rows.map { case (c, n) => c * n }.sum === nOrders)
    assert(rows.exists(_._1 == 0L) || nOrders >= nCust) // zero bucket present unless every customer ordered
  }

  test("incremental agg merge law: merged partial states equal the full recompute") {
    val merged = Analytics.qIncrementalAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
        r.getAs[Double]("min_value"), r.getAs[Double]("max_value")))
    val vc = round(col("value") * 100).cast("long")
    val full = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), (sum(vc) / 100.0).as("total_value"),
        (min(vc) / 100.0).as("min_value"), (max(vc) / 100.0).as("max_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
        r.getAs[Double]("min_value"), r.getAs[Double]("max_value")))
    assert(merged.toSeq === full.toSeq)
    // the split is interior: both halves carry events
    val e = Tables.events(spark, sf)
    assert(e.filter(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp")).count() > 0)
    assert(e.filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")).count() > 0)
  }

  test("exists subquery equals the semi-join formulation") {
    val li = Tables.lineitem(spark, sf)
    val expected = Tables.orders(spark, sf).as("o")
      .join(li.as("l"), col("o.o_orderkey") === col("l.l_orderkey")
        && col("l.l_shipdate") > col("o.o_orderdate") + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n"))
    val got = Analytics.qExistsSubquery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_orders"))
    assert(got.toSeq === expected.toSeq)
  }

  test("having survivors all exceed the threshold and carry correct totals") {
    val rows = Analytics.qHaving(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("total_price") > 4000000.0))
    // cross-check one customer against a direct recompute
    val k = rows.head.getAs[Long]("c_custkey")
    val direct = Tables.orders(spark, sf).filter(col("o_custkey") === k)
      .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("t"),
        count(lit(1)).as("n")).collect().head
    assert(rows.head.getAs[Double]("total_price") === direct.getAs[Double]("t"))
    assert(rows.head.getAs[Long]("n_orders") === direct.getAs[Long]("n"))
  }

  test("scalar subquery: every surviving segment group only counts above-average inactive customers") {
    val bc = round(col("c_acctbal") * 100).cast("long")
    val stats = Tables.customer(spark, sf).filter(bc > 0)
      .agg(sum(bc).as("s"), count(lit(1)).as("n")).collect().head
    val (s, n) = (stats.getAs[Long]("s"), stats.getAs[Long]("n"))
    val active = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").distinct()
    val expected = Tables.customer(spark, sf)
      .filter(bc * n > s)
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_cust"))
      .orderBy("c_mktsegment").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_cust"))
    val got = Analytics.qScalarSubquery(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_cust"))
    assert(got.toSeq === expected.toSeq)
  }

  test("interval coverage: union length bounded by span and single-interval floor, segments disjoint") {
    val rows = Analytics.qIntervalCoverage(spark, sf).collect()
    assert(rows.length >= 1)
    val spans = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(((unix_millis(max(col("ts"))) + 600000L - unix_millis(min(col("ts")))) / 1000.0).as("span"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("span")).toMap
    rows.foreach { r =>
      val cov = r.getAs[Double]("covered_sec")
      assert(cov >= 600.0) // at least one interval
      assert(cov <= spans(r.getString(0)) + 1e-9) // union can't exceed the hull
      assert(r.getAs[Long]("n_segments") >= 1L)
    }
  }

  test("calendar fill: complete grid, zero cells present, counts conserve the filtered events") {
    val rows = Analytics.qCalendarFill(spark, sf).collect()
    val types = Tables.events(spark, sf).select("event_type").distinct().count()
    val days = Tables.events(spark, sf).select(to_date(col("ts")).as("d")).distinct().count()
    assert(rows.length === types * days) // dense grid: every (type, day) cell
    assert(rows.exists(_.getAs[Long]("n") === 0L)) // the zero-fill path is real
    val total = Tables.events(spark, sf).filter(col("value") > 330.0).count()
    assert(rows.map(_.getAs[Long]("n")).sum === total)
  }

  test("markov transitions conserve pair counts and rows sum to probability 1 per prev") {
    val rows = Analytics.qMarkovTransitions(spark, sf).collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type"),
        r.getAs[Long]("n"), r.getAs[Double]("p")))
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    // each user with k events contributes k-1 transitions
    assert(rows.map(_._3).sum === nEvents - nUsers)
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val total = rs.map(_._3).sum
      rs.foreach { case (_, _, n, p) => assert(p === n.toDouble / total, s"$prev p") }
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-9, s"$prev sums to 1")
    }
  }

  test("multi-exists: qualifying orders have >1 supplier and exactly one late one") {
    val li = Tables.lineitem(spark, sf)
    val perOs = li.groupBy("l_orderkey", "l_suppkey").agg(max("l_shipdate").as("ms"))
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", (col("ms") > col("o_orderdate") + expr("INTERVAL 90 DAY")).cast("long"))
    val perO = perOs.groupBy("l_orderkey").agg(count(lit(1)).as("ns"), sum("late").as("nl"))
    val expected = perOs.filter(col("late") === 1)
      .join(perO.filter(col("ns") > 1 && col("nl") === 1).select(col("l_orderkey").as("k")),
        col("l_orderkey") === col("k"))
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    val got = Analytics.qMultiExists(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("numwait"))
    assert(got.toMap === expected)
    assert(got.nonEmpty)
    // descending numwait with name tie-break
    val pairs = got.map { case (n, w) => (-w, n) }
    assert(pairs.sameElements(pairs.sorted))
  }

  test("cumulative users: conservation and monotonicity of the acquisition curve") {
    val rows = Analytics.qCumulativeUsers(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
        r.getAs[Long]("cum_users"))).sortBy(_._1)
    val totalUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_._3).sum === totalUsers) // every user is new exactly once
    assert(rows.last._4 === totalUsers)
    rows.foreach { case (_, active, nw, _) => assert(nw <= active) }
    val cums = rows.map(_._4)
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
  }


  test("runs: event conservation, alternating types, and contiguous validity chain") {
    val rows = Analytics.qRuns(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"), r.getString(2),
        r.getAs[String]("valid_from_s"), r.getAs[String]("valid_to_s"), r.getAs[Long]("n_events")))
    assert(rows.map(_._6).sum === Tables.events(spark, sf).count())
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (1L to ordered.length.toLong))
      // adjacent runs change type (that is what makes them runs)
      ordered.map(_._3).sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) != w(1))
      }
      // valid_to of run k is valid_from of run k+1; last run is open
      ordered.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0)._5 === w(1)._4)
      }
      assert(ordered.last._5 === null)
    }
  }

  test("column stats: ndv and null counts match direct recomputes") {
    val rows = Analytics.qColumnStats(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
        r.getAs[Long]("ndv")))).toMap
    val n = Tables.events(spark, sf).count()
    assert(rows.keySet === Set("event_id", "user_id", "event_type", "value_cents", "props"))
    rows.values.foreach { case (nr, _, _) => assert(nr === n) }
    assert(rows("event_id")._3 === n) // unique key
    assert(rows("event_type")._3 === Tables.events(spark, sf).select("event_type").distinct().count())
    assert(rows("user_id")._3 === Tables.events(spark, sf).select("user_id").distinct().count())
  }

  // Spark/DuckDB round() is HALF_UP (away from zero); Java's Math.round
  // rounds toward +inf — they differ on exact negative .5 values.
  private def centsOf(x: Double): Long =
    new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  test("gini matches a naive driver-side recompute and sits in [0, 1)") {
    val counts = Tables.events(spark, sf).select("event_type", "user_id").collect()
      .groupBy(r => (r.getString(0), r.getLong(1))).view.mapValues(_.length.toLong).toMap
    val expected = counts.groupBy(_._1._1).map { case (et, m) =>
      val cs = m.values.toSeq.sorted
      val n = cs.length.toLong
      val s = cs.sum
      val wsum = cs.zipWithIndex.map { case (c, i) => (i + 1L) * c }.sum
      et -> (2L * wsum - (n + 1L) * s).toDouble / (n * s).toDouble
    }
    val got = Analytics.qGini(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("gini")).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (et, g) =>
      assert(g === expected(et), s"$et gini mismatch")
      assert(g >= 0.0 && g < 1.0)
    }
  }

  test("rfm scores match a naive global-sort recompute of the discrete cuts") {
    val raw = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val mxd = raw.map(_._2).max
    val u = raw.groupBy(_._1).map { case (uid, rows) =>
      val rec = java.time.temporal.ChronoUnit.DAYS.between(rows.map(_._2).max, mxd)
      (uid, rec, rows.length.toLong, rows.map(t => centsOf(t._3 * 100)).sum)
    }.toSeq
    val n = u.length
    def cuts(vs: Seq[Long]): Seq[Long] = {
      val sorted = vs.sorted
      Seq(20, 40, 60, 80).map(p => sorted(((n * p + 99) / 100) - 1))
    }
    def score(v: Long, cs: Seq[Long]): Long = 1L + cs.count(v > _)
    val (cr, cf, cm) = (cuts(u.map(_._2)), cuts(u.map(_._3)), cuts(u.map(_._4)))
    val expected = u.map { case (uid, rec, fq, mon) =>
      uid -> ((6L - score(rec, cr), score(fq, cf), score(mon, cm)))
    }.toMap
    val rows = Analytics.qRfm(spark, sf).collect()
    assert(rows.length === n)
    rows.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val got = (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"), r.getAs[Long]("m_score"))
      assert(got === expected(uid), s"user $uid score mismatch")
      Seq(got._1, got._2, got._3).foreach(s => assert(s >= 1L && s <= 5L))
      assert(r.getAs[String]("segment") === s"${got._1}${got._2}${got._3}")
    }
  }

  test("dau/mau matches a naive trailing-window recompute") {
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val days = ud.map(_._2).distinct.sorted
    val rows = Analytics.qDauMau(spark, sf).collect()
    assert(rows.map(_.getAs[String]("day_s")).toSeq === days.map(_.toString))
    rows.foreach { r =>
      val d = java.time.LocalDate.parse(r.getAs[String]("day_s"))
      val dau = ud.count(_._2 == d).toLong
      val mau = ud.filter { case (_, ad) =>
        !ad.isAfter(d) && ad.isAfter(d.minusDays(30))
      }.map(_._1).distinct.length.toLong
      assert(r.getAs[Long]("dau") === dau)
      assert(r.getAs[Long]("mau") === mau, s"mau mismatch on $d")
      assert(r.getAs[Double]("stickiness") === dau.toDouble / mau.toDouble)
    }
  }

  test("heavy hitters: exactly the users above the basis-point threshold") {
    val total = Tables.events(spark, sf).count()
    val expected = Tables.events(spark, sf).groupBy("user_id").count().collect()
      .filter(r => r.getAs[Long]("count") * 10000L > total * 75L)
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    val got = Analytics.qHeavyHitters(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    assert(got === expected)
    Analytics.qHeavyHitters(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("share_bp") > 75.0)
    }
  }

  test("q_overlap_matrix agrees with brute-force set intersection") {
    val ud = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .distinct().collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
    val sets = ud.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val rows = Analytics.qOverlapMatrix(spark, sf).collect()
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      assert(a < b) // ordered pairs, no diagonal, no mirror duplicates
      val inter = (sets(a) intersect sets(b)).size.toLong
      assert(r.getAs[Long]("n_a") === sets(a).size.toLong)
      assert(r.getAs[Long]("n_b") === sets(b).size.toLong)
      assert(r.getAs[Long]("n_both") === inter)
      assert(r.getAs[Double]("jaccard") ===
        inter.toDouble / (sets(a).size + sets(b).size - inter).toDouble)
    }
    // every co-occurring pair is present
    val expectPairs = (for {
      a <- sets.keys; b <- sets.keys if a < b
      if (sets(a) intersect sets(b)).nonEmpty
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet === expectPairs)
  }

  test("q7_nation_volume conserves total cross-nation volume") {
    val rows = Analytics.q7NationVolume(spark, sf).collect()
    rows.foreach { r => assert(r.getAs[String]("supp_nation") !== r.getAs[String]("cust_nation")) }
    // independently recompute the grand total in integer cents
    val totalCents = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .agg(sum(expr("cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))")))
      .collect().head.getLong(0)
    // undo each group's single /10^4 division: the double sits within
    // ~1e-7 of the true quotient, so HALF_UP rounding recovers exact cents
    val gotCents = rows.map { r =>
      (BigDecimal(r.getAs[Double]("revenue")) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    assert(gotCents === totalCents)
  }

  test("q_merge_upsert on the corpus: delta wins, keys conserved") {
    val rows = Analytics.qMergeUpsert(spark, sf).collect()
    val allUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.length.toLong === allUsers)
    rows.foreach { r =>
      val (b, d) = (r.getAs[java.lang.Long]("base_cents"), r.getAs[java.lang.Long]("delta_cents"))
      val expect = if (d != null) d else b
      assert(r.getAs[Long]("merged_cents") === expect.longValue)
    }
  }

  test("q_merge_upsert synthetic: all three MERGE actions labeled correctly") {
    import spark.implicits._
    // user 1 base-only (keep), user 2 both (update, delta wins),
    // user 3 delta-only (insert); user 2 has two delta rows — latest wins
    val ev = Seq(
      (1L, "2024-01-10 00:00:00", 10L, 1.00),
      (2L, "2024-01-11 00:00:00", 11L, 2.00),
      (2L, "2024-01-16 01:00:00", 12L, 3.00),
      (2L, "2024-01-16 02:00:00", 13L, 4.00),
      (3L, "2024-01-17 00:00:00", 14L, 5.00)
    ).toDF("user_id", "ts_s", "event_id", "value")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"),
        col("event_id"), col("value"))
    val got = Analytics.mergeUpsertFrom(ev, "2024-01-16 00:00:00").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("action"), r.getAs[Long]("merged_cents"))).toMap
    assert(got === Map(
      1L -> ("keep", 100L), 2L -> ("update", 400L), 3L -> ("insert", 500L)))
  }

  test("q17 synthetic: the 20%-of-average boundary is strict and averages stay per-part") {
    import spark.implicits._
    // part 1: quantities 1,4,5,10 → avg 5; the qty=1 line sits EXACTLY at
    // 20% of the average (1 = 0.2·5 ⟺ 1·5·4 = 20 = sum) and must NOT
    // count — the inequality is strict, so BrandA vanishes entirely.
    // part 2: quantities 1,19 → avg 10; qty=1 is strictly under 20%·avg
    // (1·5·2 = 10 < 20 = sum) and only its price reaches the brand sum.
    val l = Seq(
      (1L, 1.0, 100.0), (1L, 4.0, 1.0), (1L, 5.0, 1.0), (1L, 10.0, 1.0),
      (2L, 1.0, 7.50), (2L, 19.0, 1.0)
    ).toDF("l_partkey", "l_quantity", "l_extendedprice")
    val p = Seq((1L, "BrandA"), (2L, "BrandB")).toDF("p_partkey", "p_brand")
    val got = Analytics.q17From(l, p).collect()
      .map(r => r.getAs[String]("p_brand") ->
        (r.getAs[Long]("n_small_lines"), r.getAs[Double]("small_revenue"))).toMap
    assert(got === Map("BrandB" -> (1L, 7.50))) // BrandA's boundary line excluded
  }

  test("q_min_cost_supplier synthetic: smallest suppkey wins an exact price tie") {
    import spark.implicits._
    // part 1: suppliers 7 and 3 tie at 5.00 → 3 must win; supplier 9 cheaper
    // on a DIFFERENT part must not leak in. part 2: no tie, cheapest wins.
    val l = Seq(
      (1L, 7L, 5.00), (1L, 3L, 5.00), (1L, 9L, 6.00),
      (2L, 9L, 1.00), (2L, 1L, 2.00)
    ).toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val got = Analytics.minCostBest(l).collect()
      .map(r => r.getAs[Long]("partkey") ->
        (r.getAs[Double]("min_price"), r.getAs[Long]("suppkey"))).toMap
    assert(got === Map(1L -> (5.00, 3L), 2L -> (1.00, 9L)))
  }

  test("q6 equals a driver-side recompute of the same integer lattice") {
    val rows = Analytics.q6ForecastRevenue(spark, sf).collect()
    assert(rows.length === 1)
    val (n, rc4) = (rows(0).getAs[Long]("n_lines"), rows(0).getAs[Long]("revenue_c4"))
    assert(n > 0 && rc4 > 0)
    assert(rows(0).getAs[Double]("revenue") === rc4 / 10000.0)
    val expect = Tables.lineitem(spark, sf)
      .select("l_shipdate", "l_quantity", "l_extendedprice", "l_discount").collect()
      .filter { r =>
        // l_shipdate is timestamp_ntz -> collect() yields LocalDateTime,
        // whose toString is the stored wall-clock value (no JVM-default-TZ
        // conversion), so the string date cut is timezone-robust
        val sd = r.getAs[Any]("l_shipdate").toString.take(10)
        val dc = math.round(r.getAs[Double]("l_discount") * 100)
        sd >= "1996-01-01" && sd <= "1996-12-31" && dc >= 5 && dc <= 7 &&
          r.getAs[Double]("l_quantity") < 24.0
      }
      .map(r => math.round(r.getAs[Double]("l_extendedprice") * 100) *
        math.round(r.getAs[Double]("l_discount") * 100)).sum
    assert(rc4 === expect)
  }

  test("q10 returns at most 20 customers in strict revenue order") {
    val rows = Analytics.q10ReturnedItems(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Long]("revenue_c4"))
    assert(revs.sameElements(revs.sortBy(-_)))
    assert(rows.map(_.getAs[Long]("custkey")).distinct.length === rows.length)
  }

  test("q18 survivors all clear the quantity threshold, ordered by totalprice") {
    val rows = Analytics.q18LargeOrders(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach(r => assert(r.getAs[Double]("sum_qty") > 250.0))
    val tps = rows.map(_.getAs[Long]("totalprice_c"))
    assert(tps.sameElements(tps.sortBy(-_)))
  }

  test("q_event_dedup synthetic: retries inside the debounce window drop, the rest survive") {
    import spark.implicits._
    // user 1, same (type, cents) key: t=0 kept, t=100s dropped (within 5
    // min of the previous OCCURRENCE), t=401s kept (301s after the t=100
    // retry — debounce measures from the previous occurrence, kept or not).
    // ids 4/5 share one timestamp: the lower id wins the tie, the higher
    // sees gap 0 and drops. id 6 has a different cents key and never drops.
    val ev = Seq(
      (1L, 1L, "click", "2024-01-01 00:00:00", 1.00),
      (2L, 1L, "click", "2024-01-01 00:01:40", 1.00),
      (3L, 1L, "click", "2024-01-01 00:06:41", 1.00),
      (4L, 1L, "click", "2024-01-01 01:00:00", 1.00),
      (5L, 1L, "click", "2024-01-01 01:00:00", 1.00),
      (6L, 1L, "click", "2024-01-01 00:01:40", 2.00)
    ).toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_s").cast("timestamp").as("ts"), col("value"))
    val kept = Analytics.qEventDedupFrom(ev).collect().map(_.getAs[Long]("event_id")).toSet
    assert(kept === Set(1L, 3L, 4L, 6L))
  }

  test("q_decay_sum synthetic: power-of-two weights match the hand sum and the age cap bites") {
    import spark.implicits._
    // anchor day = 2024-01-21 (user 2's event). user 1: same-day event
    // weighs 2^16, a 3-day-old one 2^13, a 20-day-old one caps at 2^0.
    val ev = Seq(
      (1L, "2024-01-21 10:00:00", 1.00),
      (1L, "2024-01-18 09:00:00", 2.00),
      (1L, "2024-01-01 08:00:00", 1.00),
      (2L, "2024-01-21 23:59:59", 0.50)
    ).toDF("user_id", "ts_s", "value")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"), col("value"))
    val got = Analytics.qDecaySumFrom(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("decayed_c"), r.getAs[Double]("decayed"))).toMap
    val u1 = 100L * 65536L + 200L * 8192L + 100L * 1L
    assert(got === Map(
      1L -> (3L, u1, u1 / 6553600.0),
      2L -> (1L, 50L * 65536L, 50L * 65536L / 6553600.0)))
  }

  test("q8 shares are valid fractions and total revenue conserves the joined cents") {
    val rows = Analytics.q8MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("mkt_share")
      assert(s >= 0.0 && s <= 1.0)
    }
    // independently recompute the market's total revenue in exact 10^-4 units
    val total = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .agg(sum(expr(
        "cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))")))
      .collect().head.getLong(0)
    val got = rows.map { r =>
      (BigDecimal(r.getAs[Double]("total_revenue")) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    assert(got === total)
  }

  test("q9 profit conserves the independently computed ungrouped total") {
    val rows = Analytics.q9ProductProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(expr(
        """cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))
           - cast(round(p_retailprice*100) as long) * cast(round(l_quantity) as long) * 100""")))
      .collect().head.getLong(0)
    val got = rows.map { r =>
      (BigDecimal(r.getAs[Double]("sum_profit")) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    assert(got === total)
  }

  test("q11 reports exactly the parts clearing the 0.02% threshold") {
    val perPart = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf).filter(col("n_name") === "NATION_3"),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr(
        "cast(round(l_quantity) as long) * cast(round(p_retailprice*100) as long)")).as("vc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tot = perPart.values.sum
    val expected = perPart.filter { case (_, vc) => vc * 10000L > tot * 2L }.keySet
    val got = Analytics.q11ImportantParts(spark, sf).collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    assert(got === expected && got.nonEmpty)
  }

  test("q12 high+low counts reconcile with an independent late-line census") {
    val rows = Analytics.q12LatePriority(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(Set("A", "N", "R").contains(r.getAs[String]("l_returnflag"))))
    val lateTotal = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .count()
    val got = rows.map(r =>
      r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    assert(got === lateTotal)
  }

  test("q15 winners carry exactly the maximum per-supplier quarter revenue") {
    val per = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(
        "cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))")).as("rc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mx = per.values.max
    val expected = per.filter(_._2 == mx).keySet
    val rows = Analytics.q15TopSupplier(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("s_suppkey")).toSet === expected)
    rows.foreach { r =>
      val rc = (BigDecimal(r.getAs[Double]("total_revenue")) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(rc === mx)
    }
  }

  test("q16 never counts a complaint supplier and matches a full recompute") {
    val bad = Tables.supplier(spark, sf).filter(col("s_acctbal") < 0)
      .collect().map(_.getAs[Long]("s_suppkey")).toSet
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%") &&
        col("p_size") <= 8)
      .select("p_brand", "p_type", "p_size", "l_suppkey")
      .collect()
      .filter(r => !bad.contains(r.getAs[Long]("l_suppkey")))
      .groupBy(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .view.mapValues(_.map(_.getAs[Long]("l_suppkey")).distinct.size.toLong).toMap
    val got = Analytics.q16SupplierVariety(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getAs[Long]("supplier_cnt")).toMap
    assert(got === expected && got.nonEmpty)
  }

  test("q_bitmap_intersect distribution equals an in-process mask recompute") {
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"),
        expr("(cast(ts as long) div 3600) % 24").as("hr")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getString(1), r.getAs[Long]("hr")))
    val masks = ev.groupBy(_._1).view.mapValues { g =>
      val ma = g.filter(_._2 == "view").map(t => 1L << t._3).fold(0L)(_ | _)
      val mb = g.filter(_._2 == "purchase").map(t => 1L << t._3).fold(0L)(_ | _)
      (ma, mb)
    }.toMap
    val expected = masks.values
      .groupBy { case (ma, mb) => java.lang.Long.bitCount(ma & mb).toLong }
      .view.mapValues { g =>
        (g.size.toLong, g.count { case (ma, mb) => (ma & mb) != 0L }.toLong)
      }.toMap
    val rows = Analytics.qBitmapIntersect(spark, sf).collect()
    assert(rows.map(r => r.getAs[Long]("n_hours_both") ->
      ((r.getAs[Long]("n_users"), r.getAs[Long]("n_users_overlapping")))).toMap === expected)
    // conservation: every user with a view or purchase appears exactly once
    assert(rows.map(_.getAs[Long]("n_users")).sum === masks.size.toLong)
  }

  test("q20 reports exactly the suppliers dominating some blue part's 1997 volume") {
    val ps = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.part(spark, sf).filter(col("p_name").like("%blue%")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(expr("cast(round(l_quantity) as long)")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totals = ps.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = ps.filter { case (pk, _, q) => q * 3L > totals(pk) * 2L }
      .map(_._2).toSet
    val got = Analytics.q20VolumeSuppliers(spark, sf).collect()
      .map(_.getAs[Long]("s_suppkey")).toSet
    assert(got === expected && got.nonEmpty)
  }

  test("q_window_funnel matches a per-anchor greedy recompute") {
    import org.apache.spark.sql.functions.unix_micros
    val winUs = 14400L * 1000000L
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"), r.getAs[Long]("us")))
    val byUser = ev.groupBy(_._1)
    val depths = byUser.map { case (u, es) =>
      def of(t: String) = es.filter(_._2 == t).map(_._3).sorted
      val (views, clicks, purchases) = (of("view"), of("click"), of("purchase"))
      val perAnchor = views.distinct.map { t1 =>
        clicks.find(tc => tc > t1 && tc <= t1 + winUs) match {
          case None => 1L
          case Some(t2) =>
            if (purchases.exists(tp => tp > t2 && tp <= t1 + winUs)) 3L else 2L
        }
      }
      val depth = if (perAnchor.isEmpty) 0L else perAnchor.max
      u -> depth
    }.filter(_._2 > 0L)
    val expected = depths.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = Analytics.qWindowFunnel(spark, sf).collect()
      .map(r => r.getAs[Long]("depth") -> r.getAs[Long]("n_users")).toMap
    assert(got === expected)
    // greedy-earliest is optimal for a fixed anchor, so depth counts are a
    // partition of viewing users
    assert(got.values.sum === depths.size.toLong)
  }

  test("q_ab_test: counts reconcile with a direct per-user scan and chi2 matches the closed form") {
    import org.apache.spark.sql.functions._
    val r = Analytics.qAbTest(spark, sf).collect().head
    val (na, ca, nb, cb) = (r.getAs[Long]("n_a"), r.getAs[Long]("conv_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("conv_b"))
    // direct per-user recomputation of the 2x2 table (heavy purchaser =
    // purchases exceed 20% of the user's events)
    val users = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(g => g.count(_.getString(1) == "purchase") * 5 > g.size).toMap
    def variant(u: Long): Long = {
      // first two md5 hex chars = first digest byte, unsigned
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      ((h(0) & 0xff) % 2).toLong
    }
    val a = users.keys.filter(variant(_) == 0)
    val b = users.keys.filter(variant(_) == 1)
    assert(na === a.size.toLong && nb === b.size.toLong)
    assert(ca === a.count(users(_)).toLong && cb === b.count(users(_)).toLong)
    assert(r.getAs[Long]("conv_a_ppm") === Math.floorDiv(ca * 1000000L, na))
    assert(r.getAs[Long]("lift_ppm") ===
      Math.floorDiv(ca * 1000000L, na) - Math.floorDiv(cb * 1000000L, nb))
    // the fixed double tree, replayed with the identical parenthesization
    val dd = ca.toDouble * (nb - cb).toDouble - cb.toDouble * (na - ca).toDouble
    val want = ((na + nb).toDouble * dd * dd) /
      (na.toDouble * nb.toDouble * (ca + cb).toDouble * (na + nb - ca - cb).toDouble)
    assert(r.getAs[Double]("chi2") === want)
  }

  test("q_funnel_time equals a direct per-user delay recompute") {
    import org.apache.spark.sql.functions._
    val r = Analytics.qFunnelTime(spark, sf).collect().head
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val delays = byUser.values.flatMap { g =>
      val views = g.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val v0 = views.min
        val ps = g.filter(e => e._2 == "purchase" && e._3 >= v0).map(_._3)
        if (ps.isEmpty) None else Some((ps.min - v0) / 60L)
      }
    }.toSeq.sorted
    assert(r.getAs[Long]("n_converted") === delays.size.toLong)
    def rank(p: Int) = ((delays.size.toLong * p + 99) / 100).toInt - 1
    assert(r.getAs[Long]("p50_min") === delays(rank(50)))
    assert(r.getAs[Long]("p90_min") === delays(rank(90)))
  }

  test("q_promo_share FK contract: guard passes on the corpus, fails loudly on an orphan key") {
    // The join-free total in qPromoShare assumes every l_partkey resolves
    // into part (r17 advice). Assert the contract holds on the test
    // corpus, then that the debug guard actually throws when it doesn't —
    // an FK-violating corpus must fail, not silently shift the share.
    import org.apache.spark.sql.functions._
    val orphans = graft.sources.Tables.lineitem(spark, sf).select("l_partkey")
      .join(graft.sources.Tables.part(spark, sf).select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_anti").count()
    assert(orphans === 0L, "testdata violates the lineitem→part FK contract")
    spark.conf.set("spark.graft.debug.assertFk", "true")
    try {
      // guard on: the clean corpus still constructs (and computes) fine
      assert(Analytics.qPromoShare(spark, sf).collect().nonEmpty)
      // guard on + violating corpus: loud failure at construction
      val dir = scratchDir("fkviol-").toString
      import spark.implicits._
      graft.sources.Tables.lineitem(spark, sf)
        .withColumn("l_partkey", col("l_partkey") + lit(1000000000L))
        .write.parquet(s"$dir/lineitem.parquet")
      graft.sources.Tables.part(spark, sf).write.parquet(s"$dir/part.parquet")
      val e = intercept[IllegalArgumentException] {
        Analytics.qPromoShare(spark, dir)
      }
      assert(e.getMessage.contains("FK contract violated"))
    } finally spark.conf.set("spark.graft.debug.assertFk", "false")
  }

  test("memoSide gate: lazy below the leaf-byte floor, memoized when forced; " +
    "SHJ pin yields to broadcast below the threshold") {
    // r19 (r18 verdict #2/#5): sf0.001 leaves are KBs — far below the
    // 16 MB default gate — so q17's per-part stats side must stay LAZY
    // (no persist, no InMemoryTableScan) and q12's probe side must keep
    // the static broadcast. Forcing the gate to 0 re-enables the memo;
    // disabling auto-broadcast re-engages the SHUFFLE_HASH pin (the
    // 100 TB shape SCALING.md's join-constant race measured).
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    graft.operators.Analytics.releaseCaches()
    assert(!planOf("q17_small_qty_revenue").contains("InMemoryTableScan"),
      "q17 side should be lazy below the gate")
    assert(planOf("q12_late_priority").contains("BroadcastHashJoin"),
      "q12 should broadcast below the threshold")
    try {
      spark.conf.set("spark.graft.memoSide.minLeafBytes", "0")
      graft.operators.Analytics.releaseCaches()
      assert(planOf("q17_small_qty_revenue").contains("InMemoryTableScan"),
        "gate=0 must restore the memoized side")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(planOf("q12_late_priority").contains("ShuffledHashJoin"),
        "past the threshold the SHJ pin must hold (no SMJ sorts)")
    } finally {
      spark.conf.unset("spark.graft.memoSide.minLeafBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64 * 1024 * 1024).toString)
      graft.operators.Analytics.releaseCaches()
    }
  }
}
