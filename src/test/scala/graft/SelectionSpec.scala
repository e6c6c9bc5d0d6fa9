package graft

import org.apache.spark.sql.functions._
import graft.operators.Selection

class SelectionSpec extends SparkSpec {

  test("ds_load_epoch applies the -2h UTC correction to the selection key") {
    val rows = Selection.dsLoadEpoch(spark, sf).limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val selKey = r.getAs[String]("sel_key")
      val tsS = r.getAs[String]("ts_s")
      // key = corrected minute + ' ' + salt, and ts_s is the same corrected
      // instant at second precision
      assert(selKey.startsWith(tsS.substring(0, 16)))
    }
  }

  test("rect anti-select result is the rect selection minus box B") {
    val sel = Selection.dsRectSelect(spark, sf).select("sel_key")
    val anti = Selection.dsRectAntiselect(spark, sf).select("sel_key")
    // anti ⊆ sel, and nothing in anti is in box B (checked via difference
    // cardinality: |sel| - |anti| = |sel ∩ B|)
    assert(anti.except(sel).count() === 0)
    assert(anti.count() <= sel.count())
  }

  test("click toggle is the symmetric difference of selection and clicks") {
    val a = Selection.dsRectSelect(spark, sf).select("sel_key")
    val t = Selection.dsClickToggle(spark, sf).select("sel_key")
    // recompute the click set C with the operator's parameters, then check
    // t == (A ∖ C) ∪ (C ∖ A) exactly
    val ev = graft.sources.Tables.events(spark, sf)
    val epochSec = unix_timestamp(col("ts")) - lit(7200L)
    val c = ev.withColumn("cts", timestamp_seconds(epochSec))
      .withColumn("sel_key", concat(date_format(col("cts"), "yyyy-MM-dd HH:mm"),
        lit(" "), col("user_id").cast("string")))
      .filter(col("event_type") === "error" && col("event_id") % 7 === 0 &&
        col("cts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("cts") <= lit("2024-01-25 00:00:00").cast("timestamp") &&
        col("value") >= 50.0 && col("value") <= 320.0)
      .select("sel_key").distinct()
    val expected = a.except(c).union(c.except(a)).distinct()
    assert(t.except(expected).count() === 0 && expected.except(t).count() === 0)
  }

  test("rect anti-select and click toggle each read events once") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    Seq("ds_rect_antiselect", "ds_click_toggle").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      assert(plan.collectLeaves().count(_.isInstanceOf[LogicalRelation]) === 1, name)
    }
  }

  test("apply_filter removes exactly the selected (compound, key) rows") {
    val total = graft.sources.Tables.events(spark, sf).count()
    val kept = Selection.dsApplyFilter(spark, sf).count()
    val removed = total - kept
    assert(removed > 0, "selection should remove outlier rows")
    // every surviving row has value <= 280 OR a different compound/key — at
    // minimum no survivor can itself be in the selection box
    val survivorsInBox = Selection.dsApplyFilter(spark, sf)
      .filter(col("value") > 280.0).count()
    assert(survivorsInBox === 0)
  }

  test("ds_sel_import: export → parse → apply equals direct apply") {
    // the operator itself round-trips through the reference JSON bytes;
    // here we pin the equivalence it claims: per-compound kept/dropped
    // counts equal the counts from applying the selection SET directly
    // (pair-based, not predicate-based: a flagged (compound, sel_key)
    // drops every row sharing the minute+user key, not just the >320 row)
    val viaImport = Selection.dsSelImport(spark, sf).collect()
    val epochSec = unix_timestamp(col("ts")) - lit(7200L)
    val k = graft.sources.Tables.events(spark, sf)
      .withColumnRenamed("event_type", "compound")
      .withColumn("sel_key", concat(
        date_format(timestamp_seconds(epochSec), "yyyy-MM-dd HH:mm"),
        lit(" "), col("user_id").cast("string")))
    val sel = k.filter(col("value") > 320.0)
      .select("compound", "sel_key").distinct().withColumn("_hit", lit(1))
    val direct = k.join(sel, Seq("compound", "sel_key"), "left")
      .groupBy("compound")
      .agg(count(when(col("_hit").isNull, 1)).as("kept_ct"),
        count(col("_hit")).as("dropped_ct"))
      .orderBy("compound").collect()
    assert(viaImport.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(viaImport.map(_.getLong(2)).sum > 0, "selection should drop rows")
  }

  test("extent rounds the numeric axis to multiples of yAxisRound=50") {
    Selection.dsExtent(spark, sf).collect().foreach { r =>
      assert(r.getAs[Double]("y_min") % 50 === 0.0)
      assert(r.getAs[Double]("y_max") % 50 === 0.0)
      assert(r.getAs[Double]("y_min") <= r.getAs[Double]("y_max"))
    }
  }

  test("zoom clamp output windows are at least the zoom limit or the full extent") {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    Selection.dsZoomClamp(spark, sf).collect().foreach { r =>
      val z0 = fmt.parse(r.getAs[String]("z0_s")).getTime
      val z1 = fmt.parse(r.getAs[String]("z1_s")).getTime
      assert(z1 > z0)
    }
  }

  test("zoom history: depth and top limits match a literal stack simulation") {
    // independently replay the action log with a real mutable stack —
    // push-if-different and pop semantics exactly as the reference keeps them
    import graft.sources.Tables
    val rows = Tables.events(spark, sf)
      .select(col("event_type").as("compound"), col("event_id"), col("value"),
        (unix_timestamp(col("ts")) - 7200L).as("sec"))
      .collect()
      .map(r => (r.getAs[String]("compound"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("sec") * 1000L))
    val expected = rows.groupBy(_._1).map { case (compound, rs) =>
      val log = rs.sortBy(r => (r._4, r._2)).take(12)
      val stack = scala.collection.mutable.Stack[(Long, Long, Double, Double)]()
      log.zipWithIndex.foreach { case ((_, _, value, ms), idx) =>
        val i = idx + 1L
        if (i % 5 == 0) { if (stack.nonEmpty) stack.pop() }
        else {
          val lim = (ms - ms % 86400000L, ms + i * 86400000L,
            math.floor(value / 50) * 50, math.ceil(value / 50) * 50)
          if (stack.isEmpty || stack.top != lim) stack.push(lim)
        }
      }
      compound -> (stack.size.toLong, stack.top)
    }
    val got = Selection.dsZoomHistory(spark, sf).collect()
    assert(got.length === expected.size)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    got.foreach { r =>
      val (depth, (x0, x1, y0, y1)) = expected(r.getAs[String]("compound"))
      assert(r.getAs[Long]("final_depth") === depth)
      assert(fmt.parse(r.getAs[String]("x0_s")).getTime === x0)
      assert(fmt.parse(r.getAs[String]("x1_s")).getTime === x1)
      assert(r.getAs[Double]("y0") === y0)
      assert(r.getAs[Double]("y1") === y1)
    }
  }

  test("zoom planes: one stack per (compound, plane) with identical depth evolution") {
    val rows = Selection.dsZoomPlanes(spark, sf).collect()
    // the full config lattice: xOptions {date, meas_date} × yOptions
    // {month, day, year, MR} keyed exactly like joinXYStrings
    val expectedPlanes = (for {
      x <- Seq("date", "meas_date"); y <- Seq("month", "day", "year", "MR")
    } yield s"x${x}_y$y").sorted
    val byCompound = rows.groupBy(_.getAs[String]("compound"))
    byCompound.foreach { case (_, rs) =>
      // all 8 planes present, and the pop cadence (i % 5) is plane-independent
      assert(rs.map(_.getAs[String]("plane")).sorted.toSeq === expectedPlanes)
      assert(rs.map(_.getAs[Long]("final_depth")).distinct.length === 1)
      // each surviving top is a well-formed ±i window
      rs.foreach(r => assert(r.getAs[Long]("x1") > r.getAs[Long]("x0")))
    }
  }

  test("zoom planes: config-driven lattice covers a 2x2 xOptions x yOptions product") {
    import org.apache.spark.sql.functions._
    // the reference initializes one stack per (xOption, yOption) pair
    // (index.js:693-700); drive the same operator with a 4-plane lattice
    val lattice = Seq(
      Selection.ZoomPlane("time_value", col("ms"), col("value")),
      Selection.ZoomPlane("time_k", col("ms"),
        get_json_object(col("props"), "$.k").cast("double")),
      Selection.ZoomPlane("k_value",
        get_json_object(col("props"), "$.k").cast("long"), col("value")),
      Selection.ZoomPlane("k_k",
        get_json_object(col("props"), "$.k").cast("long"),
        get_json_object(col("props"), "$.k").cast("double")))
    val rows = Selection.zoomPlanes(spark, sf, lattice).collect()
    val byCompound = rows.groupBy(_.getAs[String]("compound"))
    assert(byCompound.nonEmpty)
    byCompound.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[String]("plane")).sorted.toSeq ===
        Seq("k_k", "k_value", "time_k", "time_value"))
      // same pop cadence in every plane ⇒ identical final depth
      assert(rs.map(_.getAs[Long]("final_depth")).distinct.length === 1)
      rs.foreach(r => assert(r.getAs[Long]("x1") > r.getAs[Long]("x0")))
    }
    // the config lattice is exactly the verified oracle instance
    val defaults = Selection.zoomPlanes(spark, sf, Selection.ConfigZoomPlanes)
    assert(defaults.collect().toSeq === Selection.dsZoomPlanes(spark, sf).collect().toSeq)
  }

  test("zoom replay: matches an independent stack machine and exercises both edge rules") {
    val log = Selection.zoomReplayLog(spark, sf).collect()
    var skips, overpops = 0
    val expected = log.groupBy(_.getAs[String]("compound")).map { case (compound, rs) =>
      val stack = scala.collection.mutable.Stack[(Long, Long, Double, Double)]()
      rs.sortBy(_.getAs[Long]("i")).foreach { r =>
        if (r.getAs[Boolean]("pop")) {
          if (stack.nonEmpty) stack.pop() else overpops += 1
        } else {
          val lim = (r.getAs[Long]("x0"), r.getAs[Long]("x1"),
            r.getAs[Double]("y0"), r.getAs[Double]("y1"))
          if (stack.nonEmpty && stack.top == lim) skips += 1 else stack.push(lim)
        }
      }
      val e = rs.head
      compound -> (if (stack.nonEmpty) (stack.size.toLong, "stack", stack.top)
      else (0L, "extent", (e.getAs[Long]("ext_x0"), e.getAs[Long]("ext_x1"),
        e.getAs[Double]("ext_y0"), e.getAs[Double]("ext_y1"))))
    }
    // the log must actually reach the two stack-state-dependent branches
    assert(skips > 0, "no equal-limit push was ever skipped")
    assert(overpops > 0, "no pop ever hit an empty stack")
    val got = Selection.dsZoomReplay(spark, sf).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (depth, src, (x0, x1, y0, y1)) = expected(r.getAs[String]("compound"))
      assert(r.getAs[Long]("final_depth") === depth)
      assert(r.getAs[String]("src") === src)
      assert(r.getAs[Long]("x0") === x0)
      assert(r.getAs[Long]("x1") === x1)
      assert(r.getAs[Double]("y0") === y0)
      assert(r.getAs[Double]("y1") === y1)
    }
    // both final branches appear across compounds
    assert(got.map(_.getAs[String]("src")).distinct.sorted.toSeq === Seq("extent", "stack"))
  }

  test("outlier flags match a local median/MAD recomputation exactly") {
    val raw = Selection.dsLoadEpoch(spark, sf)
      .select("event_id", "compound", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def discMedian(xs: Seq[(Double, Long)]): Double =
      xs.sortBy(identity).apply(((xs.size + 1) / 2) - 1)._1
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (c, g) =>
      val med = discMedian(g.map(r => (r._3, r._1)).toSeq)
      val devs = g.map(r => (r._1, math.abs(r._3 - med)))
      val mad = discMedian(devs.map { case (id, d) => (d, id) }.toSeq)
      devs.filter(_._2 > 3.0 * mad).map { case (id, _) => id -> ((c, med, mad)) }.toSeq
    }.toMap
    val got = Selection.dsOutlierMad(spark, sf).collect()
    assert(got.length === expected.size)
    assert(got.nonEmpty, "synthetic events should contain MAD outliers")
    got.foreach { r =>
      val (c, med, mad) = expected(r.getLong(0))
      assert(r.getString(1) === c)
      assert(r.getAs[Double]("med") === med)
      assert(r.getAs[Double]("mad") === mad)
    }
  }

  test("resampling matches a local interpolation over collapsed samples exactly") {
    val raw = Selection.dsLoadEpoch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        java.time.LocalDateTime.parse(r.getAs[String]("ts_s").replace(" ", "T"))
          .toEpochSecond(java.time.ZoneOffset.UTC)))
    val step = 6L * 3600
    val expected = raw.groupBy(_._2).toSeq.flatMap { case (c, g) =>
      // collapse same-second samples to the max-event_id value
      val samples = g.groupBy(_._4).map { case (sec, rs) => sec -> rs.maxBy(_._1)._3 }
        .toSeq.sortBy(_._1)
      val secs = samples.map(_._1)
      val g0 = ((secs.min + step - 1) / step) * step
      (g0 to secs.max by step).flatMap { mark =>
        val prev = samples.filter(_._1 <= mark).lastOption
        val next = samples.filter(_._1 > mark).headOption
        (prev, next) match {
          case (Some((t0, v0)), Some((t1, v1))) =>
            Some((c, mark) -> (v0 + (v1 - v0) * ((mark - t0).toDouble / (t1 - t0).toDouble)))
          // boundary marks (e.g. a mark equal to the LAST sample's second,
          // which has no strictly-later neighbor) are not emitted
          case _ => None
        }
      }
    }.toMap
    val got = Selection.dsResample(spark, sf).collect()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    val gotMap = got.map { r =>
      val sec = java.time.LocalDateTime.parse(r.getString(1), fmt)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      (r.getString(0), sec) -> r.getDouble(2)
    }.toMap
    assert(gotMap.keySet === expected.keySet)
    assert(gotMap.nonEmpty)
    expected.foreach { case (k, v) => assert(gotMap(k) === v, s"mark $k") }
  }

  test("histogram emits the full bin grid and conserves per-compound counts") {
    val hist = Selection.dsHistogram(spark, sf).collect()
    val perCompound = hist.groupBy(_.getString(0))
    val data = Selection.dsLoadEpoch(spark, sf).collect()
      .groupBy(_.getString(1)).map { case (c, rs) => c -> rs.length.toLong }
    assert(perCompound.keySet === data.keySet)
    perCompound.foreach { case (c, bins) =>
      assert(bins.length === 20, s"$c: full 20-bin grid even when bins are empty")
      assert(bins.map(_.getAs[Long]("n")).sum === data(c), s"$c: counts conserve")
      // bin_lo advances by a constant width
      val los = bins.sortBy(_.getAs[Long]("bin")).map(_.getAs[Double]("bin_lo"))
      val w = los(1) - los(0)
      los.sliding(2).filter(_.length == 2).foreach(p => assert(math.abs((p(1) - p(0)) - w) < 1e-9))
    }
  }

  test("degenerate inputs: constant-valued histogram and mark-free resample spans") {
    import spark.implicits._
    // every value the same multiple of 50 → rounded bounds coincide, width
    // 0: rows must land in bin 0 (not NaN/error) and the grid stays full
    val const = Seq.fill(7)(("flat", 100.0)).toDF("compound", "value")
    val hist = Selection.histogramFrom(const).collect()
    assert(hist.length === 20)
    assert(hist.filter(_.getAs[Long]("bin") == 0L).head.getAs[Long]("n") === 7L)
    assert(hist.filter(_.getAs[Long]("bin") != 0L).forall(_.getAs[Long]("n") === 0L))

    // a span too short to contain an aligned 6h mark must yield an empty
    // result (Spark's sequence() would throw on start > stop without the
    // guard; DuckDB's range() is empty)
    val short = Seq(("c", 1000L, 1.0, 1L), ("c", 2000L, 2.0, 2L))
      .toDF("compound", "sec", "value", "tie")
    assert(Selection.resampleFrom(short).count() === 0)
  }

  test("every reported gap exceeds 4x its compound's mean spacing") {
    val gaps = Selection.dsGaps(spark, sf).collect()
    assert(gaps.nonEmpty, "synthetic events should contain coverage gaps")
    val spans = Selection.dsLoadEpoch(spark, sf).collect()
      .map(r => (r.getString(1), r.getAs[String]("ts_s")))
      .groupBy(_._1).map { case (c, g) =>
        val secs = g.map(x => java.time.LocalDateTime.parse(x._2.replace(" ", "T"))
          .toEpochSecond(java.time.ZoneOffset.UTC))
        c -> ((secs.max - secs.min, secs.length.toLong))
      }
    gaps.foreach { r =>
      val (span, n) = spans(r.getString(0))
      assert(r.getAs[Long]("gap_sec") * (n - 1) > 4 * span)
    }
  }

  test("rolling-z flags satisfy the 3-sigma rule and have full trailing windows") {
    val flags = Selection.dsRollingZ(spark, sf).collect()
    assert(flags.nonEmpty, "synthetic events should contain rolling-z outliers")
    // position of each event in its compound's (cts, event_id) order
    val order = Selection.dsLoadEpoch(spark, sf).collect()
      .map(r => (r.getString(1), r.getAs[String]("ts_s"), r.getAs[Long]("event_id")))
      .groupBy(_._1).view.mapValues(_.sortBy(x => (x._2, x._3)).map(_._3).zipWithIndex.toMap).toMap
    flags.foreach { r =>
      val dev = r.getAs[Double]("dev")
      val sd = r.getAs[Double]("sd")
      // dev^2 > 9*var held at flag time; sd = sqrt(max(var, 0))
      assert(dev * dev > 9.0 * sd * sd - 1e-9)
      assert(order(r.getString(0))(r.getAs[Long]("event_id")) >= 15,
        "flagged rows must have a full 16-sample trailing window")
    }
  }

  test("changepoint picks the max cross-multiplied mean-gap split per compound") {
    val series = Selection.dsLoadEpoch(spark, sf).collect()
      .map(r => (r.getString(1), r.getAs[String]("ts_s"), r.getAs[Long]("event_id"),
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1)
    val got = Selection.dsChangepoint(spark, sf).collect()
    assert(got.length === series.size)
    got.foreach { r =>
      val vc = series(r.getString(0)).sortBy(x => (x._2, x._3)).map(x => (x._3, x._4))
      val n = vc.length.toLong
      val sn = vc.map(_._2).sum
      var best: (Double, Long, Long) = null // (score, i, event_id)
      var s = 0L
      vc.zipWithIndex.dropRight(1).foreach { case ((eid, c), idx) =>
        val i = idx + 1L
        s += c
        val score = math.abs(s * (n - i) - (sn - s) * i).toDouble / (i * (n - i)).toDouble
        if (best == null || score > best._1) best = (score, i, eid)
      }
      assert(r.getAs[Long]("split_i") === best._2)
      assert(r.getAs[Long]("boundary_event_id") === best._3)
      assert(r.getAs[Double]("mean_left") !== r.getAs[Double]("mean_right"))
    }
  }

  test("histogram2d emits the full 10x10 grid per compound and conserves counts") {
    val rows = Selection.dsHistogram2d(spark, sf).collect()
    val byCompound = rows.groupBy(_.getAs[String]("compound"))
    val perType = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    assert(byCompound.keySet === perType.keySet)
    byCompound.foreach { case (c, rs) =>
      assert(rs.length === 100, s"$c grid size")
      assert(rs.map(_.getAs[Long]("n")).sum === perType(c), s"$c count conservation")
      // t_lo_ms strictly nondecreasing in tbin within a fixed vbin
      val col0 = rs.filter(_.getAs[Long]("vbin") == 0L).sortBy(_.getAs[Long]("tbin"))
        .map(_.getAs[Long]("t_lo_ms"))
      assert(col0.toSeq === col0.sorted.toSeq)
    }
  }

  test("drift matches an independent two-filter recompute per compound") {
    import graft.sources.Tables
    val e = Tables.events(spark, sf)
      .select(col("event_type").as("compound"),
        ((unix_timestamp(col("ts")) - 7200L) * 1000L).as("ms"),
        round(col("value") * 100).cast("long").as("vc"), col("value"))
    val b = e.groupBy("compound").agg(
      min(col("ms")).as("tlo"), max(col("ms")).as("thi"),
      (floor(min(col("value")) / 50) * 50 * 100).cast("long").as("vlo"),
      (ceil(max(col("value")) / 50) * 50 * 100).cast("long").as("vhi")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("tlo"), r.getAs[Long]("thi"),
        r.getAs[Long]("vlo"), r.getAs[Long]("vhi"))).toMap
    val raw = e.collect().map(r => (r.getString(0), r.getAs[Long]("ms"), r.getAs[Long]("vc")))
    val expected = raw.groupBy(_._1).map { case (c, rs) =>
      val (tlo, thi, vlo, vhi) = b(c)
      val mid = (tlo + thi) / 2
      def bin(vc: Long): Long =
        if (vhi == vlo) 0L else math.min((vc - vlo) * 20 / (vhi - vlo), 19L)
      val h1 = rs.filter(_._2 < mid).groupBy(r => bin(r._3)).view.mapValues(_.size.toLong).toMap
      val h2 = rs.filter(_._2 >= mid).groupBy(r => bin(r._3)).view.mapValues(_.size.toLong).toMap
      val n1 = h1.values.sum; val n2 = h2.values.sum
      val bins = (h1.keySet ++ h2.keySet)
      val l1 = bins.toSeq.map(bn => math.abs(h1.getOrElse(bn, 0L) * n2 - h2.getOrElse(bn, 0L) * n1)).sum
      c -> ((n1, n2, l1))
    }
    val got = Selection.dsDrift(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("drift_l1")))).toMap
    assert(got === expected)
  }

  test("autocorr matches the collected Pearson recompute and stays in [-1, 1]") {
    import graft.sources.Tables
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), ((unix_timestamp(col("ts")) - 7200L) * 1000L).as("ms"),
        col("event_id"), round(col("value") * 100).cast("long").as("vc")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("ms"), r.getAs[Long]("event_id"), r.getAs[Long]("vc")))
    val expected = raw.groupBy(_._1).map { case (c, rs) =>
      val vs = rs.sortBy(r => (r._2, r._3)).map(_._4)
      val pairs = vs.init.zip(vs.tail)
      val n = pairs.length.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val r = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        math.sqrt((n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          (n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      c -> ((n, r))
    }
    val got = Selection.dsAutocorr(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n"), r.getAs[Double]("r")))).toMap
    assert(got === expected)
    got.values.foreach { case (_, r) => assert(r >= -1.0 && r <= 1.0) }
  }

  test("seasonal profile conserves counts and hour means reassemble the compound mean") {
    import graft.sources.Tables
    val rows = Selection.dsSeasonal(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Int]("hod"), r.getAs[Long]("n"),
        r.getAs[Double]("mean_value"), r.getAs[Double]("load_ratio")))
    val byCompound = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    rows.groupBy(_._1).foreach { case (c, rs) =>
      assert(rs.map(_._3).sum === byCompound(c)) // every sample lands in exactly one hour bucket
      // load_ratio is mean_hour / mean_overall: the n-weighted ratio sum is n_total
      val weighted = rs.map(r => r._3 * r._5).sum
      assert(math.abs(weighted - byCompound(c).toDouble) < 1e-6 * byCompound(c))
      rs.foreach(r => assert(r._5 > 0.0))
    }
  }

  test("benford digit shares sum to 1 per compound over digits 1-9") {
    val rows = Selection.dsBenford(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[String]("digit"), r.getAs[Long]("n"),
        r.getAs[Double]("share")))
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r._2 >= "1" && r._2 <= "9"))
    rows.groupBy(_._1).foreach { case (c, rs) =>
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-9, s"$c shares")
    }
  }

  test("crosscorr covers every unordered compound pair with r in [-1, 1]") {
    import graft.sources.Tables
    val nc = Tables.events(spark, sf).select("event_type").distinct().count().toInt
    val rows = Selection.dsCrosscorr(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"), r.getAs[Double]("r")))
    assert(rows.length === nc * (nc - 1) / 2)
    rows.foreach { case (c1, c2, n, r) =>
      assert(c1 < c2)
      assert(n > 0)
      assert(r >= -1.0 && r <= 1.0, s"$c1/$c2 r=$r")
    }
  }

  test("winsorize: clip counts near 5 percent tails, mean inside the cut band") {
    import graft.sources.Tables
    val rows = Selection.dsWinsorize(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("p5"), r.getAs[Double]("p95"),
        r.getAs[Long]("n_low"), r.getAs[Long]("n_high"), r.getAs[Double]("wins_mean")))
    assert(rows.nonEmpty)
    rows.foreach { case (c, n, p5, p95, lo, hi, wm) =>
      assert(p5 <= p95)
      assert(wm >= p5 - 1e-9 && wm <= p95 + 1e-9, s"$c mean outside band")
      assert(lo < n * 5 / 100 + 1, s"$c n_low") // strictly below the rank-ceil p5 value
      assert(hi <= n - n * 95 / 100 + 1, s"$c n_high")
    }
    // cross-check one compound against an in-process winsorized mean
    val (c0, _, p5v, p95v, _, _, wm0) = rows.head
    val vs = Tables.events(spark, sf).filter(col("event_type") === c0)
      .select("value").collect().map(r => math.round(r.getDouble(0) * 100))
    val clamped = vs.map(v => math.max(math.round(p5v * 100), math.min(math.round(p95v * 100), v)))
    assert(math.abs(wm0 - clamped.sum.toDouble / clamped.length / 100.0) < 1e-9)
  }

  test("flatline detects a synthetic stuck sensor and skips noisy neighbors") {
    import spark.implicits._
    // sensor A: noise, then 5 identical readings, then noise. sensor B: all distinct.
    val rows = Seq(
      ("A", 1000L, 1L, 10.0), ("A", 2000L, 2L, 42.42), ("A", 3000L, 3L, 42.42),
      ("A", 4000L, 4L, 42.42), ("A", 5000L, 5L, 42.42), ("A", 6000L, 6L, 42.42),
      ("A", 7000L, 7L, 11.0),
      ("B", 1000L, 8L, 1.0), ("B", 2000L, 9L, 2.0), ("B", 3000L, 10L, 3.0))
      .toDF("compound", "ms", "event_id", "value")
    val got = Selection.dsFlatlineFrom(rows).collect()
      .map(r => (r.getString(0), r.getAs[Long]("start_ms"), r.getAs[Long]("n_samples"),
        r.getAs[Double]("value")))
    assert(got.toSeq === Seq(("A", 2000L, 5L, 42.42)))
    // corpus path: every reported run is a genuine exact repeat
    val corpus = Selection.dsFlatline(spark, sf).collect()
    corpus.foreach(r => assert(r.getAs[Long]("n_samples") >= 2L))
  }

  test("pipeline_qc = resample after removing exactly the MAD flags") {
    val flagged = Selection.dsOutlierMad(spark, sf).collect()
      .map(r => (r.getAs[String]("compound"))).toSet
    assert(flagged.nonEmpty) // the corpus has outliers to clean
    val raw = Selection.dsResample(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("v_interp")).toMap
    val qc = Selection.pipelineQc(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("v_interp")).toMap
    // compounds with no flags resample identically; flagged compounds differ
    // somewhere (an outlier participated in some interpolation bracket)
    val byCompound = qc.keySet.map(_._1)
    byCompound.foreach { c =>
      val rawC = raw.filter(_._1._1 == c)
      val qcC = qc.filter(_._1._1 == c)
      if (!flagged.contains(c)) assert(rawC === qcC, s"$c changed without flags")
      else assert(rawC != qcC, s"$c unchanged despite flags")
    }
  }

  test("interp repairs exactly the flagged gaps with values inside the bracket") {
    val gaps = Selection.dsGaps(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("gap_start_id"), r.getAs[Long]("gap_end_id")))
    val interp = Selection.dsInterp(spark, sf).collect()
    // one synthetic sample per flagged gap, same (compound, bracket) keys
    assert(interp.map(r => (r.getString(0), r.getAs[Long]("gap_start_id"),
      r.getAs[Long]("gap_end_id"))).toSet === gaps.toSet)
    import graft.sources.Tables
    val vals = Tables.events(spark, sf).select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    interp.foreach { r =>
      val lo = math.min(vals(r.getAs[Long]("gap_start_id")), vals(r.getAs[Long]("gap_end_id")))
      val hi = math.max(vals(r.getAs[Long]("gap_start_id")), vals(r.getAs[Long]("gap_end_id")))
      val v = r.getAs[Double]("interp_value")
      assert(v >= lo - 0.01 && v <= hi + 0.01, s"interp $v outside [$lo, $hi]")
    }
  }

  test("resolution report matches a naive recompute of gaps and lattice share") {
    import graft.sources.Tables
    def centsOf(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val byCompound = Tables.events(spark, sf).select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(r => centsOf(r.getDouble(1) * 100))).toMap
    val rows = Selection.dsResolution(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === byCompound.keySet)
    rows.foreach { r =>
      val vs = byCompound(r.getString(0))
      val distinct = vs.distinct.sorted
      assert(r.getAs[Long]("n") === vs.length.toLong)
      assert(r.getAs[Long]("ndv") === distinct.length.toLong)
      assert(r.getAs[Long]("n_tenth") === vs.count(_ % 10 == 0).toLong)
      val minGap = distinct.sliding(2).map(p => p(1) - p(0)).min
      assert(r.getAs[Double]("res") === minGap / 100.0)
    }
  }

  test("ds_trend synthetic: the median slope shrugs off a spike that wrecks the mean") {
    import spark.implicits._
    // steady +1.0/s ramp with one LEVEL SHIFT (+1000 from the midpoint on):
    // consecutive slopes telescope, so a symmetric spike cancels in the
    // mean — a step does not: it puts one +1001 slope among nineteen 1.0s,
    // dragging the mean to (v_last−v_first)/n = 51 while the discrete
    // median stays exactly 1.0
    val vals = (0 until 21).map(i => if (i >= 10) i + 1000.0 else i.toDouble)
    val k = vals.zipWithIndex
      .map { case (v, i) => ("x", i.toLong * 1000L, i.toLong, v) }
      .toDF("compound", "ms", "event_id", "value")
    val r = Selection.dsTrendFrom(k).head
    assert(r.getAs[Long]("n_slopes") === 20L)
    assert(r.getAs[Double]("med_slope") === 1.0)
    val meanSlope = (0 until 20).map(i => vals(i + 1) - vals(i)).sum / 20.0
    assert(math.abs(meanSlope - 1.0) > 0.5) // the mean IS wrecked
  }
}
