package graft

import org.apache.spark.sql.functions._

/** Full reference-user session on the reference's own example data. */
class GraftQCSpec extends SparkSpec {

  private lazy val qc = new GraftQC(spark, utcOffsetHours = -2)
  private lazy val data = qc.loadSeriesDir("/root/reference/example/data")

  test("loadSeriesDir derives compounds from filenames and keys every point") {
    val compounds = data.select("compound").distinct().collect().map(_.getString(0)).sorted
    assert(compounds.contains("ethane") && compounds.contains("propane"))
    assert(compounds.length >= 6)
    assert(data.filter(col("sel_key").isNull).count() === 0)
  }

  test("select → anti-select → toggle → export → apply round-trip") {
    val sel = qc.rectSelect(data, "ethane",
      "2004-10-01 00:00:00", "2009-01-01 00:00:00", 2000.0, 1e9)
    assert(sel.count() > 0)

    val box = qc.rectSelect(data, "ethane",
      "2004-10-01 00:00:00", "2006-01-01 00:00:00", 2000.0, 1e9)
    val anti = qc.antiSelect(sel, box)
    assert(anti.count() === sel.count() - box.intersect(sel).count())

    val toggled = qc.toggle(anti, box)
    // toggling a disjoint click set is a pure add
    assert(toggled.count() === anti.count() + box.count())

    val json = qc.exportJson(toggled)
    assert(json.startsWith("{") && json.contains("ethane"))

    val kept = qc.applyFilter(data, toggled)
    assert(kept.count() === data.count() -
      data.join(toggled, Seq("compound", "sel_key"), "left_semi").count())
    // nothing kept is still selected
    assert(kept.join(toggled, Seq("compound", "sel_key"), "left_semi").count() === 0)
  }

  test("writeFiltered lays out compound-partitioned parquet and survives a pruned read") {
    val sel = qc.rectSelect(data, "ethane",
      "2004-10-01 00:00:00", "2009-01-01 00:00:00", 2000.0, 1e9)
    val out = scratchDir("qcd-").toString
    qc.writeFiltered(data, sel, out)
    // physical layout: one directory per compound
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("compound=ethane")))
    // pruned single-compound read returns the filtered ethane rows exactly
    val back = spark.read.parquet(out).filter(col("compound") === "ethane")
    val expected = qc.applyFilter(data, sel).filter(col("compound") === "ethane")
    assert(back.count() === expected.count())
    assert(back.count() < data.filter(col("compound") === "ethane").count())
  }

  test("exportJson → importSelections round-trips the selection exactly") {
    val sel = qc.rectSelect(data, "ethane",
      "2004-10-01 00:00:00", "2009-01-01 00:00:00", 2000.0, 1e9)
      .unionByName(qc.rectSelect(data, "propane",
        "2004-10-01 00:00:00", "2009-01-01 00:00:00", 1000.0, 1e9))
    val back = qc.importSelections(qc.exportJson(sel))
    assert(back.except(sel).count() === 0)
    assert(sel.except(back).count() === 0)
  }

  test("counts view matches the by-key cardinalities") {
    val sel = qc.rectSelect(data, "ethane",
      "2004-10-01 00:00:00", "2009-01-01 00:00:00", 2000.0, 1e9)
      .unionByName(qc.rectSelect(data, "propane",
        "2004-10-01 00:00:00", "2009-01-01 00:00:00", 1000.0, 1e9))
    val total = qc.counts(sel).agg(sum("ct")).head.getLong(0)
    assert(total === sel.select("compound", "sel_key").distinct().count())
  }

  test("alternate-axis selection composes with the time-plane selection") {
    // select the same physical points two ways: (lat, value) plane and the
    // (time, value) plane restricted to the matching rows — keys must agree
    val byAxis = qc.rectSelectAxes(data, "ethane", "lat", 0.0, 90.0, "value", 2000.0, 1e9)
    val manual = data.filter(col("compound") === "ethane" &&
        col("lat") >= 0.0 && col("lat") <= 90.0 && col("value") >= 2000.0)
      .select("compound", "sel_key").distinct()
    assert(byAxis.except(manual).count() === 0)
    assert(manual.except(byAxis).count() === 0)
    assert(byAxis.count() > 0)
    // and it composes with ordinary selections through toggle/anti-select
    val t = qc.toggle(byAxis, byAxis)
    assert(t.count() === 0)
  }

  test("zoom session honors push-if-different, pop-on-empty, and the extent fallback") {
    import graft.GraftQC.Limits
    val z = qc.zoomSession(data)
    // extent fallback on a fresh session = distributed min/max with y
    // rounded out to 50 (processAxis default)
    val e = data.filter(col("compound") === "ethane")
      .agg(min("epoch"), max("epoch"), min("value"), max("value")).head
    val expected = Limits(e.getDouble(0), e.getDouble(1),
      math.floor(e.getDouble(2) / 50) * 50, math.ceil(e.getDouble(3) / 50) * 50)
    assert(z.current("ethane") === expected)
    // push-if-different: an equal consecutive push is dropped
    val lim = Limits(1.0e9, 1.1e9, 0.0, 500.0)
    z.push("ethane", lim)
    z.push("ethane", lim)
    assert(z.depth("ethane") === 1)
    assert(z.current("ethane") === lim)
    val lim2 = Limits(1.02e9, 1.08e9, 50.0, 450.0)
    z.push("ethane", lim2)
    assert(z.depth("ethane") === 2 && z.current("ethane") === lim2)
    // stacks are per (compound, plane): other planes/compounds untouched
    assert(z.depth("ethane", "lat_value") === 0)
    assert(z.depth("propane") === 0)
    // pop to empty, then pop again (no-op), then fall back to the extent
    z.zoomOut("ethane"); z.zoomOut("ethane"); z.zoomOut("ethane")
    assert(z.depth("ethane") === 0)
    assert(z.current("ethane") === expected)
    // totalRefresh = initVars: wipe EVERY stack across compounds and
    // planes; every view falls back to its data extent
    z.push("ethane", lim)
    z.push("ethane", lim2, "lat_value")
    z.push("propane", lim)
    z.totalRefresh()
    assert(z.depth("ethane") === 0 && z.depth("ethane", "lat_value") === 0 &&
      z.depth("propane") === 0)
    assert(z.current("ethane") === expected)
  }

  test("automated QC reports run on the reference's own data and compose with selections") {
    val flags = qc.outliers(data)
    // every flag satisfies its own rule (row carries value/med/mad)
    flags.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("value") - r.getAs[Double]("med"))
        > 3.0 * r.getAs[Double]("mad"))
    }
    // flags are keyed like any selection → they feed applyFilter directly
    val sel = flags.select("compound", "sel_key")
    val kept = qc.applyFilter(data, sel)
    assert(kept.count() === data.count() - data.join(sel, Seq("compound", "sel_key"), "left_semi").count())

    val gs = qc.gaps(data)
    gs.collect().foreach(r => assert(r.getAs[Long]("gap_sec") > 0))
    // the reference's flask series are irregular — both reports fire on it
    assert(flags.count() > 0)
    assert(gs.count() > 0)

    // resampling produces finite values bounded by each compound's extremes
    val rs = qc.resample(data).collect()
    assert(rs.nonEmpty)
    val bounds = data.groupBy("compound")
      .agg(org.apache.spark.sql.functions.min("value").as("lo"),
        org.apache.spark.sql.functions.max("value").as("hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    rs.foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      val v = r.getAs[Double]("v_interp")
      assert(v >= lo && v <= hi, s"${r.getString(0)} $v outside [$lo, $hi]")
    }
  }

  test("rolling-z and changepoint reports run on the reference's own data") {
    // rolling-z flags carry sel_keys → compose with applyFilter like any
    // selection; each flag satisfies its own 3-sigma rule
    val rz = qc.rollingZ(data)
    rz.collect().foreach { r =>
      val (dev, sd) = (r.getAs[Double]("dev"), r.getAs[Double]("sd"))
      assert(dev * dev > 9.0 * sd * sd - 1e-9)
    }
    val kept = qc.applyFilter(data, rz.select("compound", "sel_key"))
    assert(kept.count() <= data.count())

    // one changepoint row per compound, means on the correct sides
    val cp = qc.changepoint(data).collect()
    assert(cp.length === data.select("compound").distinct().count().toInt)
    cp.foreach { r =>
      assert(r.getAs[Long]("split_i") >= 1L)
      assert(r.getAs[Double]("score") >= 0.0)
    }
  }

  test("flatline, resolution, and gap-repair reports run on the reference's own data") {
    // flatline: any reported run is a genuine exact repeat of >= 2 samples
    qc.flatline(data).collect().foreach(r => assert(r.getAs[Long]("n_samples") >= 2L))

    // resolution: one row per compound, gap positive, lattice share in [0,1]
    val res = qc.resolution(data).collect()
    assert(res.length === data.select("compound").distinct().count().toInt)
    res.foreach { r =>
      assert(r.getAs[Double]("res") > 0.0)
      val p = r.getAs[Double]("pct_tenth")
      assert(p >= 0.0 && p <= 1.0)
      assert(r.getAs[Long]("ndv") <= r.getAs[Long]("n"))
    }

    // interp emits exactly one repair per flagged gap, keyed by sel_key
    val gaps = qc.gaps(data).collect()
      .map(r => (r.getString(r.fieldIndex("compound")),
        r.getAs[String]("gap_start_id"), r.getAs[String]("gap_end_id"))).toSet
    val rep = qc.interp(data).collect()
    assert(rep.map(r => (r.getString(0), r.getAs[String]("gap_start_id"),
      r.getAs[String]("gap_end_id"))).toSet === gaps)
  }
}
