package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The GraftQC session on a small series fixture written to a temp dir:
  * load, rectangle and alt-drag selections, chained click toggles, and
  * selections mixing boxes with opaque key frames, on both of
  * `loadSeriesDir`'s branches (parsed once at load, and the lazy scan).
  * Needs no reference checkout. */
class GraftQCSessionSpec extends SparkSpec {

  // file names exercise URI decoding: a space, a '+' and a literal '%'
  private val Compounds = Seq("ethane", "n butane", "propane", "c+d", "x%41")
  // 2005-01-01 00:00:00 UTC; keys are in corrected time (UTC-2)
  private val Base = 1104537600L
  private val PerCompound = 17
  private val Day = 86400L

  /** One JSON array per compound. Every compound samples the same flasks at
    * the same times, so keys are shared across compounds, and flask F-5 is
    * read twice within one minute, so it keys two rows of each compound.
    * Sample j is taken at latitude j. */
  private lazy val dir: Path = fixture("qc-session-", Map.empty)

  /** The fixture with records the reader keeps in PERMISSIVE mode: one
    * whose `value` has the wrong type (read as NULL), one with fields
    * missing, and a file holding one JSON object instead of an array. */
  private lazy val mixedDir: Path = {
    val d = fixture("qc-mixed-", Map(
      "ethane" -> Seq(s"""{"date": ${Base + 3 * Day + 60}.0, "flask_number": "F-W", "value": "n/a", "lat": 3.0}"""),
      "propane" -> Seq(s"""{"date": ${Base + 7 * Day + 60}.0, "flask_number": "F-M"}""")))
    Files.writeString(d.resolve("single.json"),
      s"""{"date": ${Base + 2 * Day}.0, "flask_number": "F-S", "value": 42.0, "lat": 2.0}""")
    d
  }

  /** One JSON array file per compound, with `extra` records appended. */
  private def fixture(prefix: String, extra: Map[String, Seq[String]]): Path = {
    val d = scratchDir(prefix)
    Compounds.zipWithIndex.foreach { case (c, i) =>
      val recs = (0 until PerCompound).map { j =>
        (Base + j * Day, s"F-$j", 100.0 + 10 * j + i, j)
      } :+ ((Base + 5 * Day + 20, "F-5", 500.0 + i, 5))
      val json = (recs.map { case (epoch, salt, v, lat) =>
        s"""{"date": $epoch.0, "flask_number": "$salt", "value": $v, "lat": $lat.0}"""
      } ++ extra.getOrElse(c, Nil)).mkString("[", ",\n", "]")
      Files.writeString(d.resolve(s"$c.json"), json)
    }
    d
  }

  private val GateKey = "spark.graft.memoSide.minLeafBytes"

  /** `body` with the leaf-byte gate at 0, where `loadSeriesDir` returns
    * the lazy scan. */
  private def atGateZero[T](body: => T): T = {
    spark.conf.set(GateKey, "0")
    try body finally spark.conf.unset(GateKey)
  }

  private lazy val qc = new GraftQC(spark, utcOffsetHours = -2)
  private lazy val data = qc.loadSeriesDir(dir.toString)
  private lazy val scanData = atGateZero(qc.loadSeriesDir(dir.toString))

  /** Whether `df` reads the rows parsed at load, and no file. */
  private def parsedAtLoad(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** A frame's rows as sorted strings: a multiset that NaN and NULL
    * compare equal in. */
  private def rowSet(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** Corrected time `sec` seconds after the fixture's first sample. */
  private def at(sec: Long): String =
    java.time.Instant.ofEpochSecond(Base - 7200 + sec).toString.replace("T", " ").stripSuffix("Z")

  /** Every point of compound `c` sampled on days `j0` to `j1`. */
  private def rect(c: String, j0: Int, j1: Int, on: DataFrame = data): DataFrame =
    qc.rectSelect(on, c, at(j0 * Day), at(j1 * Day + 3600), 0.0, 1e9)

  /** The keys `rect(c, j0, j1)` selects, from the fixture's layout alone. */
  private def rectModel(c: String, j0: Int, j1: Int): Set[(String, String)] =
    (j0 to j1.min(PerCompound - 1)).map { j =>
      val minute = java.time.Instant.ofEpochSecond(Base - 7200 + j * Day).toString
        .replace("T", " ").take(16)
      (c, s"$minute F-$j")
    }.toSet

  private def keys(df: DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  private def symDiff(a: DataFrame, c: DataFrame): Set[(String, String)] = {
    val (ka, kc) = (keys(a).toSet, keys(c).toSet)
    (ka -- kc) ++ (kc -- ka)
  }

  private def assertToggle(a: DataFrame, c: DataFrame): Unit = {
    val out = keys(qc.toggle(a, c))
    assert(out.size === out.toSet.size, "toggle output is not distinct")
    assert(out.toSet === symDiff(a, c))
  }

  /** Reads of the series: leaves that carry its `value` column, the JSON
    * relation or the rows parsed at load, and not key frames. */
  private def scans(df: DataFrame): Int =
    df.queryExecution.analyzed.collectLeaves().count(_.output.exists(_.name == "value"))

  /** Every node of an executed plan, through AQE's query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private val KeySchema =
    StructType(Seq(StructField("compound", StringType), StructField("sel_key", StringType)))

  private def keyFrame(rows: (String, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (c, k) => Row(c, k) }.asJava, KeySchema)

  /** Runs `body` in a job group of its own, and reports whether any Spark
    * job started in that group. */
  private def jobsIn[T](body: => T): (T, Boolean) = {
    val (out, ranJob, _) = observe(body)
    (out, ranJob)
  }

  /** Runs `body` in a job group of its own, and reports whether any Spark
    * job started in that group and the input bytes its tasks read. */
  private def observe[T](body: => T): (T, Boolean, Long) = {
    val group = s"body-${System.nanoTime}"
    val marker = s"marker-${System.nanoTime}"
    val groups = new ConcurrentLinkedQueue[String]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = String.valueOf(e.properties.getProperty("spark.jobGroup.id"))
        if (g == group) e.stageIds.foreach(stages.add(_))
        groups.add(g)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "body")
      val out = body
      spark.sparkContext.setJobGroup(marker, "marker")
      spark.range(1).count()
      // listener events arrive in order: once the marker job is seen, any
      // job the body started, and each of its tasks' ends, has been seen too
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (!groups.contains(marker) && System.nanoTime < deadline) Thread.sleep(20)
      assert(groups.contains(marker))
      (out, groups.contains(group), bytesRead.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("loadSeriesDir decodes file names, keys every row and runs no job") {
    val (loaded, ranJob) = jobsIn(qc.loadSeriesDir(dir.toString))
    assert(!ranJob, "loadSeriesDir ran a Spark job")

    val compounds = loaded.select("compound").distinct().collect().map(_.getString(0)).toSet
    assert(compounds === Compounds.toSet)
    assert(loaded.count() === Compounds.size * (PerCompound + 1))
    assert(loaded.filter(col("sel_key").isNull).count() === 0)
    // two reads of F-5 in one minute share a key
    assert(loaded.select("compound", "sel_key").distinct().count() === Compounds.size * PerCompound)
    val first = loaded.filter(col("compound") === "n butane" && col("salt") === "F-0")
      .select("sel_key").collect().map(_.getString(0)).toSeq
    assert(first === Seq("2004-12-31 22:00 F-0"))
  }

  test("toggle is the symmetric difference of overlapping selections") {
    val a = rect("ethane", 2, 9)
    val c = rect("ethane", 6, 12).unionByName(rect("n butane", 0, 3))
    val (ka, kc) = (keys(a).toSet, keys(c).toSet)
    assert((ka & kc).nonEmpty && (ka -- kc).nonEmpty && (kc -- ka).nonEmpty)
    assertToggle(a, c)
    assertToggle(c, a)
    assert(keys(qc.toggle(a, a)).isEmpty)
    assert(qc.toggle(a, c).schema.map(f => (f.name, f.dataType)) ===
      Seq("compound" -> StringType, "sel_key" -> StringType))
  }

  test("toggle collapses duplicate input rows") {
    val a = rect("propane", 0, 8)
    val c = rect("propane", 5, 14)
    val dupA = a.union(a).union(data.filter(col("compound") === "propane" && col("salt") === "F-5")
      .select("compound", "sel_key"))
    assert(dupA.count() > dupA.distinct().count())
    assertToggle(dupA, c.union(c))
  }

  test("toggle treats NULL keys as equal, as EXCEPT does") {
    val a = keyFrame(("x", "k1"), ("x", null), (null, null))
    val c = keyFrame(("x", null), ("x", "k2"), ("y", null))
    assert(keys(qc.toggle(a, c)).toSet === Set(("x", "k1"), (null, null), ("x", "k2"), ("y", null)))
    assertToggle(a, c)
  }

  test("a rect, an alt-drag and k chained toggles plan one scan on both branches") {
    val k = 4
    for (on <- Seq(data, scanData)) {
      var sel = qc.antiSelect(rect("ethane", 0, 12, on), rect("ethane", 3, 5, on))
      var model = rectModel("ethane", 0, 12) -- rectModel("ethane", 3, 5)
      (0 until k).foreach { i =>
        val click = rectModel("ethane", 2 * i, 2 * i + 3)
        model = (model -- click) ++ (click -- model)
        sel = qc.toggle(sel, rect("ethane", 2 * i, 2 * i + 3, on))
      }
      assert(scans(sel) === 1)
      assert(keys(sel).toSet === model)
    }
  }

  test("64 chained toggles match a set model") {
    val rng = new scala.util.Random(7)
    var sel = rect("propane", 0, 6)
    var model = rectModel("propane", 0, 6)
    (0 until 64).foreach { _ =>
      val c = Compounds(rng.nextInt(Compounds.size))
      val j0 = rng.nextInt(PerCompound)
      val j1 = j0 + rng.nextInt(3)
      val click = rectModel(c, j0, j1)
      model = (model -- click) ++ (click -- model)
      sel = qc.toggle(sel, rect(c, j0, j1))
    }
    val out = keys(sel)
    assert(out.size === out.toSet.size)
    assert(out.toSet === model)
    assert(scans(sel) === 1)
  }

  test("boxes mix with opaque key frames") {
    assert(keys(rect("c+d", 1, 4)).toSet === rectModel("c+d", 1, 4))
    // an imported selection, toggled and trimmed with boxes
    val imported = qc.importSelections(qc.exportJson(rect("ethane", 0, 8)))
    val t = qc.antiSelect(qc.toggle(imported, rect("ethane", 5, 12)), rect("ethane", 11, 11))
    assert(keys(t).toSet ===
      ((rectModel("ethane", 0, 4) ++ rectModel("ethane", 9, 12)) -- rectModel("ethane", 11, 11)))
    // a unionByName of two compounds' rects is opaque: read once, whole
    val both = rect("ethane", 2, 6).unionByName(rect("x%41", 0, 3))
    val mixed = qc.antiSelect(qc.toggle(both, rect("ethane", 4, 9)), rect("x%41", 2, 2))
    assert(keys(mixed).toSet === rectModel("ethane", 2, 3) ++ rectModel("ethane", 7, 9) ++
      rectModel("x%41", 0, 1) ++ rectModel("x%41", 3, 3))
    // NULL keys: the frame of the NULL toggle test against a box
    val nulls = keyFrame(("x", null), (null, null), ("ethane", null), ("ethane", "k1"))
    val withNulls = qc.antiSelect(qc.toggle(nulls, rect("ethane", 0, 2)), keyFrame((null, null)))
    assert(keys(withNulls).toSet ===
      Set(("x", null), ("ethane", null), ("ethane", "k1")) ++ rectModel("ethane", 0, 2))
  }

  test("boxes over two loaded frames plan two scans") {
    val other = qc.loadSeriesDir(dir.toString)
    val otherScan = atGateZero(qc.loadSeriesDir(dir.toString))
    for ((first, second) <- Seq((data, other), (scanData, otherScan), (data, scanData))) {
      val sel = qc.toggle(rect("ethane", 0, 6, first),
        qc.rectSelect(second, "ethane", at(4 * Day), at(9 * Day + 3600), 0.0, 1e9))
      assert(scans(sel) === 2)
      assert(keys(sel).toSet === rectModel("ethane", 0, 3) ++ rectModel("ethane", 7, 9))
    }
  }

  test("an alternate-axis box composes with a time-plane box") {
    // lat j on day j: the (lat, value) box covers days 3-8, except the
    // second F-5 read (value 500+) — its key is selected by day 5's first read
    val byAxis = qc.rectSelectAxes(data, "n butane", "lat", 3.0, 8.0, "value", 0.0, 400.0)
    assert(keys(byAxis).toSet === rectModel("n butane", 3, 8))
    val manual = data.filter(col("compound") === "n butane" &&
        col("lat") >= 3.0 && col("lat") <= 8.0 && col("value") <= 400.0)
      .select("compound", "sel_key").distinct()
    assert(keys(manual).toSet === keys(byAxis).toSet)
    val t = qc.toggle(qc.antiSelect(rect("n butane", 0, 12), byAxis), rect("n butane", 6, 14))
    assert(keys(t).toSet === rectModel("n butane", 0, 2) ++ rectModel("n butane", 6, 8) ++
      rectModel("n butane", 13, 14))
    assert(scans(t) === 1)
    assert(keys(qc.toggle(byAxis, byAxis)).isEmpty)
  }

  test("antiSelect output is distinct and treats NULL keys as equal") {
    val a = keyFrame(("x", "k1"), ("x", "k1"), ("x", null), ("x", null), (null, null), ("y", "k2"))
    val b = keyFrame(("x", null), ("y", "k2"), ("z", "k3"))
    val out = keys(qc.antiSelect(a, b))
    assert(out.size === out.toSet.size, "antiSelect output is not distinct")
    assert(out.toSet === Set(("x", "k1"), (null, null)))
    val dup = qc.antiSelect(rect("propane", 0, 9).union(rect("propane", 0, 9)), rect("propane", 3, 4))
    assert(keys(dup).sorted === (rectModel("propane", 0, 9) -- rectModel("propane", 3, 4)).toSeq.sorted)
  }

  test("building a 6-edit chain runs no job") {
    val day6 = rectModel("ethane", 6, 6).head._2
    val (chain, ranJob) = jobsIn {
      var cur = rect("ethane", 0, 10)
      cur = qc.antiSelect(cur, rect("ethane", 2, 3))
      cur = qc.toggle(cur, rect("ethane", 2, 2))
      cur = qc.toggle(cur, qc.rectSelectAxes(data, "ethane", "lat", 12.0, 14.0, "value", 0.0, 1e9))
      cur = qc.antiSelect(cur, qc.importSelections(s"""{"$day6": ["ethane"]}"""))
      qc.toggle(cur, rect("propane", 1, 1))
    }
    assert(!ranJob, "building a selection ran a Spark job")
    assert(keys(chain).toSet ===
      rectModel("ethane", 0, 10) -- rectModel("ethane", 3, 3) -- rectModel("ethane", 6, 6) ++
      rectModel("ethane", 12, 14) ++ rectModel("propane", 1, 1))
  }

  test("applyFilter broadcasts an imported selection and drops exactly its keys") {
    // day 5 holds the two F-5 reads that share a key
    val picked = rectModel("ethane", 3, 5) ++ rectModel("c+d", 0, 0) ++ rectModel("n butane", 16, 16)
    val json = picked.groupBy(_._2).map { case (key, cs) =>
      cs.map(c => "\"" + c._1 + "\"").mkString("\"" + key + "\": [", ", ", "]")
    }.mkString("{", ", ", "}")
    val filtered = qc.applyFilter(data, qc.importSelections(json))
    val kept = keys(filtered.select("compound", "sel_key"))
    val all = keys(data.select("compound", "sel_key"))
    assert(all.size - kept.size === picked.size + 1)
    assert(kept.sorted === all.filterNot(picked).sorted)
    assert(nodes(filtered.queryExecution.executedPlan).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, "the imported selection was not broadcast")
  }

  test("outliers reuses the value histogram's shuffle and persists nothing") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = qc.outliers(data)
    // per compound, only the second F-5 read (500 + i) is > 3 MADs out
    val flagged = out.collect().map(_.getAs[Double]("value")).sorted.toSeq
    assert(flagged === Compounds.indices.map(500.0 + _))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
    assert(nodes(out.queryExecution.executedPlan).exists {
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }, "the value histogram was computed twice")
  }

  test("both branches load the same rows with the same schema") {
    val snap = qc.loadSeriesDir(mixedDir.toString)
    val scan = atGateZero(qc.loadSeriesDir(mixedDir.toString))
    assert(parsedAtLoad(snap) && !parsedAtLoad(scan))
    assert(snap.schema === scan.schema)
    assert(rowSet(snap) === rowSet(scan))
    // the wrong-typed value reads as NULL, the missing fields as NULL, and
    // the lone object as one record
    assert(snap.count() === Compounds.size * (PerCompound + 1) + 3)
    assert(snap.filter(col("salt") === "F-W" && col("value").isNull && col("lat") === 3.0).count() === 1)
    assert(snap.filter(col("salt") === "F-M" && col("value").isNull && col("lat").isNull).count() === 1)
    assert(snap.filter(col("compound") === "single").select("value").collect().toSeq ===
      Seq(Row(42.0)))
  }

  test("a file the parser does not read as records loads through the scan") {
    val bad = scratchDir("qc-bad-")
    Files.writeString(bad.resolve("bad.json"), "this is not JSON")
    val loaded = qc.loadSeriesDir(bad.toString)
    assert(!parsedAtLoad(loaded))
    val rows = loaded.collect()
    assert(rows.length === 1)
    val row = rows.head
    assert(row.getAs[String]("compound") === "bad")
    assert(row.schema.fieldNames.filter(_ != "compound").forall(f => row.isNullAt(row.fieldIndex(f))))
    // a NULL record: the reader keeps none of the file's records
    val nullRec = scratchDir("qc-null-record-")
    Files.writeString(nullRec.resolve("ethane.json"), """[{"date": 1.0, "value": 2.0}, null]""")
    val withNull = qc.loadSeriesDir(nullRec.toString)
    assert(!parsedAtLoad(withNull))
    assert(rowSet(withNull) === rowSet(atGateZero(qc.loadSeriesDir(nullRec.toString))))
    // bytes that are not UTF-8: the reader, not a lenient decode, defines the rows
    val notUtf8 = scratchDir("qc-not-utf8-")
    Files.write(notUtf8.resolve("ethane.json"),
      """[{"date": 1.0, "flask_number": "F-?", "value": 2.0}]""".getBytes("UTF-8").map {
        case '?' => 0xff.toByte
        case b => b
      })
    val latin = qc.loadSeriesDir(notUtf8.toString)
    assert(!parsedAtLoad(latin))
    assert(rowSet(latin) === rowSet(atGateZero(qc.loadSeriesDir(notUtf8.toString))))
  }

  test("an empty directory loads an empty frame with the scan's schema on both branches") {
    val empty = scratchDir("qc-empty-")
    val snap = qc.loadSeriesDir(empty.toString)
    val scan = atGateZero(qc.loadSeriesDir(empty.toString))
    assert(snap.schema === scan.schema)
    assert(snap.schema.fieldNames.toSeq === data.schema.fieldNames.toSeq)
    assert(snap.count() === 0 && scan.count() === 0)
  }

  test("the series methods return the same rows on both branches") {
    val snap = qc.loadSeriesDir(mixedDir.toString)
    val scan = atGateZero(qc.loadSeriesDir(mixedDir.toString))
    val methods: Seq[(String, DataFrame => DataFrame)] = Seq(
      "resample" -> qc.resample, "histogram" -> qc.histogram,
      "changepoint" -> qc.changepoint, "flatline" -> qc.flatline,
      "resolution" -> qc.resolution, "interp" -> qc.interp,
      "gaps" -> qc.gaps, "rollingZ" -> qc.rollingZ, "outliers" -> qc.outliers)
    methods.foreach { case (name, m) =>
      assert(rowSet(m(snap)) === rowSet(m(scan)), name)
    }
    val (zs, zc) = (qc.zoomSession(snap), qc.zoomSession(scan))
    (Compounds :+ "single").foreach(c => assert(zs.current(c) === zc.current(c), c))
    val sel = rect("ethane", 2, 9, snap)
    val (outSnap, outScan) = (scratchDir("qc-write-snap-").toString, scratchDir("qc-write-scan-").toString)
    qc.writeFiltered(snap, sel, outSnap)
    qc.writeFiltered(scan, rect("ethane", 2, 9, scan), outScan)
    val back = rowSet(spark.read.parquet(outSnap))
    assert(back === rowSet(spark.read.parquet(outScan)))
    assert(back.size === snap.count() - rectModel("ethane", 2, 9).size - 1)
  }

  test("below the gate, rect and applyFilter counts after load read no input bytes and persist nothing") {
    val imported = qc.importSelections(qc.exportJson(rect("c+d", 0, 3)))
    val expected = (rectModel("ethane", 1, 6).size.toLong,
      Compounds.size * (PerCompound + 1) - rectModel("c+d", 0, 3).size.toLong)
    for (d <- Seq(dir, mixedDir)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val loaded = qc.loadSeriesDir(d.toString)
      val (counts, _, bytes) = observe {
        (rect("ethane", 1, 6, loaded).count(), qc.applyFilter(loaded, imported).count())
      }
      assert(bytes === 0L, s"counts over $d read input bytes")
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === before)
      if (d == dir) assert(counts === expected)
    }
    val (scanned, _, bytes) = observe(rect("ethane", 1, 6, scanData).count())
    assert(bytes > 0L, "the scan branch read no input bytes")
    assert(scanned === expected._1)
  }
}
