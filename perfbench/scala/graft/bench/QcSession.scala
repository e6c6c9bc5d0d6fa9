package graft.bench

import java.nio.file.{Path, Paths}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.GraftQC
import graft.operators.PlanStats

/** One generated point of the reference-shaped series input. */
final case class Pt(compound: String, epoch: Double, salt: String, value: Double) {
  /** Corrected epoch second, as `Selection.keyedSeries` computes it. */
  val cts: Long = (epoch + 3600.0 * SelModel.UtcOffsetHours).toLong
  val key: String = SelModel.minute(cts) + " " + salt
}

/** Plain-Scala model of the reference's selection semantics over the
  * generated records: a rectangle adds the points inside it, an alt-drag
  * rectangle removes them, a click toggles one point; keys are
  * `formatISODate` of the corrected time plus the salt. The session's
  * outputs are checked against it. */
object SelModel {
  val UtcOffsetHours = -2
  private val minuteFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm").withZone(ZoneOffset.UTC)
  private val secondFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  def minute(sec: Long): String = minuteFmt.format(Instant.ofEpochSecond(sec))
  def second(sec: Long): String = secondFmt.format(Instant.ofEpochSecond(sec))

  /** A selection rectangle in corrected time (seconds) x value. */
  final case class Rect(compound: String, t0: Long, t1: Long, v0: Double, v1: Double) {
    def covers(p: Pt): Boolean =
      p.compound == compound && p.cts >= t0 && p.cts <= t1 && p.value >= v0 && p.value <= v1
  }

  def keys(points: Seq[Pt], r: Rect): Set[String] = points.filter(r.covers).map(_.key).toSet

  def load(csv: Path): Seq[Pt] =
    scala.io.Source.fromFile(csv.toFile).getLines().map { l =>
      val f = l.split(",")
      Pt(f(0), f(1).toDouble, f(2), f(3).toDouble)
    }.toSeq

  /** Parse an export (`{key: [compounds...]}`) into a map. */
  def parseExport(json: String): Map[String, Seq[String]] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JObject(fields) => fields.map {
        case (k, JArray(cs)) => k -> cs.collect { case JString(c) => c }
        case (k, _) => k -> Nil
      }.toMap
      case _ => Map.empty
    }
  }

  def renderExport(m: Map[String, Set[String]]): String =
    m.toSeq.sortBy(_._1).map { case (k, cs) =>
      Json.str(k) + ":" + Json.arr(cs.toSeq.sorted.map(Json.str))
    }.mkString("{", ",", "}")

  /** Mismatch description, or None when the observation matches. */
  def checkCount(observed: Long, expected: Int): Option[String] =
    if (observed == expected) None else Some(s"count $observed, model $expected")

  def checkCounts(observed: Seq[(String, Long)], expected: Set[String]): Option[String] = {
    val want = expected.toSeq.sorted.map(_ -> 1L)
    if (observed == want) None
    else Some(s"counts differ: ${observed.size} rows, model ${want.size}")
  }

  def checkExport(observed: String, expected: Map[String, Set[String]]): Option[String] = {
    val got = parseExport(observed).map { case (k, v) => k -> v.toSet }
    if (got == expected && parseExport(observed).values.forall(v => v == v.sorted)) None
    else Some(s"export differs: ${got.size} keys, model ${expected.size}")
  }

  // Auto-QC models over one compound's points, each the operator's rule in
  // plain Scala with the same arithmetic; each returns the flagged keys.

  /** Points in the operators' order: corrected time, then key. */
  def ordered(pts: Seq[Pt]): IndexedSeq[Pt] = pts.sortBy(p => (p.cts, p.key)).toIndexedSeq

  /** `outliers`: more than 3 MADs from the discrete median. */
  def outlierKeys(pts: Seq[Pt]): Seq[String] = {
    val mid = (pts.size + 1) / 2 - 1
    val med = pts.map(_.value).sorted.apply(mid)
    val mad = pts.map(p => math.abs(p.value - med)).sorted.apply(mid)
    pts.filter(p => math.abs(p.value - med) > 3.0 * mad).map(_.key).sorted
  }

  /** `gaps`: consecutive samples further apart than 4x the mean spacing,
    * as "start>end" key pairs. */
  def gapKeys(pts: Seq[Pt]): Seq[String] = {
    val s = ordered(pts)
    val span = s.last.cts - s.head.cts
    s.sliding(2).collect {
      case Seq(a, b) if (b.cts - a.cts) * (s.size - 1) > 4L * span => a.key + ">" + b.key
    }.toSeq.sorted
  }

  /** `rollingZ`: more than 3 standard deviations from the mean of the
    * trailing 16-sample window (the point included). */
  def rollingZKeys(pts: Seq[Pt]): Seq[String] = {
    val w = 16
    val s = ordered(pts)
    (w - 1 until s.size).filter { i =>
      val vs = (0 until w).map(j => s(i - j).value)
      val sum = vs.tail.foldLeft(vs.head)(_ + _)
      val ss = vs.tail.foldLeft(vs.head * vs.head)((acc, v) => acc + v * v)
      val dev = vs.head - sum / w
      val vr = (ss - sum * sum / w) / w
      dev * dev > 9.0 * vr
    }.map(i => s(i).key).sorted
  }

  def checkKeys(observed: Seq[String], expected: Seq[String]): Option[String] =
    if (observed.sorted == expected) None
    else Some(s"flagged ${observed.size} keys, model ${expected.size}")
}

/** `qc_session`: one analyst in a closed loop on the GraftQC facade. A pass
  * is a session on one compound: a rectangle add, an alt-drag removal and
  * two click toggles on one selection (its plan grows: every toggle
  * references the selection twice, so the commit reads the first rectangle
  * four times), then a commit (the counts view, then the export) and one
  * auto-QC call, outliers, gaps and rollingZ in turn over the run's
  * sessions. The session ends with importSelections of the export,
  * applyFilter and writeFiltered. Every interaction materializes its result
  * and is checked against [[SelModel]], and the data is re-read from JSON
  * each time.
  */
final class QcSession(input: String, seed: Long) extends Workload {
  import SelModel._
  val warmupPasses = 1
  private val points = SelModel.load(Paths.get(input, "series.csv"))
  private val byCompound = points.groupBy(_.compound).map { case (c, ps) => c -> ps.sortBy(_.cts) }
  private val compounds = byCompound.keys.toSeq.sorted
  private var qc: GraftQC = _
  private var data: DataFrame = _
  private val loadTimes = mutable.ArrayBuffer[Double]()
  private val failures = mutable.ArrayBuffer[String]()
  private var writtenPath: Path = _
  private var expectKept = 0L
  private var planNodesMax = 0
  private val commitMs = mutable.ArrayBuffer[Double]()
  private val aboveGate = mutable.ArrayBuffer[Boolean]()
  private var gate = 0L
  private var tracedLeaked = 0L

  def setup(spark: SparkSession): Unit = {
    qc = new GraftQC(spark, UtcOffsetHours)
    val t = System.nanoTime()
    data = qc.loadSeriesDir(input)
    loadTimes += (System.nanoTime() - t) / 1e9
    gate = PlanStats.minLeafBytes(spark)
    // engine warm-up outside the timed script
    val p = points.head
    rectDf(pointRect(p)).count()
  }

  private def rectDf(r: Rect): DataFrame =
    qc.rectSelect(data, r.compound, second(r.t0), second(r.t1), r.v0, r.v1)

  private def randomRect(rng: scala.util.Random, c: String): Rect = {
    val ps = byCompound(c)
    val i = rng.nextInt(ps.size)
    val len = (90 + rng.nextInt(180)) * 86400L
    val vs = ps.map(_.value).sorted
    val v0 = vs(rng.nextInt(vs.size / 2))
    val v1 = vs(vs.size / 2 + rng.nextInt(vs.size - vs.size / 2))
    Rect(c, ps(i).cts, ps(i).cts + len, v0, v1)
  }

  private def pointRect(p: Pt): Rect = Rect(p.compound, p.cts, p.cts, p.value, p.value)

  /** The auto-QC calls: name, call, the flagged key of a result row, model. */
  private def autoQc: IndexedSeq[(String, DataFrame => DataFrame, Row => String,
      Seq[Pt] => Seq[String])] = IndexedSeq(
    ("outliers", qc.outliers, _.getAs[String]("sel_key"), outlierKeys),
    ("gaps", qc.gaps,
      r => r.getAs[String]("gap_start_id") + ">" + r.getAs[String]("gap_end_id"), gapKeys),
    ("rollingZ", qc.rollingZ, _.getAs[String]("sel_key"), rollingZKeys))

  def pass(spark: SparkSession, tr: Tracer, passIdx: Int,
      ops: mutable.ArrayBuffer[OpRecord]): Unit = {
    val rng = new scala.util.Random(seed * 1000 + passIdx)
    val traced = tr.isEnabled

    /** One timed interaction; `body` returns a failure description or None. */
    def interact(kind: String, name: String)(body: => Option[String]): Unit = {
      tr.newOp()
      val t0 = System.nanoTime()
      val res =
        try tr.span("GraftQC", kind) { body }
        catch {
          case scala.util.control.NonFatal(e) =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        }
      val ms = (System.nanoTime() - t0) / 1e6
      Console.err.println(f"qc_session pass=$passIdx $kind%-6s $name%-20s $ms%.0f ms")
      // persisted blocks an interaction leaves behind are its leak
      spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
        if (traced) tracedLeaked += 1
        rdd.unpersist(true)
      }
      res.foreach(f => failures += s"pass $passIdx $name: $f")
      ops += OpRecord(passIdx, kind, name, ms, res.isEmpty, res.getOrElse(""))
    }

    /** Count a selection through the three Spark phases. */
    def count(df: DataFrame): Long = {
      val c = df.groupBy().count()
      val qe = c.queryExecution
      tr.span("spark", "optimize", "plan") { qe.optimizedPlan }
      tr.span("spark", "plan", "plan") { qe.executedPlan }
      tr.span("spark", "exec", "exec") { c.collect()(0).getLong(0) }
    }

    // A session visits one compound. The untimed warm-up session (pass 0)
    // runs every auto-QC call, enough to compile every plan shape the timed
    // sessions run; timed sessions take the calls in turn.
    val c = rng.shuffle(compounds).head
    val pts = byCompound(c)
    var sel: DataFrame = null
    var model = Set.empty[String]
    def edit(name: String, next: DataFrame => DataFrame, nextModel: Set[String]): Unit =
      interact("edit", name) {
        sel = tr.span("operators", "construct", "construct") { next(sel) }
        model = nextModel
        if (traced) aboveGate += PlanStats.leafStatBytes(sel) >= gate
        checkCount(count(sel), model.size)
      }
    def click(inSel: Boolean): Unit = {
      val cands = pts.filter(p => model.contains(p.key) == inSel)
      val p = if (cands.nonEmpty) cands(rng.nextInt(cands.size)) else pts(rng.nextInt(pts.size))
      val r = pointRect(p)
      edit("click", s => qc.toggle(s, rectDf(r)), if (model(p.key)) model - p.key else model + p.key)
    }
    val add = randomRect(rng, c)
    edit("rect", _ => rectDf(add), keys(pts, add))
    val anti = {
      val r = randomRect(rng, c)
      r.copy(t1 = r.t0 + (r.t1 - r.t0) / 2)
    }
    edit("anti", s => qc.antiSelect(s, rectDf(anti)), model -- keys(pts, anti))
    click(inSel = rng.nextBoolean())
    click(inSel = rng.nextBoolean())

    if (traced) planNodesMax = math.max(planNodesMax,
      sel.queryExecution.logical.collect { case n => n }.size)
    // a commit is two interactions: the counts view, then the export
    val exported = model.map(_ -> Set(c)).toMap
    interact("commit", "counts") {
      val rows = tr.span("spark", "exec", "exec") {
        qc.counts(sel).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      }
      checkCounts(rows, model)
    }
    interact("commit", "exportJson") {
      checkExport(tr.span("spark", "exec", "exec") { qc.exportJson(sel) }, exported)
    }
    if (traced) commitMs += ops(ops.size - 2).ms + ops.last.ms
    val one = data.filter(col("compound") === c)
    val calls = if (passIdx == 0) autoQc.indices else Seq((passIdx - 1) % autoQc.size)
    calls.map(autoQc).foreach { case (qcName, qcCall, flagged, modelKeys) =>
      interact("autoqc", qcName) {
        val df = tr.span("operators", "construct", "construct") { qcCall(one) }
        val rows = tr.span("spark", "exec", "exec") { df.collect() }
        checkKeys(rows.toSeq.map(flagged), modelKeys(pts))
      }
    }

    val kept = points.count(p => !(p.compound == c && model(p.key)))
    var imported: DataFrame = null
    interact("apply", "importSelections") {
      imported = tr.span("operators", "construct", "construct") {
        qc.importSelections(renderExport(exported))
      }
      checkCount(count(imported), model.size)
    }
    interact("apply", "applyFilter") {
      val applied = tr.span("operators", "construct", "construct") {
        qc.applyFilter(data, imported)
      }
      checkCount(count(applied), kept)
    }
    val path = Paths.get(sys.props("java.io.tmpdir"), s"filtered-$passIdx")
    interact("write", "writeFiltered") {
      tr.span("sources", "write", "write") { qc.writeFiltered(data, imported, path.toString) }
      None
    }
    writtenPath = path
    expectKept = kept
  }

  def finish(spark: SparkSession, outDir: Path): Seq[(String, String)] = {
    val writeCheck =
      if (writtenPath == null) None
      else checkCount(spark.read.parquet(writtenPath.toString).count(), expectKept.toInt)
    Seq("check_failures" -> Json.arr(failures.map(Json.str)),
      "write_check" -> writeCheck.map(Json.str).getOrElse("null"))
  }

  def layerMetrics(tr: Tracer, passes: Double, cores: Int): Seq[(String, Double)] = {
    val w = tr.phaseWork("write")
    Layers.common(tr, passes, cores) ++ Seq(
      "GraftQC.edit_ms" -> Main.median(tr.durations("GraftQC", "edit")) * 1000,
      "GraftQC.commit_ms" -> Main.median(commitMs.toSeq),
      "GraftQC.autoqc_ms" -> Main.median(tr.durations("GraftQC", "autoqc")) * 1000,
      "GraftQC.plan_nodes_max" -> planNodesMax.toDouble,
      "sources.load_s" -> Main.median(loadTimes.toSeq),
      "sources.write_s" -> tr.durations("sources", "write").sum / passes,
      "sources.write_mb" -> w.outputBytes / 1048576.0 / passes,
      "operators.memo_warm_s" -> 0.0,
      "operators.memo_mb" -> 0.0,
      "operators.leaked_rdds" -> tracedLeaked / passes,
      "operators.above_gate_frac" ->
        (if (aboveGate.isEmpty) 0.0 else aboveGate.count(identity).toDouble / aboveGate.size))
  }

  def record: Seq[(String, String)] = Seq(
    "input" -> Json.obj(Seq(
      "kind" -> Json.str("series"),
      "compounds" -> compounds.size.toString,
      "points" -> points.size.toString,
      "gate_bytes" -> gate.toString)))
}
