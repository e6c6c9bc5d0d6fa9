package graft

import java.net.URI
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import graft.operators.{PlanStats, Selection}
import graft.sources.Tables

/** User-facing facade for the DataSelector workflow: load series JSON, make
  * selections (rect / anti-rect / click toggle), inspect them, export them
  * in the reference's JSON format, and apply them back to the raw data.
  *
  * A reference user's session maps 1:1:
  * {{{
  * val qc = new GraftQC(spark, utcOffsetHours = -2)            // config.js UTCCorrection
  * val data = qc.loadSeriesDir("example/data")                 // all compounds at once
  * val sel  = qc.rectSelect(data, "ethane", "2004-10-01 00:00:00", "2004-11-01 00:00:00", 0, 5000)
  * val sel2 = qc.toggle(sel, qc.rectSelect(data, "ethane", ..)) // click/alt semantics
  * val json = qc.exportJson(sel2)                              // getJSONfile output
  * val qcd  = qc.applyFilter(data, sel2)                       // README's automated filtering
  * }}}
  *
  * Selections are plain DataFrames of (compound, sel_key) — every operation
  * is a distributed set op, so the same session works on a laptop against
  * example JSON and on a cluster against years of parquet. A selection is
  * kept as a formula over its inputs: rectangles over a loaded frame, and
  * opaque key frames (imports, auto-QC output, anything else). However long
  * the chain of rect / alt-drag / click edits, it plans one scan per
  * loaded frame, one read of each opaque input and one aggregate. The
  * output is distinct, NULL keys compare equal, and building a selection
  * runs no Spark job. The builders are `Selection.box` / `anti` /
  * `toggle`, which the registry's `ds_*` selection queries use too.
  *
  * Below the leaf-byte gate, [[loadSeriesDir]] parses the files once, at
  * load, with Spark's JSON parser, running no job and persisting no RDD;
  * every later interaction works on those rows, and files changed after
  * loading are not seen (the reference behaves the same). The rows sit in
  * one partition, so each edit, commit view, auto-QC call and filter runs
  * as one job with no shuffle (a broadcast join adds its own job). That
  * relies on the optimizer rule `GraftExtensions` installs in a
  * `GraftSession` ([[graft.functions.PushProjectBelowCoalesce]]): it
  * folds a selection's box predicates and flag columns into the rows on
  * the driver instead of compiling them into each job. At or above the
  * gate the loaded frame is a lazy scan of the files.
  */
class GraftQC(spark: SparkSession, utcOffsetHours: Int = -2) {

  /** Load every `<compound>.json` in a directory as one keyed DataFrame —
    * compound names come from filenames, exactly like the reference's
    * JSONFiles config map. Loading runs no Spark job and persists nothing.
    *
    * Below the leaf-byte gate (`PlanStats.atScale` on the scan, whose
    * reading is the file sizes in its file index) the files are parsed once, here,
    * on the driver, by Spark's JSON parser, and the keyed rows are returned
    * as a local relation in one partition: no later interaction re-reads a
    * file or plans a shuffle, and files changed after loading are not seen,
    * as in the reference, which parses its JSON once at page load. At or
    * above the gate, and whenever a file does not parse to a list of
    * records (logged as a WARN naming the files), the result is the lazy
    * multiLine scan, which re-reads the files each time a result is
    * materialized.
    */
  def loadSeriesDir(dir: String): DataFrame = {
    val withFile = spark.read
      .schema(Tables.seriesSchema)
      .option("multiLine", "true")
      // a name filter, not a "$dir/*.json" glob: Spark probes the path it
      // is given for a streaming-sink log, and on a glob path that probe
      // fails and logs a warning with a stack trace
      .option("pathGlobFilter", "*.json")
      .json(dir)
    // input_file_name() is a percent-encoded URI ("n butane" → "n%20butane"),
    // and so is every entry of inputFiles — take each file's name from its
    // decoded URI path on the driver (a '+' stays a '+') and look it up in
    // a literal map (one entry per compound), so compound names match what
    // the user types
    val files = withFile.inputFiles.toSeq.map { f =>
      f -> new Path(new URI(f)).getName.stripSuffix(".json")
    }
    val names = typedLit(files.toMap)
    val scan = keyed(withFile.withColumn("series", names(input_file_name())))
    if (PlanStats.atScale(withFile)) scan
    else parsedOnce(files, scan.schema).getOrElse(scan)
  }

  /** The raw series model keyed as every selection expects it. */
  private def keyed(raw: DataFrame): DataFrame =
    Selection.keyedSeries(raw
      .withColumnRenamed("flask_number", "salt")
      .withColumnRenamed("date", "epoch"), utcOffsetHours)
      .withColumnRenamed("series", "compound")

  /** The keyed rows of `files` (URI → compound) as a local relation with
    * `schema`, the scan's, coalesced to one partition. Each file is parsed
    * by `from_json` with the scan's schema, and then keyed, each over a
    * local relation that the optimizer folds on the driver, so no job runs.
    * None when a file is not UTF-8 or its `from_json` is NULL or holds a
    * NULL record: there the scan's PERMISSIVE reader defines the rows (one
    * all-NULL row for a non-JSON file), and `from_json` does not give them.
    * One WARN names those files.
    */
  private def parsedOnce(files: Seq[(String, String)], schema: StructType): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (notUtf8, texts) = files.partitionMap { case (f, compound) =>
      val p = new Path(new URI(f))
      val in = p.getFileSystem(conf).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      Try(StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)).toString)
        .toOption.map(Row(f, compound, _)).toRight(f)
    }
    val textSchema = StructType(Seq("file", "series", "text").map(StructField(_, StringType)))
    val parsed = spark.createDataFrame(texts.asJava, textSchema)
      .select(col("file"), col("series"), from_json(col("text"), ArrayType(Tables.seriesSchema)))
      .collect().toSeq
    val unread = notUtf8 ++ parsed.collect {
      case r if r.isNullAt(2) || r.getSeq[Row](2).contains(null) => r.getString(0)
    }
    if (unread.nonEmpty) {
      GraftQC.log.warn("Not a UTF-8 JSON array of records, so the series load through Spark's " +
        "JSON reader, which may read each of these files as one all-NULL row: " +
        unread.map(f => new Path(new URI(f)).toString).mkString(", "))
      return None
    }
    val raw = parsed.flatMap(r => r.getSeq[Row](2).map(rec => Row.fromSeq(rec.toSeq :+ r.getString(1))))
    val rows = keyed(spark.createDataFrame(raw.asJava, Tables.seriesSchema.add("series", StringType)))
      .collect().toSeq
    Some(spark.createDataFrame(rows.asJava, schema).coalesce(1))
  }

  /** Rectangle selection: every point of `compound` inside the box becomes
    * a selection key (index.js:243-254). The box is one input of the
    * selection's formula, so later edits read `data` once for all of them.
    */
  def rectSelect(data: DataFrame, compound: String,
      t0: String, t1: String, v0: Double, v1: Double): DataFrame =
    Selection.box(data, col("compound") === compound &&
      col("cts") >= lit(t0).cast("timestamp") && col("cts") <= lit(t1).cast("timestamp") &&
      col("value") >= v0 && col("value") <= v1)

  /** Rectangle selection in an arbitrary axis plane — the reference's
    * xOptions/yOptions callbacks (index.js:33-39) let the analyst plot and
    * select on any numeric attribute pair (year, lat, lon, alt, ...); the
    * selection keys that come out are identical regardless of the plane
    * they were drawn in, so selections from different axis views compose,
    * and a box in one plane shares the scan of `data` with boxes in others.
    */
  def rectSelectAxes(data: DataFrame, compound: String,
      xCol: String, x0: Double, x1: Double,
      yCol: String, y0: Double, y1: Double): DataFrame =
    Selection.box(data, col("compound") === compound &&
      col(xCol) >= x0 && col(xCol) <= x1 &&
      col(yCol) >= y0 && col(yCol) <= y1)

  /** Alt-drag: remove from `sel` everything `box` covers (index.js:253) —
    * keys in `sel` and not in `box`. Like EXCEPT, the output is distinct
    * and NULL keys compare equal.
    */
  def antiSelect(sel: DataFrame, box: DataFrame): DataFrame = Selection.anti(sel, box)

  /** Click-toggle semantics as a set op: symmetric difference
    * (index.js:510-534) — keys in exactly one of `sel` and `clicks`. The
    * output is distinct, and NULL keys compare equal, as in EXCEPT.
    */
  def toggle(sel: DataFrame, clicks: DataFrame): DataFrame = Selection.toggle(sel, clicks)

  /** Per-key compound counts, the text-box view (index.js:746-755). */
  def counts(sel: DataFrame): DataFrame =
    sel.select("compound", "sel_key").distinct()
      .groupBy("sel_key").agg(count(lit(1)).as("ct"))
      .orderBy("sel_key")

  /** The reference's sorted JSON export (index.js:818-836). */
  def exportJson(sel: DataFrame): String = Selection.exportJson(sel)

  /** Parse a reference-format export (`{key: [compounds...]}`) back into a
    * selection DataFrame — the inverse of [[exportJson]], so a selection
    * file produced by the reference tool (or by graft) drives
    * [[applyFilter]] directly. Parsed on the driver: exports are small by
    * contract, so the rows stay in one partition, where reading them alone
    * plans no shuffle, and a join broadcasts them.
    */
  def importSelections(json: String): DataFrame =
    Selection.importSelections(spark, json).coalesce(1)

  /** README's "automated filtering": drop selected points from the raw
    * data. No build side is forced: an imported selection is broadcast by
    * its size estimate, and auto-QC output, which grows with the data, is
    * planned by its size like any other join input.
    */
  def applyFilter(data: DataFrame, sel: DataFrame): DataFrame = Selection.applyFilter(data, sel)

  /** Materialize the QC'd dataset as compound-partitioned parquet — the
    * batch analogue of the reference's per-compound JSON files, and the
    * layout downstream jobs want at scale: partition pruning makes
    * single-compound reads touch only that compound's files.
    */
  def writeFiltered(data: DataFrame, sel: DataFrame, path: String): Unit =
    applyFilter(data, sel)
      .write.mode("overwrite")
      .partitionBy("compound")
      .parquet(path)

  /** Automated outlier pre-flags: points > 3 MADs from their compound's
    * discrete median — a starting selection the analyst refines with the
    * manual rect/toggle workflow above. Keys the output by `sel_key`, so
    * it composes directly with `toggle`/`applyFilter`/`exportJson`.
    */
  def outliers(data: DataFrame): DataFrame =
    Selection.outlierMadFrom(data.select("sel_key", "compound", "value"), "sel_key")

  /** Coverage-gap report: consecutive-sample gaps > 4× the compound's mean
    * spacing (relative threshold — meaningful at any sampling density).
    * Gap endpoints are `sel_key`s, the same keys the selection ops use.
    */
  def gaps(data: DataFrame): DataFrame =
    Selection.gapsFrom(data.select("sel_key", "compound", "cts"), "sel_key")

  /** Regular-grid (6 h) linear-interpolation resampling of the loaded
    * series — the pre-step for cross-compound comparison of irregular
    * samples. Same-second samples collapse deterministically by `sel_key`.
    */
  def resample(data: DataFrame): DataFrame =
    Selection.resampleFrom(data.select(col("compound"),
      unix_timestamp(col("cts")).as("sec"), col("value"), col("sel_key").as("tie")))

  /** Per-compound value histogram over the extent-rounded axis box — the
    * aggregation to plot when the series outgrows point shipping. */
  def histogram(data: DataFrame): DataFrame =
    Selection.histogramFrom(data.select("compound", "value"))

  /** Trailing rolling z-score flags (local-level sibling of [[outliers]] —
    * tracks trend where the global MAD rule cannot). Flagged points carry
    * `sel_key`s, so they compose with `toggle`/`applyFilter`/`exportJson`.
    */
  def rollingZ(data: DataFrame): DataFrame =
    Selection.rollingZFrom(data.select("sel_key", "compound", "value", "cts"), "sel_key")

  /** Largest level shift per compound ("where did this sensor jump?") —
    * one binary-segmentation step over the loaded series. */
  def changepoint(data: DataFrame): DataFrame =
    Selection.changepointFrom(data.select("sel_key", "compound", "value", "cts"), "sel_key")

  /** Stuck-sensor report: runs of ≥2 consecutive IDENTICAL readings per
    * compound — the frozen-transducer signature that range and outlier
    * rules cannot see (the stuck value is usually in-range). */
  def flatline(data: DataFrame): DataFrame =
    Selection.dsFlatlineFrom(data.select(col("compound"),
      (unix_timestamp(col("cts")) * 1000).as("ms"),
      col("sel_key").as("event_id"), col("value")))

  /** Sensor resolution + truncation screen per compound: effective
    * measurement resolution (smallest gap between distinct readings) and
    * the share of readings on the 0.1-unit lattice — catches a feed that
    * silently switched to rounded values. */
  def resolution(data: DataFrame): DataFrame =
    Selection.resolutionFrom(data.select("compound", "value"))

  /** Gap repair — the action on [[gaps]]' findings: one synthetic sample
    * at each flagged gap's midpoint, linearly interpolated between the
    * bracketing real samples. Bracket endpoints are `sel_key`s. */
  def interp(data: DataFrame): DataFrame =
    Selection.interpFrom(data.select(col("sel_key"), col("compound"),
      col("cts"), col("value")), "sel_key")

  /** One zoom stack per (compound, plane) with the reference's exact rules:
    * a new limit is pushed only if it differs from the current top
    * (index.js:360-368), zoomOut pops and is a no-op on an empty stack, and
    * with no stored limits the view falls back to the data extent with the
    * numeric axis rounded out to yAxisRound = 50 (index.js:644-650 +
    * processAxis). Interaction state lives on the driver — analyst-sized by
    * contract, the same boundary as [[exportJson]] — while the extent
    * fallback is one distributed aggregate, collected lazily once per
    * session (one row per compound).
    */
  def zoomSession(data: DataFrame): ZoomSession = new ZoomSession(data)

  final class ZoomSession private[GraftQC] (data: DataFrame) {
    import GraftQC.Limits
    private val stacks =
      scala.collection.mutable.Map.empty[(String, String), List[Limits]]
    private lazy val extents: Map[String, Limits] =
      data.groupBy("compound").agg(
        min(col("epoch")).as("x0"), max(col("epoch")).as("x1"),
        (floor(min(col("value")) / 50) * 50).cast("double").as("y0"),
        (ceil(max(col("value")) / 50) * 50).cast("double").as("y1"))
        .collect()
        .map(r => r.getAs[String]("compound") -> Limits(
          r.getAs[Double]("x0"), r.getAs[Double]("x1"),
          r.getAs[Double]("y0"), r.getAs[Double]("y1"))).toMap

    /** createScales' push-if-different (index.js:360-368). */
    def push(compound: String, lim: Limits, plane: String = "default"): Unit = {
      val k = (compound, plane)
      val st = stacks.getOrElse(k, Nil)
      if (!st.headOption.contains(lim)) stacks(k) = lim :: st
    }

    /** zoomOut (index.js:644): pop; empty stack is a no-op. */
    def zoomOut(compound: String, plane: String = "default"): Unit = {
      val k = (compound, plane)
      stacks.get(k).filter(_.nonEmpty).foreach(st => stacks(k) = st.tail)
    }

    def depth(compound: String, plane: String = "default"): Int =
      stacks.getOrElse((compound, plane), Nil).length

    /** The limits the view renders with: top of the stack, or the data
      * extent when nothing is stored (createScales → processAxis default).
      */
    def current(compound: String, plane: String = "default"): Limits =
      stacks.getOrElse((compound, plane), Nil).headOption
        .getOrElse(extents(compound))

    /** totalRefresh / initVars (index.js:864-871): wipe every stored zoom
      * stack across all compounds and planes — every `current` falls back
      * to the data extent, exactly the re-initialized render state. The
      * distributed post-refresh report is `ds_total_refresh`.
      */
    def totalRefresh(): Unit = stacks.clear()
  }
}

object GraftQC {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftQC])

  /** A stored zoom window: x in the data's epoch units, y in value units. */
  final case class Limits(x0: Double, x1: Double, y0: Double, y1: Double)
}
