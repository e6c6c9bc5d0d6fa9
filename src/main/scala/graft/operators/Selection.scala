package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.1 reference-core: DataSelector's time-series QC semantics as
  * distributed DataFrames.
  *
  * Mapping of the reference's data model onto the `events` table:
  * compound = event_type, epoch = ts (floored to seconds), salt = user_id
  * (like flask_number, shared across compounds so selection keys collide
  * meaningfully), value = value.
  *
  * Reference semantics reproduced (file:line cites into /root/reference):
  *  - epoch + 3600·UTCoffset correction, offset = -2 (index.js:401,
  *    example/config.js UTCCorrection)
  *  - selection key = `yyyy-MM-dd HH:mm` ISO string (seconds stripped)
  *    + ' ' + salt (index.js:726-735 formatISODate)
  *  - rectangle select adds points in the box; alt-rect removes them;
  *    click toggles (index.js:243-254, 510-534 updateClicked)
  *  - selectionsByDate inverted index + per-key compound counts
  *    (index.js:797-813 commitSelections, 746-755 updateTextBoxes)
  *  - sorted JSON export key → [compounds] (index.js:818-836 getJSONfile)
  *  - zoom window clamp: out-of-bounds → full extent, width < limit →
  *    mid ± limit/2 (index.js:230-240, config xZoomLimit = 31 days)
  *  - numeric axis rounding floor/ceil to yAxisRound = 50 (index.js:277-317)
  *
  * Scale design: a selection is a DataFrame of distinct (compound, sel_key)
  * keys, built for the registry and for [[graft.GraftQC]] by one compiler
  * ([[box]], [[anti]], [[toggle]]): edits over one keyed frame plan one scan
  * of it and one aggregate. [[applyFilter]] forces no build side.
  */
object Selection {

  private val UtcOffsetSec = -2 * 3600L // config.js UTCCorrection = -2

  private val ZoomLimitMs = 31L * 24 * 3600 * 1000 // config.js xZoomLimit

  private def ts(s: String) = lit(s).cast("timestamp")

  /** Events with corrected time and reference-format selection keys. */
  private def keyed(spark: SparkSession, d: String): DataFrame = {
    val epochSec = unix_timestamp(col("ts")) + lit(UtcOffsetSec)
    Tables.events(spark, d)
      // props rides along for alternate-axis ops; Catalyst prunes it from
      // every scan that doesn't use it (checked in EXPLAINS ReadSchema)
      .select("event_id", "user_id", "event_type", "value", "ts", "props")
      .withColumn("cts", timestamp_seconds(epochSec))
      .withColumn("ms", epochSec * 1000)
      .withColumn("key_m", date_format(col("cts"), "yyyy-MM-dd HH:mm"))
      .withColumn("sel_key", concat(col("key_m"), lit(" "), col("user_id").cast("string")))
      .withColumnRenamed("event_type", "compound")
  }

  /** Shared oracle CTE: same correction + keys in DuckDB terms. */
  private val KeyedCte: String =
    """WITH k AS (
      | SELECT event_id, user_id, event_type AS compound, value,
      |  make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000000) AS cts,
      |  (CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000 AS ms,
      |  strftime(make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000000), '%Y-%m-%d %H:%M') AS key_m,
      |  strftime(make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000000), '%Y-%m-%d %H:%M') || ' ' || CAST(user_id AS VARCHAR) AS sel_key
      | FROM events
      |)""".stripMargin

  /** The same correction + keying for reference-shaped series data (from
    * `Tables.seriesJson`): epoch + 3600·offset, `yyyy-MM-dd HH:mm` key,
    * salt appended — byte-for-byte the reference's `formatISODate` output
    * (index.js:726-735). This is the switch-over path for a user of the
    * reference: load their JSON, get the same keys their exports contain.
    */
  def keyedSeries(series: DataFrame, utcOffsetHours: Int = -2): DataFrame =
    series
      .withColumn("cts", timestamp_seconds((col("epoch") + lit(3600L * utcOffsetHours)).cast("long")))
      .withColumn("key_m", date_format(col("cts"), "yyyy-MM-dd HH:mm"))
      .withColumn("sel_key", concat(col("key_m"), lit(" "), col("salt")))

  // --- selection compiler -------------------------------------------------
  /** One input of a selection: the keys of the rows of `frame` where `pred`
    * holds. A box is a keyed frame with a rectangle predicate; any other
    * key frame is opaque and enters whole. */
  private final case class Input(frame: DataFrame, pred: Column)

  /** A selection as a formula: a key is kept when `keep` holds of its
    * flags, one per input, in order. */
  private final case class Recipe(inputs: Seq[Input], keep: Seq[Column] => Column)

  private object Recipe {
    /** The recipe tagged on `sel`'s own plan; a frame [[box]] or
      * [[combine]] did not build, or one derived from such a frame, is one
      * opaque input. */
    def of(sel: DataFrame): Recipe = sel.queryExecution.logical.getTagValue(RecipeTag)
      .getOrElse(Recipe(Seq(Input(sel, lit(true))), _.head))
  }

  private val RecipeTag = TreeNodeTag[Recipe]("graft.operators.Selection.selection")

  /** Rectangle selection (index.js:243-254): the distinct keys of the rows
    * of `frame` where `pred` holds. Selections built from boxes over one
    * frame instance scan it once, so build a query's boxes over one frame. */
  private[graft] def box(frame: DataFrame, pred: Column): DataFrame =
    tagged(frame.filter(pred).select("compound", "sel_key").distinct(),
      Recipe(Seq(Input(frame, pred)), _.head))

  /** The selection `keep` of the boxes `preds` over one keyed frame, one
    * flag per box in order: what chaining [[box]]es with [[anti]] and
    * [[toggle]] compiles to, without building the boxes' own frames. */
  private def boxes(frame: DataFrame, preds: Column*)(keep: Seq[Column] => Column): DataFrame =
    compile(Recipe(preds.map(Input(frame, _)), keep))

  /** Alt-drag (index.js:253): keys in `a` and not in `b`. Like EXCEPT, the
    * output is distinct and NULL keys compare equal. */
  private[graft] def anti(a: DataFrame, b: DataFrame): DataFrame =
    combine(a, b)((x, y) => x && !y)

  /** Click toggle (index.js:510-534): the symmetric difference, keys in
    * exactly one of `a` and `b`. Distinct, NULL keys equal. */
  private[graft] def toggle(a: DataFrame, b: DataFrame): DataFrame =
    combine(a, b)(_ =!= _)

  /** The selection whose formula is `op` of `a`'s and `b`'s formulas. */
  private def combine(a: DataFrame, b: DataFrame)(op: (Column, Column) => Column): DataFrame = {
    val (ra, rb) = (Recipe.of(a), Recipe.of(b))
    val n = ra.inputs.size
    compile(Recipe(ra.inputs ++ rb.inputs, fs => op(ra.keep(fs.take(n)), rb.keep(fs.drop(n)))))
  }

  /** One branch per distinct input frame (reference equality): the frame
    * filtered by the OR of its inputs' predicates, projecting the keys and
    * one flag per input — the row's predicate, or false for inputs over
    * other frames. The union is grouped by key with `max` per flag, so a
    * flag says whether some row of that key lies in its input, and `keep`
    * of the flags decides the key. Building runs no Spark job.
    */
  private def compile(r: Recipe): DataFrame = {
    val flags = r.inputs.indices.map(i => s"_in$i")
    val frames = r.inputs.foldLeft(Vector.empty[DataFrame]) { (fs, in) =>
      if (fs.exists(_ eq in.frame)) fs else fs :+ in.frame
    }
    val branches = frames.map { frame =>
      frame.filter(r.inputs.filter(_.frame eq frame).map(_.pred).reduce(_ || _))
        .select(col("compound") +: col("sel_key") +: r.inputs.zip(flags).map { case (in, f) =>
          (if (in.frame eq frame) coalesce(in.pred, lit(false)) else lit(false)).as(f)
        }: _*)
    }
    val seen = flags.map(f => max(f).as(f))
    val out = branches.reduce(_ union _)
      .groupBy("compound", "sel_key")
      .agg(seen.head, seen.tail: _*)
      .filter(r.keep(flags.map(col)))
      .select("compound", "sel_key")
    tagged(out, r)
  }

  /** `sel` with `r` tagged on its own plan, where the next edit finds it. */
  private def tagged(sel: DataFrame, r: Recipe): DataFrame = {
    sel.queryExecution.logical.setTagValue(RecipeTag, r)
    sel
  }

  /** Drop a selection's keys from `data` (the README's automated
    * filtering). No build side is forced: a selection can grow with the
    * data, and the planner broadcasts one whose size estimate is small. */
  def applyFilter(data: DataFrame, sel: DataFrame): DataFrame =
    data.join(sel.select("compound", "sel_key"), Seq("compound", "sel_key"), "left_anti")

  /** Render a selection DataFrame as the reference's sorted JSON export —
    * BYTE-IDENTICAL to `getJSONfile` (index.js:818-836): JS
    * `JSON.stringify({key: [compounds...]}, mapReplacer, " ")` (one-space
    * indent, multi-line arrays) followed by the reference's global
    * `'],' → '],\n'` regexReplace. The replace is applied to the whole
    * rendered string exactly like the reference does, so it would also
    * rewrite a `],` INSIDE a key or compound name — bug-compatible on
    * purpose; ReferenceDataSpec pins the bytes against a node-generated
    * fixture. Keys sorted, compound lists sorted. Collects to the driver —
    * selection lists are ≪ raw data by construction (same contract as the
    * reference's in-browser export).
    */
  def exportJson(sel: DataFrame): String = {
    // JS JSON.stringify string escaping: \" and \\, the \b \t \n \f \r
    // shortcuts, and \u00XX for the remaining control chars
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\b' => "\\b"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\f' => "\\f"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val rows = sel.select(col("sel_key"), col("compound")).distinct()
      .groupBy("sel_key").agg(sort_array(collect_set(col("compound"))).as("compounds"))
      .orderBy("sel_key").collect()
    val json =
      if (rows.isEmpty) "{}" // JSON.stringify({}) — no newlines
      else rows.map { r =>
        val cs = r.getSeq[String](1)
        val arr =
          if (cs.isEmpty) "[]"
          else cs.map("  " + q(_)).mkString("[\n", ",\n", "\n ]")
        s" ${q(r.getString(0))}: $arr"
      }.mkString("{\n", ",\n", "\n}")
    json.replace("],", "],\n")
  }

  // --- ds_load_epoch ------------------------------------------------------
  def dsLoadEpoch(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d).select(
      col("event_id"), col("compound"), col("value"), col("sel_key"),
      date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("event_id")

  val dsLoadEpochSql: String = KeyedCte +
    """
      |SELECT event_id, compound, value, sel_key,
      | strftime(cts, '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM k ORDER BY event_id""".stripMargin

  // --- ds_extent ----------------------------------------------------------
  // Date axis boxes get the ISO day floor (index.js:295-296); numeric axis
  // rounds to yAxisRound = 50 (floor min, ceil max).
  def dsExtent(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d).groupBy("compound").agg(
      date_format(min(col("cts")), "yyyy-MM-dd'T'00:00").as("x_min_s"),
      date_format(max(col("cts")), "yyyy-MM-dd'T'00:00").as("x_max_s"),
      (floor(min(col("value")) / 50) * 50).cast("double").as("y_min"),
      (ceil(max(col("value")) / 50) * 50).cast("double").as("y_max"))
      .orderBy("compound")

  val dsExtentSql: String = KeyedCte +
    """
      |SELECT compound,
      | strftime(min(cts), '%Y-%m-%dT00:00') AS x_min_s,
      | strftime(max(cts), '%Y-%m-%dT00:00') AS x_max_s,
      | CAST(floor(min(value)/50)*50 AS DOUBLE) AS y_min,
      | CAST(ceil(max(value)/50)*50 AS DOUBLE) AS y_max
      |FROM k GROUP BY compound ORDER BY compound""".stripMargin

  // --- ds_range_filter ----------------------------------------------------
  // Visible data = rows inside the axis box (index.js:413-416).
  def dsRangeFilter(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d)
      .filter(col("cts") >= ts("2024-01-05 00:00:00") && col("cts") <= ts("2024-01-20 00:00:00") &&
        col("value") >= 50.0 && col("value") <= 250.0)
      .select("event_id", "compound", "sel_key", "value")
      .orderBy("event_id")

  val dsRangeFilterSql: String = KeyedCte +
    """
      |SELECT event_id, compound, sel_key, value FROM k
      |WHERE cts >= TIMESTAMP '2024-01-05 00:00:00' AND cts <= TIMESTAMP '2024-01-20 00:00:00'
      |  AND value >= 50.0 AND value <= 250.0
      |ORDER BY event_id""".stripMargin

  // rect-A / rect-B / click parameters shared by select, antiselect, toggle
  private def rectAPred: Column =
    col("compound") === "error" &&
      col("cts") >= ts("2024-01-08 00:00:00") && col("cts") <= ts("2024-01-18 00:00:00") &&
      col("value") >= 100.0 && col("value") <= 300.0
  private val RectASqlWhere =
    """compound = 'error'
      |  AND cts >= TIMESTAMP '2024-01-08 00:00:00' AND cts <= TIMESTAMP '2024-01-18 00:00:00'
      |  AND value >= 100.0 AND value <= 300.0""".stripMargin

  // --- ds_rect_select -----------------------------------------------------
  def dsRectSelect(spark: SparkSession, d: String): DataFrame =
    box(keyed(spark, d), rectAPred).orderBy("sel_key")

  val dsRectSelectSql: String = KeyedCte +
    s"""
       |SELECT DISTINCT compound, sel_key FROM k
       |WHERE $RectASqlWhere
       |ORDER BY sel_key""".stripMargin

  // --- ds_rect_antiselect -------------------------------------------------
  // Selection from rect A minus the points inside alt-rect B
  // (index.js:253 removeOnDupe, 516-526). Both boxes are over one keyed
  // frame, so this is one scan and one aggregate.
  def dsRectAntiselect(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d)
    val rectB = col("cts") >= ts("2024-01-10 00:00:00") && col("cts") <= ts("2024-01-14 00:00:00") &&
      col("value") >= 150.0 && col("value") <= 300.0
    boxes(k, rectAPred, rectB)(fs => fs(0) && !fs(1)).orderBy("sel_key")
  }

  val dsRectAntiselectSql: String = KeyedCte +
    s"""
       |SELECT compound, sel_key FROM k
       |WHERE $RectASqlWhere
       |EXCEPT
       |SELECT compound, sel_key FROM k
       |WHERE cts >= TIMESTAMP '2024-01-10 00:00:00' AND cts <= TIMESTAMP '2024-01-14 00:00:00'
       |  AND value >= 150.0 AND value <= 300.0
       |ORDER BY sel_key""".stripMargin

  // --- ds_click_toggle ----------------------------------------------------
  // Symmetric difference: clicking an already-selected point removes it,
  // clicking an unselected one adds it (index.js:510-534). Both boxes are
  // over one keyed frame, so the toggle is one scan and one aggregate; the
  // oracle keeps the textbook EXCEPT/UNION form.
  def dsClickToggle(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d)
    val click = col("compound") === "error" && col("event_id") % 7 === 0 &&
      col("cts") >= ts("2024-01-05 00:00:00") && col("cts") <= ts("2024-01-25 00:00:00") &&
      col("value") >= 50.0 && col("value") <= 320.0
    boxes(k, rectAPred, click)(fs => fs(0) =!= fs(1)).orderBy("sel_key")
  }

  val dsClickToggleSql: String = KeyedCte + s""",
    |a AS (SELECT DISTINCT sel_key FROM k WHERE $RectASqlWhere),
    |c AS (SELECT DISTINCT sel_key FROM k
    |      WHERE compound = 'error' AND event_id % 7 = 0
    |        AND cts >= TIMESTAMP '2024-01-05 00:00:00' AND cts <= TIMESTAMP '2024-01-25 00:00:00'
    |        AND value >= 50.0 AND value <= 320.0)
    |SELECT 'error' AS compound, sel_key FROM (
    | (SELECT sel_key FROM a EXCEPT SELECT sel_key FROM c)
    | UNION
    | (SELECT sel_key FROM c EXCEPT SELECT sel_key FROM a)
    |) ORDER BY sel_key""".stripMargin

  // selection used by the by-date / counts / export / apply / clear family:
  // outlier box value > 280 across all compounds (salted keys).
  private def outlierPred: Column = col("value") > 280.0
  private val OutlierSqlWhere = "value > 280.0"

  // --- ds_sel_by_date -----------------------------------------------------
  // Inverted index selectionsByDate: key → set of compounds
  // (index.js:797-813) keyed by the minute key (no salt → collisions across
  // compounds are the interesting part).
  def dsSelByDate(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d).filter(outlierPred).select("key_m", "compound").distinct()
      .groupBy("key_m")
      .agg(array_join(sort_array(collect_set(col("compound"))), ",").as("compounds"))
      .orderBy("key_m")

  val dsSelByDateSql: String = KeyedCte + s""",
    |s AS (SELECT DISTINCT key_m, compound FROM k WHERE $OutlierSqlWhere)
    |SELECT key_m, string_agg(compound, ',' ORDER BY compound) AS compounds
    |FROM s GROUP BY key_m ORDER BY key_m""".stripMargin

  // --- ds_sel_counts ------------------------------------------------------
  // Text box shows `key (countOfCompounds)` (index.js:746-755).
  def dsSelCounts(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d).filter(outlierPred).select("key_m", "compound").distinct()
      .groupBy("key_m").agg(count(lit(1)).as("ct"))
      .select(col("key_m"), col("ct"),
        concat(col("key_m"), lit(" ("), col("ct").cast("string"), lit(")")).as("display"))
      .orderBy("key_m")

  val dsSelCountsSql: String = KeyedCte + s""",
    |s AS (SELECT DISTINCT key_m, compound FROM k WHERE $OutlierSqlWhere)
    |SELECT key_m, count(*) AS ct,
    | key_m || ' (' || CAST(count(*) AS VARCHAR) || ')' AS display
    |FROM s GROUP BY key_m ORDER BY key_m""".stripMargin

  // --- ds_sel_export ------------------------------------------------------
  // Sorted export: salted key → sorted [compounds] (index.js:818-836).
  def dsSelExport(spark: SparkSession, d: String): DataFrame =
    box(keyed(spark, d), outlierPred)
      .groupBy("sel_key")
      .agg(array_join(sort_array(collect_set(col("compound"))), ",").as("compounds"))
      .orderBy("sel_key")

  val dsSelExportSql: String = KeyedCte + s""",
    |s AS (SELECT DISTINCT sel_key, compound FROM k WHERE $OutlierSqlWhere)
    |SELECT sel_key, string_agg(compound, ',' ORDER BY compound) AS compounds
    |FROM s GROUP BY sel_key ORDER BY sel_key""".stripMargin

  // --- ds_apply_filter ----------------------------------------------------
  // The README's downstream purpose: apply the selection list to the raw
  // data to produce the QC'd dataset. This machine-generated selection
  // grows with the data, so AQE broadcasts it only while it is small.
  def dsApplyFilter(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d)
    applyFilter(k, box(k, outlierPred))
      .select("event_id", "compound", "sel_key", "value")
      .orderBy("event_id")
  }

  val dsApplyFilterSql: String = KeyedCte + s""",
    |s AS (SELECT DISTINCT compound, sel_key FROM k WHERE $OutlierSqlWhere)
    |SELECT event_id, compound, sel_key, value FROM k
    |WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.compound = k.compound AND s.sel_key = k.sel_key)
    |ORDER BY event_id""".stripMargin

  /** Parse a reference-format selection export (`{key: [compounds...]}`,
    * index.js:818-836) back into a (compound, sel_key) DataFrame — the
    * inverse of [[exportJson]]. Parsed on the driver: exports are
    * analyst-sized by the same contract that lets exportJson collect; the
    * result is distributed (and broadcast-sized) for the apply join.
    */
  def importSelections(spark: SparkSession, json: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json)
    val pairs = for {
      JObject(fields) <- List(parsed)
      (key, JArray(compounds)) <- fields
      JString(compound) <- compounds
    } yield (compound, key)
    import spark.implicits._
    pairs.toDF("compound", "sel_key")
  }

  // --- ds_sel_import ------------------------------------------------------
  // The README's downstream-consumption contract ("a readily readable
  // format for automated filtering") at oracle level: render an
  // analyst-sized selection as the reference's getJSONfile bytes
  // (index.js:818-836), parse the STRING back with importSelections, and
  // anti-join-apply the imported set. The oracle applies the same selection
  // predicate directly — a hash match proves export ∘ import = identity on
  // the selection set, i.e. a selection file produced by the reference tool
  // (or by graft) drives ds_apply_filter with no loss. The selection here
  // is deliberately analyst-sized (value > 320 → ~160 keys at sf0.1, ≥1 at every SF),
  // honoring the export contract's "selection lists ≪ raw data", so the
  // broadcast hint on the imported side is the designed plan at any SF.
  def dsSelImport(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d)
    val json = exportJson(box(k, col("value") > 320.0))
    val imported = importSelections(spark, json).withColumn("_hit", lit(1))
    k.join(broadcast(imported), Seq("compound", "sel_key"), "left")
      .groupBy("compound")
      .agg(count(when(col("_hit").isNull, 1)).as("kept_ct"),
        count(col("_hit")).as("dropped_ct"))
      .orderBy("compound")
  }

  val dsSelImportSql: String = KeyedCte + """,
    |s AS (SELECT DISTINCT compound, sel_key FROM k WHERE value > 320.0)
    |SELECT k.compound,
    | count(*) FILTER (WHERE s.sel_key IS NULL) AS kept_ct,
    | count(*) FILTER (WHERE s.sel_key IS NOT NULL) AS dropped_ct
    |FROM k LEFT JOIN s ON s.compound = k.compound AND s.sel_key = k.sel_key
    |GROUP BY k.compound ORDER BY k.compound""".stripMargin

  // --- ds_zoom_clamp ------------------------------------------------------
  // index.js:230-240: requested window out of bounds → full extent; width
  // under xZoomLimit → expand to mid ± limit/2 (no re-clamp, as in the
  // reference). All math in integer epoch-millis, like the reference's Date
  // arithmetic.
  def dsZoomClamp(spark: SparkSession, d: String): DataFrame = {
    val q0 = lit(java.time.Instant.parse("2024-01-01T00:30:00Z").toEpochMilli - 7200 * 1000L)
    val q1 = lit(java.time.Instant.parse("2024-01-28T00:30:00Z").toEpochMilli - 7200 * 1000L)
    val ext = keyed(spark, d).groupBy("compound")
      .agg(min(col("ms")).as("mn"), max(col("ms")).as("mx"))
    val oob = q0 < col("mn") || q1 > col("mx")
    val narrow = (q1 - q0) < lit(ZoomLimitMs)
    // long/long is double division in Spark; the sum is even and < 2^53 so
    // the cast back to long is exact (matches the oracle's `//` intdiv).
    val mid = ((q0 + q1) / lit(2L)).cast("long")
    val z0 = when(oob, col("mn")).when(narrow, mid - lit(ZoomLimitMs / 2)).otherwise(q0)
    val z1 = when(oob, col("mx")).when(narrow, mid + lit(ZoomLimitMs / 2)).otherwise(q1)
    ext.select(col("compound"),
      date_format(timestamp_millis(z0), "yyyy-MM-dd HH:mm:ss").as("z0_s"),
      date_format(timestamp_millis(z1), "yyyy-MM-dd HH:mm:ss").as("z1_s"))
      .orderBy("compound")
  }

  val dsZoomClampSql: String = KeyedCte + """,
    |ext AS (SELECT compound, min(ms) AS mn, max(ms) AS mx FROM k GROUP BY compound),
    |p AS (SELECT compound, mn, mx,
    |  (CAST(floor(epoch(TIMESTAMP '2024-01-01 00:30:00')) AS BIGINT) - 7200)*1000 AS q0,
    |  (CAST(floor(epoch(TIMESTAMP '2024-01-28 00:30:00')) AS BIGINT) - 7200)*1000 AS q1
    | FROM ext)
    |SELECT compound,
    | strftime(make_timestamp(CASE WHEN q0 < mn OR q1 > mx THEN mn
    |   WHEN q1 - q0 < 2678400000 THEN (q0+q1)//2 - 1339200000 ELSE q0 END * 1000), '%Y-%m-%d %H:%M:%S') AS z0_s,
    | strftime(make_timestamp(CASE WHEN q0 < mn OR q1 > mx THEN mx
    |   WHEN q1 - q0 < 2678400000 THEN (q0+q1)//2 + 1339200000 ELSE q1 END * 1000), '%Y-%m-%d %H:%M:%S') AS z1_s
    |FROM p ORDER BY compound""".stripMargin

  // --- ds_clear_compound --------------------------------------------------
  // cleanPlot: drop one compound's selections, keep the inverted index
  // consistent — keys whose compound set empties disappear
  // (index.js:843-860).
  def dsClearCompound(spark: SparkSession, d: String): DataFrame =
    box(keyed(spark, d), outlierPred && col("compound") =!= "error")
      .groupBy("sel_key")
      .agg(array_join(sort_array(collect_set(col("compound"))), ",").as("compounds"),
        count(lit(1)).as("ct"))
      .orderBy("sel_key")

  val dsClearCompoundSql: String = KeyedCte + s""",
    |s AS (SELECT DISTINCT sel_key, compound FROM k
    |      WHERE $OutlierSqlWhere AND compound <> 'error')
    |SELECT sel_key, string_agg(compound, ',' ORDER BY compound) AS compounds,
    | count(*) AS ct
    |FROM s GROUP BY sel_key ORDER BY sel_key""".stripMargin

  // --- ds_total_refresh ---------------------------------------------------
  // totalRefresh (index.js:864-871): initVars wipes EVERY selection and
  // zoom stack, the UI resets to compounds[0], and the plot re-renders at
  // its full extent. The distributed analogue is the post-refresh render
  // state as a pure function of the data — one row per compound with its
  // re-initialized render box (ds_extent's rounding rules), zeroed
  // selection count and zoom depth, and the `active` flag on the reset
  // target (the first compound in order = this.compounds[0], the sorted
  // config list). The engine content is deliberately small: a refresh must
  // carry NO residual state, so the whole answer is one combinable
  // groupBy plus a broadcast 1-row min — the degenerate-state contract.
  def dsTotalRefresh(spark: SparkSession, d: String): DataFrame = {
    val ext = keyed(spark, d).groupBy("compound").agg(
      date_format(min(col("cts")), "yyyy-MM-dd'T'00:00").as("x_min_s"),
      date_format(max(col("cts")), "yyyy-MM-dd'T'00:00").as("x_max_s"),
      (floor(min(col("value")) / 50) * 50).cast("double").as("y_min"),
      (ceil(max(col("value")) / 50) * 50).cast("double").as("y_max"))
    // 1-row reset-target dim (the compound list is config-sized by contract)
    val first = ext.agg(min(col("compound")).as("first_compound"))
    ext.crossJoin(broadcast(first))
      .select(col("compound"),
        (col("compound") === col("first_compound")).as("active"),
        col("x_min_s"), col("x_max_s"), col("y_min"), col("y_max"),
        lit(0L).as("n_selected"), lit(0L).as("zoom_depth"))
      .orderBy("compound")
  }

  val dsTotalRefreshSql: String = KeyedCte + """,
    |ext AS (SELECT compound,
    |  strftime(min(cts), '%Y-%m-%dT00:00') AS x_min_s,
    |  strftime(max(cts), '%Y-%m-%dT00:00') AS x_max_s,
    |  CAST(floor(min(value)/50)*50 AS DOUBLE) AS y_min,
    |  CAST(ceil(max(value)/50)*50 AS DOUBLE) AS y_max
    | FROM k GROUP BY compound),
    |f AS (SELECT min(compound) AS first_compound FROM ext)
    |SELECT compound, compound = first_compound AS active,
    | x_min_s, x_max_s, y_min, y_max,
    | CAST(0 AS BIGINT) AS n_selected, CAST(0 AS BIGINT) AS zoom_depth
    |FROM ext CROSS JOIN f ORDER BY compound""".stripMargin

  // --- ds_axis_select -----------------------------------------------------
  // The reference plots any configured attribute pair, not just
  // (date, value): xOptions/yOptions callbacks (index.js:33-39,
  // example/config.js) project each record onto the chosen axes, and
  // selections happen in THAT plane. Here the alternate numeric attribute
  // lives in the `props` JSON (`$.k`, like lat/lon/alt in the reference's
  // records); a rect select on (k, value) yields the same selection keys
  // as the (date, value) plane — the key format is axis-independent.
  // JSON extraction is codegen'd (`get_json_object`) and happens after the
  // compound pushdown filter, so only the selected compound's rows are
  // parsed at all.
  def dsAxisSelect(spark: SparkSession, d: String): DataFrame =
    keyed(spark, d)
      .filter(col("compound") === "click")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k") >= 20L && col("k") <= 40L &&
        col("value") >= 100.0 && col("value") <= 300.0)
      .select("sel_key", "k", "value")
      .orderBy("sel_key", "k")

  val dsAxisSelectSql: String = KeyedCte.replace(
    " FROM events", ", props FROM events") +
    """
      |SELECT sel_key, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
      |FROM k
      |WHERE compound = 'click'
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 20 AND 40
      |  AND value BETWEEN 100.0 AND 300.0
      |ORDER BY sel_key, k""".stripMargin

  // --- ds_zoom_history ----------------------------------------------------
  // The reference keeps a zoom-limit stack per (compound, axis-pair):
  // createScales pushes new limits (only if they differ from the top,
  // index.js:360-368), zoomOut pops (index.js:644), and rendering peeks the
  // top (index.js:338-349). Replayed as a DataFrame: a deterministic action
  // log per compound (the compound's first 12 events by corrected time;
  // every 5th action is a pop, the rest push limits derived from the event)
  // folded with pure window functions — running depth = prefix sum of ±1,
  // and a push survives iff no later depth dips below it (suffix min), the
  // classic stack-as-prefix-sum encoding. The log construction guarantees
  // pops never hit an empty stack (pushes strictly outnumber pops in every
  // prefix) and consecutive limits always differ (widths grow with the
  // action index) — the window encoding is only valid under those two
  // preconditions. The stack-STATE-dependent rules they exclude
  // (equal-limit push skipped, pop on empty) are covered by
  // `ds_zoom_replay` below, which replays an adversarial log through the
  // exact stack machine.
  // Output: final stack depth + the surviving top limits per compound.
  // Scale: two window passes over a per-compound log that is bounded by
  // analyst interaction counts — partitioned by compound, no joins over
  // the raw data.

  /** The compound's first `lim` rows by (ms, event_id) without a
    * corpus-sized per-compound rank window: every global top-`lim` row is
    * within the top-`lim` of its own (compound, time-bucket), so a
    * bucket-local rank prunes the corpus to ≤ lim × Buckets candidates per
    * compound and only the candidates pay the per-compound sort. Returns
    * the input columns plus the global rank `i` (1-based long), rows with
    * i ≤ lim. */
  private def firstActions(k: DataFrame, lim: Int): DataFrame = {
    // unhinted: the planner broadcasts whichever side its estimates make
    // smaller (below the broadcast threshold, the keyed rows)
    val rows = RangeBuckets.assign(k, "compound", "ms", hint = false)
    // Census prune before any sort: a bucket can hold one of the first
    // `lim` rows only if the earlier buckets hold fewer than `lim`, so the
    // count census (map-side combinable) names the surviving buckets,
    // usually each compound's first, and the corpus meets a broadcast
    // semi-join at the scan; the windows then sort ~n/Buckets survivors.
    val keep = rows.groupBy("compound", "b").agg(count(lit(1)).as("cb"))
      .withColumn("cum0", RangeBuckets.offset(col("cb"), "compound"))
      .filter(col("cum0") < lim)
      .select("compound", "b")
    val pruned = rows.join(broadcast(keep), Seq("compound", "b"))
    val lwb = Window.partitionBy("compound", "b").orderBy("ms", "event_id")
    val wi = Window.partitionBy("compound").orderBy("ms", "event_id")
    pruned.withColumn("lb", row_number().over(lwb)).filter(col("lb") <= lim)
      .withColumn("i", row_number().over(wi).cast("long"))
      .filter(col("i") <= lim)
      .drop("lb", "b")
  }

  def dsZoomHistory(spark: SparkSession, d: String): DataFrame = {
    val wRun = Window.partitionBy("compound").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSuf = Window.partitionBy("compound").orderBy("i")
      .rowsBetween(1, Window.unboundedFollowing)
    val wLast = Window.partitionBy("compound").orderBy(desc("i"))
    val a = firstActions(
      keyed(spark, d).select("compound", "event_id", "value", "ms"), 12)
    val isPop = col("i") % 5 === 0
    val act = a.select(col("compound"), col("i"),
      when(isPop, -1).otherwise(1).as("step"),
      when(isPop, lit(null)).otherwise(col("ms") - col("ms") % 86400000L).as("x0"),
      when(isPop, lit(null)).otherwise(col("ms") + col("i") * 86400000L).as("x1"),
      when(isPop, lit(null)).otherwise((floor(col("value") / 50) * 50).cast("double")).as("y0"),
      when(isPop, lit(null)).otherwise((ceil(col("value") / 50) * 50).cast("double")).as("y1"))
    val wAll = Window.partitionBy("compound").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // final depth = the last running-depth value, available to every row
    // through a full-partition window — no separate aggregate + join back
    val dep = act.withColumn("depth", sum(col("step")).over(wRun))
      .withColumn("final_depth", last(col("depth")).over(wAll))
    val surv = dep.withColumn("sufmin", min(col("depth")).over(wSuf))
      .filter(col("step") === 1 && col("depth") <= coalesce(col("sufmin"), col("depth")))
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
    surv
      .select(col("compound"), col("final_depth"),
        date_format(timestamp_millis(col("x0")), "yyyy-MM-dd HH:mm:ss").as("x0_s"),
        date_format(timestamp_millis(col("x1")), "yyyy-MM-dd HH:mm:ss").as("x1_s"),
        col("y0"), col("y1"))
      .orderBy("compound")
  }

  val dsZoomHistorySql: String = KeyedCte + """,
    |a AS (SELECT compound, event_id, value, ms,
    |       CAST(row_number() OVER (PARTITION BY compound ORDER BY ms, event_id) AS BIGINT) AS i
    |      FROM k QUALIFY i <= 12),
    |act AS (SELECT compound, i,
    |         CASE WHEN i % 5 = 0 THEN -1 ELSE 1 END AS step,
    |         CASE WHEN i % 5 = 0 THEN NULL ELSE ms - (ms % 86400000) END AS x0,
    |         CASE WHEN i % 5 = 0 THEN NULL ELSE ms + i*86400000 END AS x1,
    |         CASE WHEN i % 5 = 0 THEN NULL ELSE CAST(floor(value/50)*50 AS DOUBLE) END AS y0,
    |         CASE WHEN i % 5 = 0 THEN NULL ELSE CAST(ceil(value/50)*50 AS DOUBLE) END AS y1
    |        FROM a),
    |dep AS (SELECT *, CAST(sum(step) OVER (PARTITION BY compound ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth FROM act),
    |surv AS (SELECT *, min(depth) OVER (PARTITION BY compound ORDER BY i ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sufmin FROM dep),
    |top AS (SELECT compound, x0, x1, y0, y1, row_number() OVER (PARTITION BY compound ORDER BY i DESC) AS rn
    |        FROM surv WHERE step = 1 AND depth <= coalesce(sufmin, depth)),
    |fin AS (SELECT compound, depth AS final_depth, row_number() OVER (PARTITION BY compound ORDER BY i DESC) AS rn FROM dep)
    |SELECT t.compound, f.final_depth,
    | strftime(make_timestamp(t.x0*1000), '%Y-%m-%d %H:%M:%S') AS x0_s,
    | strftime(make_timestamp(t.x1*1000), '%Y-%m-%d %H:%M:%S') AS x1_s,
    | t.y0, t.y1
    |FROM top t JOIN fin f ON t.compound = f.compound AND f.rn = 1
    |WHERE t.rn = 1 ORDER BY t.compound""".stripMargin

  // --- ds_zoom_replay -----------------------------------------------------
  // The two zoom-stack semantics the windowed ds_zoom_history log cannot
  // reach (its action log is constructed so consecutive limits always differ
  // and pushes outnumber pops in every prefix):
  //  * push-if-different: a push whose limits EQUAL the current top is
  //    dropped (index.js:360-368 — createScales only pushes a changed
  //    window);
  //  * pop-on-empty: zoomOut on an empty stack is a no-op and rendering
  //    falls back to the data extent (index.js:644-650 pops; createScales →
  //    processAxis default when no stored limits).
  // Both rules are STACK-STATE-dependent — whether a push lands depends on
  // everything before it — so no prefix-sum/window encoding exists. This is
  // per-group sequential state over a bounded interaction log, exactly what
  // typed `mapGroups` is for: the log is ≤12 rows per compound, grouped by
  // compound, folded through a literal stack machine. Scale: the shuffle
  // moves only the log rows (bounded by analyst interaction counts), never
  // the raw data; extents are a map-side-combinable groupBy joined back
  // broadcast.
  // The log schedule is built to EXERCISE both rules: pops fire at
  // (i + length(compound)) % 4 == 0 and additionally at i == 7, and push
  // limits are quantized to blocks of 4 actions (b = i/4), so runs of
  // consecutive pushes carry equal limits (skipped) and pop bursts hit
  // empty stacks. Across the five synthetic compounds this yields skips in
  // all of them, over-pops in two, and both final branches (top-of-stack
  // and extent-fallback) in the output.
  case class ZoomAct(compound: String, i: Long, pop: Boolean,
    x0: Long, x1: Long, y0: Double, y1: Double,
    ext_x0: Long, ext_x1: Long, ext_y0: Double, ext_y1: Double)
  case class ZoomFinal(compound: String, final_depth: Long, src: String,
    x0: Long, x1: Long, y0: Double, y1: Double)

  /** The deterministic replay log: one action per row with push limits,
    * pop flag, and the compound's full-data extent riding along (public so
    * the spec can fold it through an independent stack implementation). */
  def zoomReplayLog(spark: SparkSession, d: String): DataFrame = {
    val day = 86400000L
    val k = keyed(spark, d)
    // reference fallback = processAxis over the displayed data: x extent
    // raw, y extent rounded out to yAxisRound = 50 (index.js:277-317)
    val ext = k.groupBy("compound").agg(
      min(col("ms")).as("ext_x0"), max(col("ms")).as("ext_x1"),
      (floor(min(col("value")) / 50) * 50).cast("double").as("ext_y0"),
      (ceil(max(col("value")) / 50) * 50).cast("double").as("ext_y1"))
    val wAll = Window.partitionBy("compound").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val log = firstActions(k.select("compound", "event_id", "value", "ms"), 12)
      .withColumn("x0f", first(col("ms")).over(wAll))
    val b = floor(col("i") / lit(4)).cast("long")
    log.join(broadcast(ext), Seq("compound"))
      .select(col("compound"), col("i"),
        (((col("i") + length(col("compound"))) % 4 === 0) || col("i") === 7).as("pop"),
        (col("x0f") - col("x0f") % day).as("x0"),
        (col("x0f") - col("x0f") % day + (b + 1) * day).as("x1"),
        (b * 50).cast("double").as("y0"),
        ((b + 2) * 50).cast("double").as("y1"),
        col("ext_x0"), col("ext_x1"), col("ext_y0"), col("ext_y1"))
  }

  def dsZoomReplay(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    zoomReplayLog(spark, d).as[ZoomAct]
      .groupByKey(_.compound)
      .mapGroups { (c, it) =>
        val acts = it.toArray.sortBy(_.i)
        var stack = List.empty[(Long, Long, Double, Double)]
        acts.foreach { a =>
          if (a.pop) {
            if (stack.nonEmpty) stack = stack.tail // empty: no-op (644-650)
          } else {
            val lim = (a.x0, a.x1, a.y0, a.y1)
            if (stack.isEmpty || stack.head != lim) stack = lim :: stack // 360-368
          }
        }
        val e = acts.head
        if (stack.nonEmpty)
          ZoomFinal(c, stack.size.toLong, "stack",
            stack.head._1, stack.head._2, stack.head._3, stack.head._4)
        else ZoomFinal(c, 0L, "extent", e.ext_x0, e.ext_x1, e.ext_y0, e.ext_y1)
      }
      .toDF().orderBy("compound")
  }

  /** Oracle: the SAME stack machine as a DuckDB recursive CTE — the stack is
    * a LIST of limit STRUCTs threaded through one recursion step per action,
    * with the push-if-different and pop-on-empty branches spelled out. */
  val dsZoomReplaySql: String = KeyedCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + """,
    |a AS (SELECT compound, event_id, value, ms,
    |       CAST(row_number() OVER (PARTITION BY compound ORDER BY ms, event_id) AS BIGINT) AS i
    |      FROM k QUALIFY i <= 12),
    |fst AS (SELECT compound, ms AS x0f FROM a WHERE i = 1),
    |act AS (SELECT a.compound, i,
    |         ((i + length(a.compound)) % 4 = 0 OR i = 7) AS pop,
    |         x0f - x0f % 86400000 AS x0,
    |         x0f - x0f % 86400000 + (i//4 + 1)*86400000 AS x1,
    |         CAST((i//4)*50 AS DOUBLE) AS y0,
    |         CAST((i//4 + 2)*50 AS DOUBLE) AS y1
    |        FROM a JOIN fst USING (compound)),
    |ext AS (SELECT compound, min(ms) AS ext_x0, max(ms) AS ext_x1,
    |         CAST(floor(min(value)/50)*50 AS DOUBLE) AS ext_y0,
    |         CAST(ceil(max(value)/50)*50 AS DOUBLE) AS ext_y1
    |        FROM k GROUP BY 1),
    |rec AS (
    | SELECT compound, CAST(0 AS BIGINT) AS i,
    |        CAST([] AS STRUCT(x0 BIGINT, x1 BIGINT, y0 DOUBLE, y1 DOUBLE)[]) AS stack
    | FROM (SELECT DISTINCT compound FROM act)
    | UNION ALL
    | SELECT r.compound, r.i + 1,
    |   CASE WHEN t.pop THEN (CASE WHEN len(r.stack) > 0 THEN r.stack[1:len(r.stack)-1] ELSE r.stack END)
    |        WHEN len(r.stack) > 0 AND r.stack[len(r.stack)] = {'x0': t.x0, 'x1': t.x1, 'y0': t.y0, 'y1': t.y1} THEN r.stack
    |        ELSE list_append(r.stack, {'x0': t.x0, 'x1': t.x1, 'y0': t.y0, 'y1': t.y1}) END
    | FROM rec r JOIN act t ON t.compound = r.compound AND t.i = r.i + 1),
    |fin AS (SELECT compound, stack FROM rec
    |        QUALIFY row_number() OVER (PARTITION BY compound ORDER BY i DESC) = 1)
    |SELECT f.compound, CAST(len(f.stack) AS BIGINT) AS final_depth,
    | CASE WHEN len(f.stack) > 0 THEN 'stack' ELSE 'extent' END AS src,
    | CASE WHEN len(f.stack) > 0 THEN f.stack[len(f.stack)].x0 ELSE e.ext_x0 END AS x0,
    | CASE WHEN len(f.stack) > 0 THEN f.stack[len(f.stack)].x1 ELSE e.ext_x1 END AS x1,
    | CASE WHEN len(f.stack) > 0 THEN f.stack[len(f.stack)].y0 ELSE e.ext_y0 END AS y0,
    | CASE WHEN len(f.stack) > 0 THEN f.stack[len(f.stack)].y1 ELSE e.ext_y1 END AS y1
    |FROM fin f JOIN ext e USING (compound) ORDER BY f.compound""".stripMargin

  // --- ds_zoom_planes -----------------------------------------------------
  // The reference keys one zoom stack PER (compound, axis-pair):
  // `zoomHistory.get(compound).get(joinXYStrings(x, y))` (index.js:338,
  // 693-700 builds the two-level map). Same stack replay as
  // ds_zoom_history, but the action log exists once per plane — the time
  // plane (x = corrected epoch-millis) and the alternate numeric attribute
  // plane (x = props.$.k) — and every window partitions by
  // (compound, plane). Limits here are a ±i window around the event's x
  // (plane-agnostic); depth evolution is identical across planes (same
  // pop cadence), top limits differ because x differs.
  /** One zoom plane = one (xOption, yOption) combination. The reference
    * initializes a stack for the FULL xOptions × yOptions cross product
    * (index.js:693-700); the plane list here is the config-driven analogue
    * (like GraftQC.rectSelectAxes): each entry names the plane and gives the
    * (x, y) projection as Columns over the keyed event stream (`ms`,
    * `value`, `props`, ...). x is cast to long, y to double.
    */
  final case class ZoomPlane(name: String, x: Column, y: Column)

  /** The reference's FULL config lattice (config.js:21-32): xOptions =
    * {date, meas_date} × yOptions = {month, day, year, MR} — 8 planes,
    * keyed `x<xOpt>_y<yOpt>` exactly like joinXYStrings (index.js:715-717).
    * Events-table analogues: date → the corrected epoch-millis (`ms`,
    * the reference's UTC-corrected d.date), meas_date → the RAW epoch-millis
    * (a second, uncorrected time field, as d.meas_date is a second time
    * field beside d.date); month/day/year → calendar fields of the
    * corrected timestamp (the reference's per-row derived fields), MR →
    * value. Each entry is (name, Spark Column over the keyed stream, DuckDB
    * SQL over the oracle's k CTE) so the lattice and its oracle derive from
    * ONE table and cannot drift.
    */
  private val ZoomXOptions: Seq[(String, Column, String)] = Seq(
    ("date", col("ms"), "ms"),
    ("meas_date", unix_timestamp(col("ts")) * 1000, "ms_raw"))
  private val ZoomYOptions: Seq[(String, Column, String)] = Seq(
    ("month", month(col("cts")), "CAST(month(cts) AS DOUBLE)"),
    ("day", dayofmonth(col("cts")), "CAST(day(cts) AS DOUBLE)"),
    ("year", year(col("cts")), "CAST(year(cts) AS DOUBLE)"),
    ("MR", col("value"), "value"))

  val ConfigZoomPlanes: Seq[ZoomPlane] =
    for { (xn, x, _) <- ZoomXOptions; (yn, y, _) <- ZoomYOptions }
      yield ZoomPlane(s"x${xn}_y$yn", x, y)

  def dsZoomPlanes(spark: SparkSession, d: String): DataFrame =
    zoomPlanes(spark, d, ConfigZoomPlanes)

  def zoomPlanes(spark: SparkSession, d: String, lattice: Seq[ZoomPlane]): DataFrame = {
    require(lattice.nonEmpty, "zoomPlanes needs at least one plane")
    val base = keyed(spark, d)
    // The action ordinal is PLANE-INDEPENDENT — every plane replays the
    // same (ms, event_id)-ordered action stream — so rank once per
    // compound on the BASE stream (bucket-pruned, see firstActions) and
    // cut to the 12 surviving actions BEFORE the 8-way plane explode: the
    // corpus never pays a per-compound sort, and the explode runs over
    // ≤12 rows per compound (the oracle keeps the per-plane rank,
    // provably equal).
    val top = firstActions(base, 12)
    val a = top.select(col("compound"), col("i"),
      explode(array(lattice.map(p =>
        struct(lit(p.name).as("plane"), p.x.cast("long").as("x"),
          p.y.cast("double").as("value"))): _*)).as("p"))
      .select(col("compound"), col("p.plane").as("plane"), col("i"),
        col("p.value").as("value"), col("p.x").as("x"))
    val wRun = Window.partitionBy("compound", "plane").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("compound", "plane").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wSuf = Window.partitionBy("compound", "plane").orderBy("i")
      .rowsBetween(1, Window.unboundedFollowing)
    val wLast = Window.partitionBy("compound", "plane").orderBy(desc("i"))
    val isPop = col("i") % 5 === 0
    val act = a.select(col("compound"), col("plane"), col("i"),
      when(isPop, -1).otherwise(1).as("step"),
      when(isPop, lit(null)).otherwise(col("x") - col("i")).as("x0"),
      when(isPop, lit(null)).otherwise(col("x") + col("i")).as("x1"),
      when(isPop, lit(null)).otherwise((floor(col("value") / 50) * 50).cast("double")).as("y0"),
      when(isPop, lit(null)).otherwise((ceil(col("value") / 50) * 50).cast("double")).as("y1"))
    val dep = act.withColumn("depth", sum(col("step")).over(wRun))
      .withColumn("final_depth", last(col("depth")).over(wAll))
    dep.withColumn("sufmin", min(col("depth")).over(wSuf))
      .filter(col("step") === 1 && col("depth") <= coalesce(col("sufmin"), col("depth")))
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select("compound", "plane", "final_depth", "x0", "x1", "y0", "y1")
      .orderBy("compound", "plane")
  }

  val dsZoomPlanesSql: String = {
    val planeSelects = (for {
      (xn, _, xSql) <- ZoomXOptions
      (yn, _, ySql) <- ZoomYOptions
    } yield s"SELECT compound, 'x${xn}_y$yn' AS plane, event_id, $ySql AS value, ms, $xSql AS x FROM k")
      .mkString("\n      UNION ALL\n      ")
    s"""WITH k AS (
      | SELECT event_id, event_type AS compound, value,
      |  (CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000 AS ms,
      |  CAST(floor(epoch(ts)) AS BIGINT)*1000 AS ms_raw,
      |  make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) - 7200)*1000000) AS cts
      | FROM events),
      |p AS ($planeSelects),
      |a AS (SELECT compound, plane, event_id, value, x,""".stripMargin +
    """
      |       CAST(row_number() OVER (PARTITION BY compound, plane ORDER BY ms, event_id) AS BIGINT) AS i
      |      FROM p QUALIFY i <= 12),
      |act AS (SELECT compound, plane, i,
      |         CASE WHEN i % 5 = 0 THEN -1 ELSE 1 END AS step,
      |         CASE WHEN i % 5 = 0 THEN NULL ELSE x - i END AS x0,
      |         CASE WHEN i % 5 = 0 THEN NULL ELSE x + i END AS x1,
      |         CASE WHEN i % 5 = 0 THEN NULL ELSE CAST(floor(value/50)*50 AS DOUBLE) END AS y0,
      |         CASE WHEN i % 5 = 0 THEN NULL ELSE CAST(ceil(value/50)*50 AS DOUBLE) END AS y1
      |        FROM a),
      |dep AS (SELECT *, CAST(sum(step) OVER (PARTITION BY compound, plane ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth FROM act),
      |dep2 AS (SELECT *, last_value(depth) OVER (PARTITION BY compound, plane ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS final_depth,
      |          min(depth) OVER (PARTITION BY compound, plane ORDER BY i ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sufmin FROM dep),
      |top AS (SELECT compound, plane, final_depth, x0, x1, y0, y1,
      |         row_number() OVER (PARTITION BY compound, plane ORDER BY i DESC) AS rn
      |        FROM dep2 WHERE step = 1 AND depth <= coalesce(sufmin, depth))
      |SELECT compound, plane, final_depth, x0, x1, y0, y1
      |FROM top WHERE rn = 1 ORDER BY compound, plane""".stripMargin
  }

  // --- ds_outlier_mad -----------------------------------------------------
  // Automated outlier pre-flagging — the batch sibling of the reference's
  // manual rectangle QC: flag points whose deviation from the per-compound
  // median exceeds 3× the median absolute deviation (MAD), the robust
  // outlier rule (mean/stddev would be dragged by the very outliers being
  // hunted). Medians are DISCRETE (value at rank (n+1) div 2 under a
  // (value, event_id) total order) like q_percentiles, so both engines
  // pick the same raw data value; the only arithmetic on doubles is one
  // subtraction, one abs, one 3× multiply — identical IEEE in both.
  // Scale: ONE hash exchange on compound, then a window chain (two sorts,
  // zero joins — see outlierMadFrom). An analyst reviews the flags, not
  // 100 TB.
  def dsOutlierMad(spark: SparkSession, d: String): DataFrame =
    outlierMadFrom(keyedQc(spark, d).select("event_id", "compound", "value"), "event_id")
      .orderBy("event_id")

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, value) where `idCol` is any column that
    * totally orders ties deterministically.
    *
    * Shape: both medians are order statistics, so they come from the
    * per-compound VALUE HISTOGRAM — the median is the smallest value whose
    * cumulative count reaches (n+1) div 2, and the deviation median is the
    * same statistic over the |v − med| histogram derived from the value
    * histogram (counts merge, no corpus row is ranked). The corpus pays
    * one map-side-combinable groupBy (per-partition partials capped by the
    * value lattice — measurement data is lattice-bounded, the ds_histogram
    * argument) plus one final scan that attaches (med, mad) and filters.
    * If every value is distinct the histogram is corpus-sized, and the
    * cost is that of ranking the corpus by value once.
    *
    * The median and the deviation histogram both read the value
    * histogram, inside the one broadcast `madT` subtree, so its shuffle
    * runs once and the second read is a reused exchange. Nothing is
    * persisted, so a call leaves no RDD behind, and building the plan runs
    * no job.
    */
  def outlierMadFrom(k: DataFrame, idCol: String): DataFrame = {
    // report-sized after the corpus agg
    val hist = k.groupBy("compound", "value").agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy("compound")
    val cw = Window.partitionBy("compound").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val medT = hist
      .withColumn("cum", sum(col("cnt")).over(cw))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("compound")
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("value"))).as("med"))
    val devHist = hist.join(medT, Seq("compound"))
      .select(col("compound"), col("med"),
        abs(col("value") - col("med")).as("dev"), col("cnt"))
      .groupBy("compound", "med", "dev").agg(sum(col("cnt")).as("cnt"))
    val dw = Window.partitionBy("compound").orderBy("dev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val madT = devHist
      .withColumn("cum", sum(col("cnt")).over(dw))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy("compound")
      .agg(max(col("med")).as("med"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("dev"))).as("mad"))
    // broadcast: |compounds|-row aggregate (the dsHistogram bounds
    // contract). The hint is required: when `k` reads the keyed-stream
    // memo, its cached size can be small enough that AQE would otherwise
    // broadcast the corpus side, which does not fit a driver at 100 TB
    k.join(broadcast(madT), Seq("compound"))
      .withColumn("dev", abs(col("value") - col("med")))
      .filter(col("dev") > lit(3.0) * col("mad"))
      .select(idCol, "compound", "value", "med", "mad")
  }

  val dsOutlierMadSql: String = KeyedCte +
    """,
      |r AS (SELECT event_id, compound, value,
      |  CAST(row_number() OVER (PARTITION BY compound ORDER BY value, event_id) AS BIGINT) AS rn,
      |  count(*) OVER (PARTITION BY compound) AS n FROM k),
      |med AS (SELECT compound, value AS med FROM r WHERE rn = (n + 1) // 2),
      |dev AS (SELECT event_id, k.compound, k.value, med, abs(k.value - med) AS dev
      |        FROM k JOIN med ON k.compound = med.compound),
      |r2 AS (SELECT event_id, compound, dev,
      |  CAST(row_number() OVER (PARTITION BY compound ORDER BY dev, event_id) AS BIGINT) AS rn,
      |  count(*) OVER (PARTITION BY compound) AS n FROM dev),
      |mad AS (SELECT compound, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT event_id, dev.compound, value, med, mad
      |FROM dev JOIN mad ON dev.compound = mad.compound
      |WHERE dev > 3.0 * mad ORDER BY event_id""".stripMargin

  // --- ds_gaps ------------------------------------------------------------
  // Coverage-gap detection — the other automated QC report a time-series
  // operator owes its users: per compound, consecutive-sample gaps larger
  // than 4× that compound's MEAN spacing. The relative threshold is the
  // point (it stays meaningful at every data density, where a fixed "6h"
  // would go silent at 100× the sampling rate), and it reduces to a pure
  // INTEGER cross-multiplication — gap·(n−1) > 4·(span) on epoch seconds —
  // so no division ever happens and both engines agree exactly.
  // Scale: the consecutive pairs are the QC stream's lags at width 1, and
  // the per-compound spacing joins them after the carry unless the stream
  // carries it (a library caller's does).
  def dsGaps(spark: SparkSession, d: String): DataFrame =
    gaps(qcStream(spark, d)).orderBy("compound", "gap_end_id")

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, cts: timestamp, value). */
  def gapsFrom(k: DataFrame, idCol: String): DataFrame = gaps(QcStream.of(k, idCol, Spacing))

  /** The spacing columns of the gap rule: span, whole seconds from a
    * compound's first sample to its last, and its sample count n. */
  private val Spacing = Seq("span", "n")

  private def gaps(s: QcStream): DataFrame =
    gapPairs(s, Nil)
      .select(col("compound"), col(RangeBuckets.lagName(s.id, 1)).as("gap_start_id"),
        col(s.id).as("gap_end_id"), col("gap_sec"))

  /** The consecutive pairs of `s` whose gap_sec breaks the spacing rule,
    * with the lag-1s of sec (epoch seconds), the id and `cols`. */
  private def gapPairs(s: QcStream, cols: Seq[String]): DataFrame = {
    val rows = s.select(Seq(s.id, "cts") ++ cols, Spacing)
      .withColumn("sec", unix_timestamp(col("cts")))
    s.withStats(s.lags(rows, Seq("sec", s.id) ++ cols, 1).filter(col("sec_lag1").isNotNull),
        Spacing)
      .withColumn("gap_sec", col("sec") - col("sec_lag1"))
      .filter(col("gap_sec") * (col("n") - 1) > lit(4L) * col("span"))
  }

  val dsGapsSql: String = KeyedCte +
    """,
      |s AS (SELECT event_id, compound, ms // 1000 AS sec, cts FROM k),
      |sp AS (SELECT compound, max(sec) - min(sec) AS span, count(*) AS n FROM s GROUP BY 1),
      |l AS (SELECT event_id, compound, sec, cts,
      |  lag(sec) OVER w AS prev_sec, lag(event_id) OVER w AS prev_id
      | FROM s WINDOW w AS (PARTITION BY compound ORDER BY cts, event_id))
      |SELECT l.compound, prev_id AS gap_start_id, event_id AS gap_end_id,
      | sec - prev_sec AS gap_sec
      |FROM l JOIN sp ON l.compound = sp.compound
      |WHERE prev_sec IS NOT NULL AND (sec - prev_sec) * (n - 1) > 4 * span
      |ORDER BY l.compound, gap_end_id""".stripMargin

  // --- ds_interp ----------------------------------------------------------
  // Gap repair — the ACTION on what ds_gaps detects: for every flagged
  // coverage gap (same relative-threshold rule: gap·(n−1) > 4·span), emit
  // one synthetic sample at the integer midpoint time, linearly
  // interpolated between the bracketing real samples. Same lag as
  // ds_gaps; the arithmetic is exact integers (cents, epoch seconds,
  // positive midpoint halving) up to ONE fixed double tree both engines
  // evaluate identically: prev + (next−prev)·frac, frac = one division of
  // exact integer-valued doubles. Downstream, union-ing these rows back under
  // the raw series is the standard grid-repair step before resampling.
  def dsInterp(spark: SparkSession, d: String): DataFrame = interp(qcStream(spark, d))

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, cts: timestamp, value). */
  def interpFrom(k: DataFrame, idCol: String): DataFrame = interp(QcStream.of(k, idCol, Spacing))

  private def interp(s: QcStream): DataFrame =
    gapPairs(s, Seq("vc"))
      .withColumn("mid_sec", expr("(sec_lag1 + sec) div 2"))
      .select(col("compound"), col(RangeBuckets.lagName(s.id, 1)).as("gap_start_id"),
        col(s.id).as("gap_end_id"), col("mid_sec"),
        ((col("vc_lag1").cast("double") + (col("vc") - col("vc_lag1")).cast("double")
          * ((col("mid_sec") - col("sec_lag1")).cast("double")
            / col("gap_sec").cast("double"))) / 100.0).as("interp_value"))
      .orderBy("compound", "gap_end_id")

  val dsInterpSql: String = KeyedCte +
    """,
      |s AS (SELECT event_id, compound, ms // 1000 AS sec, cts,
      |  CAST(round(value*100) AS BIGINT) AS vc FROM k),
      |sp AS (SELECT compound, max(sec) - min(sec) AS span, count(*) AS n FROM s GROUP BY 1),
      |l AS (SELECT event_id, compound, sec, vc,
      |  lag(sec) OVER w AS prev_sec, lag(event_id) OVER w AS prev_id,
      |  lag(vc) OVER w AS prev_vc
      | FROM s WINDOW w AS (PARTITION BY compound ORDER BY cts, event_id)),
      |g AS (SELECT l.*, sec - prev_sec AS gap_sec
      | FROM l JOIN sp ON l.compound = sp.compound
      | WHERE prev_sec IS NOT NULL AND (sec - prev_sec) * (n - 1) > 4 * span),
      |m AS (SELECT *, CAST((prev_sec + sec) // 2 AS BIGINT) AS mid_sec FROM g)
      |SELECT compound, prev_id AS gap_start_id, event_id AS gap_end_id, mid_sec,
      | (CAST(prev_vc AS DOUBLE) + CAST(vc - prev_vc AS DOUBLE)
      |    * (CAST(mid_sec - prev_sec AS DOUBLE) / CAST(gap_sec AS DOUBLE))) / 100.0
      |   AS interp_value
      |FROM m ORDER BY compound, gap_end_id""".stripMargin

  // --- ds_rolling_z -------------------------------------------------------
  // Trailing rolling z-score flagging — the moving-window sibling of
  // ds_outlier_mad (a global median rule goes blind when the series has a
  // trend; a trailing window tracks the local level). Per compound, each
  // point with a full 16-sample trailing window is tested against that
  // window's mean ± 3σ.
  //
  // Exactness: a window SUM over doubles sums in engine-internal order
  // (sliding-frame subtraction vs re-scan), so the repo's decimal trick
  // doesn't apply (value is not monetary; rounding it would change the
  // flags). Instead the window sums are written as an EXPLICIT fixed-order
  // lag chain — v + lag1 + … + lag15, left-associated — the identical IEEE
  // fold in both engines, like ds_resample's interpolation sequence. The
  // flag comparison dev² > 9·var avoids sqrt in the predicate; the
  // reported sd is one correctly-rounded sqrt of identical operands
  // (clamped at 0 against cancellation).
  // Scale: the ROWS-16 trailing window is the QC stream's lags, 15 rows
  // back: at scale the 15-lag chain runs per (compound, bucket), and each
  // bucket's first 15 rows take the lags they miss from the census of the
  // buckets before it, value-identical to the single per-compound sort.
  private val RollW = 16

  def dsRollingZ(spark: SparkSession, d: String): DataFrame =
    rollingZ(qcStream(spark, d)).orderBy("compound", "event_id")

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, cts: timestamp, value). */
  def rollingZFrom(k: DataFrame, idCol: String): DataFrame = rollingZ(QcStream.of(k, idCol))

  private def rollingZ(s: QcStream): DataFrame = {
    val lagged = s.lags(s.select(Seq(s.id, "value", "cts")), Seq("value"), RollW - 1)
    def l(j: Int): Column = col(RangeBuckets.lagName("value", j))
    val nD = RollW.toDouble
    val total = (1 until RollW).foldLeft(col("value"))((acc, j) => acc + l(j))
    val ss = (1 until RollW).foldLeft(col("value") * col("value"))((acc, j) => acc + l(j) * l(j))
    lagged.filter(col("i") >= RollW)
      .withColumn("s", total).withColumn("ss", ss)
      .withColumn("mean", col("s") / nD)
      .withColumn("dev", col("value") - col("mean"))
      .withColumn("vr", (col("ss") - col("s") * col("s") / nD) / nD)
      .filter(col("dev") * col("dev") > lit(9.0) * col("vr"))
      .select(col("compound"), col(s.id),
        date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("value"), col("dev"),
        sqrt(greatest(col("vr"), lit(0.0))).as("sd"))
  }

  val dsRollingZSql: String = {
    val lags = (1 until RollW).map(i => s"lag(value, $i) OVER w AS l$i").mkString(",\n |  ")
    val sTerms = "value" + (1 until RollW).map(i => s" + l$i").mkString
    val ssTerms = "value*value" + (1 until RollW).map(i => s" + l$i*l$i").mkString
    KeyedCte +
      s""",
         |l AS (SELECT event_id, compound, value, cts,
         |  CAST(row_number() OVER w AS BIGINT) AS rn,
         |  $lags
         | FROM k WINDOW w AS (PARTITION BY compound ORDER BY cts, event_id)),
         |z AS (SELECT compound, event_id, cts, value,
         |  $sTerms AS s, $ssTerms AS ss
         | FROM l WHERE rn >= $RollW),
         |z2 AS (SELECT compound, event_id, cts, value,
         |  value - s/$RollW.0 AS dev, (ss - s*s/$RollW.0)/$RollW.0 AS vr FROM z)
         |SELECT compound, event_id, strftime(cts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         | value, dev, sqrt(greatest(vr, 0.0)) AS sd
         |FROM z2 WHERE dev*dev > 9.0*vr ORDER BY compound, event_id""".stripMargin
  }

  // --- ds_changepoint -----------------------------------------------------
  // Level-shift detection — per compound, the single split of the (cts,
  // event_id)-ordered series that maximizes the between-segment mean gap
  // (the binary-segmentation step classical changepoint methods iterate;
  // one step is the QC report "where did this sensor jump?").
  //
  // Exactness: values are quantized to integer cents ONCE (the same
  // round(value·100) rule every monetary op uses), so prefix sums are
  // order-independent integer window sums — safe where a double window
  // sum is not. The split score |mean_L − mean_R| is compared via the
  // cross-multiplied integer |S_i·(n−i) − (S_n−S_i)·i| over denominator
  // i·(n−i); per-row score doubles come from ONE division of identical
  // exact operands in both engines, and the argmax breaks ties by
  // earliest split. Reported means: one division each, identical order.
  // Scale: the row index and prefix sum decompose over (compound,
  // time-bucket) windows, i = ioff(b) + li and S_i = soff(b) + ls, with
  // the census offsets joined back. The argmax never re-sorts the corpus:
  // a map-side-combinable max_by(payload, (score, −i)) takes each bucket's
  // best split, and the global pick windows over the census-sized
  // survivors. Below the gate a compound is one bucket with no offsets.
  def dsChangepoint(spark: SparkSession, d: String): DataFrame =
    changepoint(qcStream(spark, d)).orderBy("compound")

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, cts: timestamp, value); the boundary id
    * column is named `boundary_<idCol>`. */
  def changepointFrom(k: DataFrame, idCol: String): DataFrame =
    changepoint(QcStream.of(k, idCol, Totals))

  /** The per-compound totals of the changepoint score: n and sv = Σvc. */
  private val Totals = Seq("n", "sv")

  private def changepoint(s: QcStream): DataFrame = {
    val lw = Window.partitionBy(s.key.map(col): _*).orderBy(s.order: _*)
    def prefix(in: DataFrame): DataFrame = in
      .withColumn("li", row_number().over(lw).cast("long"))
      .withColumn("ls", sum(col("vc"))
        .over(lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rows = s.select(Seq(s.id, "cts", "vc"), Totals)
    val indexed =
      if (!s.atScale) prefix(rows).withColumnRenamed("li", "i").withColumnRenamed("ls", "s")
      else {
        val local = RangeBuckets.local(rows)(prefix)
        val census = local.groupBy("compound", "b").agg(
          count(lit(1)).as("cb"), sum(col("vc")).as("sb"))
          .withColumn("ioff", RangeBuckets.offset(col("cb"), "compound"))
          .withColumn("soff", RangeBuckets.offset(col("sb"), "compound"))
          .select("compound", "b", "ioff", "soff")
        local.join(census, Seq("compound", "b"))
          .withColumn("i", col("ioff") + col("li"))
          .withColumn("s", col("soff") + col("ls"))
      }
    val scored = s.withStats(indexed, Totals)
      .filter(col("i") < col("n"))
      .withColumn("num", abs(col("s") * (col("n") - col("i")) - (col("sv") - col("s")) * col("i")))
      .withColumn("score", col("num").cast("double") / (col("i") * (col("n") - col("i"))).cast("double"))
    // bucket-best via max_by on the (score, −i) order — max score, then
    // earliest split — then one window over ≤ Buckets survivors
    val best = scored.groupBy(s.key.map(col): _*).agg(max_by(
      struct(col(s.id), col("cts"), col("i"), col("s"), col("n"), col("sv"), col("score")),
      struct(col("score"), (-col("i")).as("ni"))).as("w"))
      .select(col("compound"), col("w.*"))
    val wPick = Window.partitionBy("compound").orderBy(desc("score"), col("i"))
    best.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("compound"), col("i").as("split_i"),
        col(s.id).as(s"boundary_${s.id}"),
        date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        ((col("s").cast("double") / 100.0) / col("i").cast("double")).as("mean_left"),
        (((col("sv") - col("s")).cast("double") / 100.0) / (col("n") - col("i")).cast("double")).as("mean_right"),
        col("score"))
  }

  val dsChangepointSql: String = KeyedCte +
    """,
      |p AS (SELECT compound, event_id, cts, CAST(round(value*100) AS BIGINT) AS vc,
      |  CAST(row_number() OVER w AS BIGINT) AS i,
      |  sum(CAST(round(value*100) AS BIGINT)) OVER w AS s,
      |  count(*) OVER (PARTITION BY compound) AS n,
      |  sum(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY compound) AS sn
      | FROM k WINDOW w AS (PARTITION BY compound ORDER BY cts, event_id ROWS UNBOUNDED PRECEDING)),
      |sc AS (SELECT compound, event_id, cts, i, s, n, sn,
      |  CAST(abs(s*(n-i) - (sn-s)*i) AS DOUBLE) / CAST(i*(n-i) AS DOUBLE) AS score
      | FROM p WHERE i < n),
      |pick AS (SELECT compound, event_id, cts, i, s, n, sn, score,
      |  row_number() OVER (PARTITION BY compound ORDER BY score DESC, i) AS rk FROM sc)
      |SELECT compound, i AS split_i, event_id AS boundary_event_id,
      | strftime(cts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      | (CAST(s AS DOUBLE)/100.0)/CAST(i AS DOUBLE) AS mean_left,
      | (CAST(sn - s AS DOUBLE)/100.0)/CAST(n - i AS DOUBLE) AS mean_right,
      | score
      |FROM pick WHERE rk = 1 ORDER BY compound""".stripMargin

  // --- ds_resample --------------------------------------------------------
  // Regular-grid resampling: per compound, linearly interpolate the value
  // series onto 6-hour grid marks — what a QC tool produces before
  // cross-series comparison or gap-tolerant plotting of irregular samples.
  // Construction is the scale-safe as-of shape (q_asof_join's): samples and
  // grid marks are UNIONED and ONE ordered window pass per direction
  // carries the nearest sample value/time forward (asc) and backward
  // (desc) — never a per-grid-point range join. Samples sharing an epoch
  // second collapse to the max-event_id value first (`max_by`), so
  // neighbor choice is deterministic. Only interior marks (both neighbors
  // exist) are emitted. The interpolation
  //   v = v0 + (v1 − v0) · ((g − t0) / (t1 − t0))
  // is written as the identical IEEE sequence in both engines over exact
  // integer second differences; a sample landing on a mark makes the
  // numerator exactly 0 → v0 exactly, no special case.
  // Scale: both directional passes decompose over (compound,
  // time-bucket) groups — the running `last` carries run
  // bucket-locally, each bucket's carry-OUT (its last sample seen, per
  // direction) lands in a census, and a census-level running `last`
  // (ignoreNulls, so sample-less buckets are skipped exactly) hands each
  // bucket its carry-IN, coalesced under the local value. Grid size is
  // span/6h per compound — output-bounded, not input-bounded.
  private val ResampleStepSec = 6L * 3600

  def dsResample(spark: SparkSession, d: String): DataFrame =
    resampleFrom(
      keyedQc(spark, d).select(col("compound"), expr("ms div 1000").as("sec"),
        col("value"), col("event_id").as("tie")))

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `kIn` needs (compound, sec: long, value, tie) where `tie` makes
    * same-second sample choice deterministic (`max_by`).
    */
  def resampleFrom(kIn: DataFrame): DataFrame = {
    val s = ResampleStepSec
    val samples = kIn
      .groupBy("compound", "sec").agg(expr("max_by(value, tie)").as("v"))
    val spans = samples.groupBy("compound")
      .agg(min(col("sec")).as("tmin"), max(col("sec")).as("tmax"))
    val grid = spans
      // a span too short to contain an aligned mark makes the first mark
      // exceed tmax — Spark's sequence() THROWS on start > stop (DuckDB's
      // range() is just empty), so such compounds must be filtered first
      .filter(expr(s"((tmin + ${s - 1}) div $s) * $s <= tmax"))
      .select(col("compound"),
        explode(expr(s"sequence(((tmin + ${s - 1}) div $s) * $s, tmax, $s)")).as("sec"))
    val unioned = samples.select(col("compound"), col("sec"), lit(0).as("kind"), col("v"))
      .unionByName(grid.select(col("compound"), col("sec"), lit(1).as("kind"),
        lit(null).cast("double").as("v")))
    // bucket by sec (grid marks lie inside the sample span, so the sample
    // span bounds the union); same-second sample/mark pairs share a
    // bucket, so both sort orders remain bucket-decomposable
    val rows = RangeBuckets.bucketed(unioned, spans, "compound", "sec")
    val wAsc = Window.partitionBy("compound", "b").orderBy(col("sec").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // at an equal second the DESC scan must see the grid mark BEFORE the
    // sample (kind desc), so "next" is strictly after the mark — otherwise
    // a sample on a mark would be both neighbors (t1 − t0 = 0).
    // A `first(...) OVER (ROWS CURRENT ROW TO UNBOUNDED
    // FOLLOWING)` on the ascending sort looks cheaper (one sort, not two)
    // but is O(n²) — Spark's UnboundedFollowing frame re-scans the
    // partition tail for EVERY row (133s vs 1.1s at sf0.1, measured). The
    // second sort + running `last` is the linear formulation.
    val wDesc = Window.partitionBy("compound", "b").orderBy(col("sec").desc, col("kind").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = RangeBuckets.local(RangeBuckets.partitioned(rows, "compound"))(_
      .withColumn("lpv", last(col("v"), ignoreNulls = true).over(wAsc))
      .withColumn("lps", last(when(col("kind") === 0, col("sec")), ignoreNulls = true).over(wAsc))
      .withColumn("lnv", last(col("v"), ignoreNulls = true).over(wDesc))
      .withColumn("lns", last(when(col("kind") === 0, col("sec")), ignoreNulls = true).over(wDesc)))
    // carry-outs: the asc running state at the bucket's last row in asc
    // order, and the desc running state at its last row in desc order
    // (= min (sec, kind)); nulled to a NULL STRUCT when the bucket holds
    // no sample so the census-level running `last` skips it whole
    val carries = local.groupBy("compound", "b").agg(
      max_by(struct(col("lpv"), col("lps")),
        struct(col("sec"), col("kind"))).as("ac"),
      max_by(struct(col("lnv"), col("lns")),
        struct(-col("sec"), -col("kind"))).as("dc"))
      .withColumn("acN", when(col("ac.lps").isNotNull, col("ac")))
      .withColumn("dcN", when(col("dc.lns").isNotNull, col("dc")))
    val carryIn = carries
      .withColumn("ai", last(col("acN"), ignoreNulls = true).over(RangeBuckets.earlier("compound")))
      .withColumn("di", last(col("dcN"), ignoreNulls = true).over(RangeBuckets.later("compound")))
      .select(col("compound"), col("b"),
        col("ai.lpv").as("cpv"), col("ai.lps").as("cps"),
        col("di.lnv").as("cnv"), col("di.lns").as("cns"))
    local.join(carryIn, Seq("compound", "b"))
      .withColumn("pv", coalesce(col("lpv"), col("cpv")))
      .withColumn("ps", coalesce(col("lps"), col("cps")))
      .withColumn("nv", coalesce(col("lnv"), col("cnv")))
      .withColumn("ns", coalesce(col("lns"), col("cns")))
      .filter(col("kind") === 1 && col("ps").isNotNull && col("ns").isNotNull)
      .select(col("compound"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm").as("grid_s"),
        (col("pv") + (col("nv") - col("pv")) *
          ((col("sec") - col("ps")).cast("double") / (col("ns") - col("ps")).cast("double")))
          .as("v_interp"))
      .orderBy("compound", "grid_s")
  }

  val dsResampleSql: String = KeyedCte +
    s""",
       |sm AS (SELECT compound, ms // 1000 AS sec, arg_max(value, event_id) AS v
       |       FROM k GROUP BY 1, 2),
       |sp AS (SELECT compound, min(sec) AS mn, max(sec) AS mx FROM sm GROUP BY 1),
       |g AS (SELECT compound, CAST(unnest(range(((mn + ${ResampleStepSec - 1}) // $ResampleStepSec) * $ResampleStepSec, mx + 1, $ResampleStepSec)) AS BIGINT) AS sec FROM sp),
       |u AS (SELECT compound, sec, 0 AS kind, v FROM sm
       |      UNION ALL SELECT compound, sec, 1, NULL FROM g),
       |w AS (SELECT compound, sec, kind,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec ASC, kind ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |  last_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec ASC, kind ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec DESC, kind DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
       |  last_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec DESC, kind DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ns
       | FROM u)
       |SELECT compound,
       | strftime(make_timestamp(sec * 1000000), '%Y-%m-%d %H:%M') AS grid_s,
       | pv + (nv - pv) * (CAST(sec - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE)) AS v_interp
       |FROM w
       |WHERE kind = 1 AND ps IS NOT NULL AND ns IS NOT NULL
       |ORDER BY compound, grid_s""".stripMargin

  // --- ds_histogram -------------------------------------------------------
  // Per-compound value histogram over the reference's OWN axis box: bounds
  // are ds_extent's rounded y-limits (floor/ceil to yAxisRound = 50,
  // `index.js:277-317`), split into 20 equal bins — the server-side
  // aggregation a plotting front-end needs once the data is too big to
  // ship (the reference plots raw points; at 100 TB you plot THIS).
  // Bin index = floor((v − lo) / width) with the identical IEEE sequence
  // in both engines (lo/width derive from the rounded integer bounds);
  // v = hi lands in a phantom 21st bin and is clamped into bin 19 with an
  // integer `least`. Empty bins are emitted with n = 0 (a plotting
  // payload needs the full grid), via a per-compound bin scaffold joined
  // to the counts — scaffold is |compounds|×20 rows, broadcast.
  // Scale: ONE map-side-combinable groupBy on (compound, bin); the scan
  // never shuffles.
  private val HistBins = 20

  def dsHistogram(spark: SparkSession, d: String): DataFrame =
    histogramFrom(keyed(spark, d).select("compound", "value"))

  /** DataFrame-in variant: `k` needs (compound, value). */
  def histogramFrom(k: DataFrame): DataFrame = {
    val bounds = k.groupBy("compound").agg(
      (floor(min(col("value")) / 50) * 50).cast("double").as("lo"),
      (ceil(max(col("value")) / 50) * 50).cast("double").as("hi"))
    // hi == lo happens when every value of a compound is the same multiple
    // of 50: the width is then 0 and the general formula divides by zero
    // (Spark: NaN→null bin; DuckDB: Inf→error) — both engines must place
    // such rows in bin 0 explicitly
    val binned = k.join(broadcast(bounds), Seq("compound"))
      .select(col("compound"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / HistBins)).cast("long"),
            lit(HistBins - 1L))).as("bin"))
      .groupBy("compound", "bin").agg(count(lit(1)).as("n"))
    val scaffold = bounds.select(col("compound"), col("lo"), col("hi"),
      explode(expr(s"sequence(0L, ${HistBins - 1L})")).as("bin"))
    scaffold.join(binned, Seq("compound", "bin"), "left")
      .select(col("compound"), col("bin"),
        (col("lo") + col("bin") * ((col("hi") - col("lo")) / HistBins)).as("bin_lo"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("compound", "bin")
  }

  val dsHistogramSql: String = KeyedCte +
    s""",
       |b AS (SELECT compound,
       |  CAST(floor(min(value)/50)*50 AS DOUBLE) AS lo,
       |  CAST(ceil(max(value)/50)*50 AS DOUBLE) AS hi
       | FROM k GROUP BY 1),
       |h AS (SELECT k.compound,
       |  CASE WHEN hi = lo THEN 0
       |       ELSE least(CAST(floor((value - lo) / ((hi - lo) / $HistBins)) AS BIGINT), ${HistBins - 1}) END AS bin,
       |  count(*) AS n
       | FROM k JOIN b ON k.compound = b.compound GROUP BY 1, 2),
       |s AS (SELECT compound, lo, hi, CAST(unnest(range(0, $HistBins)) AS BIGINT) AS bin FROM b)
       |SELECT s.compound, s.bin,
       | lo + s.bin * ((hi - lo) / $HistBins) AS bin_lo,
       | coalesce(n, 0) AS n
       |FROM s LEFT JOIN h ON s.compound = h.compound AND s.bin = h.bin
       |ORDER BY s.compound, s.bin""".stripMargin

  // --- ds_histogram2d -----------------------------------------------------
  // Per-compound time × value density grid (10 × 10): the 2-D heat map a
  // plotting front-end renders once the corpus is too big to ship points —
  // the ds_histogram idea extended to the axis PLANE the reference plots
  // (date × value, index.js:413-416). All binning is INTEGER math: time in
  // epoch-millis, value in cents with ds_extent's floor/ceil-to-50 bounds,
  // bin = (x − lo)·10 div (hi − lo) clamped into the top bin — no IEEE
  // division anywhere, so both engines agree bit-for-bit by construction.
  // Empty cells are emitted (a heat map needs the full grid) via a
  // |compounds|×100-row scaffold. Scale: ONE map-side-combinable groupBy
  // on (compound, tbin, vbin); the scan never shuffles; bounds/scaffold
  // are key-cardinality-bounded (broadcast audited).
  private val H2Bins = 10L

  def dsHistogram2d(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d).select(col("compound"), col("ms"),
      graft.functions.FastRound.cents(col("value")).as("vc"), col("value"))
    val bounds = k.groupBy("compound").agg(
      min(col("ms")).as("tlo"), max(col("ms")).as("thi"),
      (floor(min(col("value")) / 50) * 50 * 100).cast("long").as("vlo"),
      (ceil(max(col("value")) / 50) * 50 * 100).cast("long").as("vhi"))
    val binned = k.join(broadcast(bounds), Seq("compound"))
      .select(col("compound"),
        expr(s"CASE WHEN thi = tlo THEN 0L ELSE least(((ms - tlo) * $H2Bins) div (thi - tlo), ${H2Bins - 1}L) END").as("tbin"),
        expr(s"CASE WHEN vhi = vlo THEN 0L ELSE least(((vc - vlo) * $H2Bins) div (vhi - vlo), ${H2Bins - 1}L) END").as("vbin"))
      .groupBy("compound", "tbin", "vbin").agg(count(lit(1)).as("n"))
    val scaffold = bounds
      .select(col("compound"), col("tlo"), col("thi"), col("vlo"), col("vhi"),
        explode(expr(s"sequence(0L, ${H2Bins - 1}L)")).as("tbin"))
      .select(col("compound"), col("tlo"), col("thi"), col("vlo"), col("vhi"), col("tbin"),
        explode(expr(s"sequence(0L, ${H2Bins - 1}L)")).as("vbin"))
    scaffold.join(binned, Seq("compound", "tbin", "vbin"), "left")
      .select(col("compound"), col("tbin"), col("vbin"),
        expr(s"tlo + (tbin * (thi - tlo)) div $H2Bins").as("t_lo_ms"),
        (expr(s"vlo + (vbin * (vhi - vlo)) div $H2Bins") / 100.0).as("v_lo"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("compound", "tbin", "vbin")
  }

  val dsHistogram2dSql: String = KeyedCte +
    s""",
       |b AS (SELECT compound, min(ms) AS tlo, max(ms) AS thi,
       |  CAST(floor(min(value)/50)*50*100 AS BIGINT) AS vlo,
       |  CAST(ceil(max(value)/50)*50*100 AS BIGINT) AS vhi
       | FROM k GROUP BY 1),
       |h AS (SELECT k.compound,
       |  CASE WHEN thi = tlo THEN 0 ELSE least(((ms - tlo) * $H2Bins) // (thi - tlo), ${H2Bins - 1}) END AS tbin,
       |  CASE WHEN vhi = vlo THEN 0 ELSE least(((CAST(round(value*100) AS BIGINT) - vlo) * $H2Bins) // (vhi - vlo), ${H2Bins - 1}) END AS vbin,
       |  count(*) AS n
       | FROM k JOIN b ON k.compound = b.compound GROUP BY 1, 2, 3),
       |s AS (SELECT compound, tlo, thi, vlo, vhi,
       |  CAST(t.i AS BIGINT) AS tbin, CAST(v.i AS BIGINT) AS vbin
       | FROM b, range(0, $H2Bins) t(i), range(0, $H2Bins) v(i))
       |SELECT s.compound, s.tbin, s.vbin,
       | CAST(tlo + (s.tbin * (thi - tlo)) // $H2Bins AS BIGINT) AS t_lo_ms,
       | CAST(vlo + (s.vbin * (vhi - vlo)) // $H2Bins AS BIGINT)/100.0 AS v_lo,
       | coalesce(n, CAST(0 AS BIGINT)) AS n
       |FROM s LEFT JOIN h ON s.compound = h.compound AND s.tbin = h.tbin AND s.vbin = h.vbin
       |ORDER BY s.compound, s.tbin, s.vbin""".stripMargin

  // --- ds_drift -----------------------------------------------------------
  // Distribution-drift report per compound: split each compound's time
  // range at its integer midpoint, histogram both halves over the SAME
  // 20-bin value grid, and report the cross-multiplied L1 distance
  // drift_l1 = Σ_bins |c1·n2 − c2·n1| (the scale-free comparison of two
  // differently-sized samples without a single division) plus the
  // normalized drift = drift_l1 / (n1·n2) as ONE final division of
  // identical exact operands — the data-quality panel that answers "did
  // this sensor's distribution move?". Bins absent from both halves
  // contribute 0, so no scaffold is needed. Scale: one map-side-combinable
  // groupBy on (compound, bin) — c1/c2 are conditional sums in the same
  // aggregate — then windows over the ≤|compounds|×20-row bin table.
  def dsDrift(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d).select(col("compound"), col("ms"),
      graft.functions.FastRound.cents(col("value")).as("vc"), col("value"))
    val bounds = k.groupBy("compound").agg(
      min(col("ms")).as("tlo"), max(col("ms")).as("thi"),
      (floor(min(col("value")) / 50) * 50 * 100).cast("long").as("vlo"),
      (ceil(max(col("value")) / 50) * 50 * 100).cast("long").as("vhi"))
    val wC = Window.partitionBy("compound")
    k.join(broadcast(bounds), Seq("compound"))
      .select(col("compound"),
        expr(s"CASE WHEN vhi = vlo THEN 0L ELSE least(((vc - vlo) * ${HistBins}L) div (vhi - vlo), ${HistBins - 1}L) END").as("bin"),
        expr("CASE WHEN ms < (tlo + thi) div 2 THEN 1L ELSE 0L END").as("first_half"))
      .groupBy("compound", "bin")
      .agg(sum(col("first_half")).as("c1"), sum(lit(1L) - col("first_half")).as("c2"))
      .withColumn("n1", sum(col("c1")).over(wC))
      .withColumn("n2", sum(col("c2")).over(wC))
      .groupBy("compound")
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("drift_l1"))
      .select(col("compound"), col("n1"), col("n2"), col("drift_l1"),
        when(col("n1") * col("n2") > 0,
          col("drift_l1").cast("double") / (col("n1") * col("n2"))).as("drift"))
      .orderBy("compound")
  }

  val dsDriftSql: String = KeyedCte +
    s""",
       |b AS (SELECT compound, min(ms) AS tlo, max(ms) AS thi,
       |  CAST(floor(min(value)/50)*50*100 AS BIGINT) AS vlo,
       |  CAST(ceil(max(value)/50)*50*100 AS BIGINT) AS vhi
       | FROM k GROUP BY 1),
       |binned AS (SELECT k.compound,
       |  CASE WHEN vhi = vlo THEN 0 ELSE least(((CAST(round(value*100) AS BIGINT) - vlo) * $HistBins) // (vhi - vlo), ${HistBins - 1}) END AS bin,
       |  CASE WHEN ms < (tlo + thi) // 2 THEN 1 ELSE 0 END AS first_half
       | FROM k JOIN b ON k.compound = b.compound),
       |cnt AS (SELECT compound, bin,
       |  CAST(sum(first_half) AS BIGINT) AS c1,
       |  CAST(sum(1 - first_half) AS BIGINT) AS c2
       | FROM binned GROUP BY 1, 2),
       |tot AS (SELECT compound, bin, c1, c2,
       |  CAST(sum(c1) OVER (PARTITION BY compound) AS BIGINT) AS n1,
       |  CAST(sum(c2) OVER (PARTITION BY compound) AS BIGINT) AS n2
       | FROM cnt)
       |SELECT compound, max(n1) AS n1, max(n2) AS n2,
       | CAST(sum(abs(c1*n2 - c2*n1)) AS BIGINT) AS drift_l1,
       | CASE WHEN max(n1)*max(n2) > 0
       |      THEN CAST(CAST(sum(abs(c1*n2 - c2*n1)) AS BIGINT) AS DOUBLE) / (max(n1)*max(n2)) END AS drift
       |FROM tot GROUP BY compound ORDER BY compound""".stripMargin

  // --- ds_autocorr --------------------------------------------------------
  // Lag-1 autocorrelation per compound — the "is this sensor trending or
  // white noise?" panel next to ds_rolling_z/ds_drift. Consecutive pairs
  // come from ONE lag window over each compound's (ms, event_id) total
  // order; Pearson r is assembled from six exact-integer sums (cents) in a
  // single combinable groupBy, then ONE fixed double-expression tree
  // (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²)) evaluated on those
  // identical integers in both engines — deterministic because every IEEE
  // op sees the same operands in the same order. Integer headroom: |cents|
  // ≤ 5.7e4 here, so Σv² < n·3.3e9 — the per-compound sums stay under 2^63
  // up to ~2.8e9 rows per compound; beyond that, quantize coarser.
  // Scale: the consecutive pairs are the QC stream's lags at width 1, and
  // the six sums are order-free integers, so the final groupBy combines
  // map-side and shuffles |compounds| rows.
  def dsAutocorr(spark: SparkSession, d: String): DataFrame = autocorr(qcStream(spark, d))

  /** DataFrame-in variant for library callers: `k` needs (`idCol`,
    * compound, cts: timestamp, value). */
  def autocorrFrom(k: DataFrame, idCol: String): DataFrame = autocorr(QcStream.of(k, idCol))

  private def autocorr(s: QcStream): DataFrame =
    s.lags(s.select(Seq(s.id, "cts", "vc")), Seq("vc"), 1)
      .withColumn("pv", col("vc_lag1"))
      .filter(col("pv").isNotNull)
      .groupBy("compound")
      .agg(count(lit(1)).as("n"), sum(col("pv")).as("sx"), sum(col("vc")).as("sy"),
        sum(col("pv") * col("vc")).as("sxy"),
        sum(col("pv") * col("pv")).as("sxx"),
        sum(col("vc") * col("vc")).as("syy"))
      .select(col("compound"), col("n"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))).as("r"))
      .orderBy("compound")

  val dsAutocorrSql: String = KeyedCte +
    """,
      |p AS (SELECT compound, CAST(round(value*100) AS BIGINT) AS vc,
      |  lag(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY compound ORDER BY ms, event_id) AS pv
      | FROM k),
      |s AS (SELECT compound, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(pv) AS BIGINT) AS sx, CAST(sum(vc) AS BIGINT) AS sy,
      |  CAST(sum(pv*vc) AS BIGINT) AS sxy,
      |  CAST(sum(pv*pv) AS BIGINT) AS sxx,
      |  CAST(sum(vc*vc) AS BIGINT) AS syy
      | FROM p WHERE pv IS NOT NULL GROUP BY 1)
      |SELECT compound, n,
      | (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
      | sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) AS r
      |FROM s ORDER BY compound""".stripMargin

  // --- ds_seasonal --------------------------------------------------------
  // Hour-of-day seasonal profile per compound — the diurnal-cycle panel a
  // QC analyst reads before trusting any outlier flag (a sensor that peaks
  // every noon is not anomalous at noon). Per (compound, hour-of-day):
  // count and mean, plus the load ratio of this hour's mean to the
  // compound's overall mean. All aggregation is ONE map-side-combinable
  // groupBy over ≤|compounds|·24 keys; the ratio is assembled from integer
  // cross-products (sc·tn)/(n·ts) over the report-sized table — both
  // engines divide identical exact integers, so the doubles match.
  def dsSeasonal(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("compound")
    keyed(spark, d)
      .groupBy(col("compound"), hour(col("cts")).as("hod"))
      .agg(count(lit(1)).as("n"), sum(graft.functions.FastRound.cents(col("value"))).as("sc"))
      .withColumn("tn", sum(col("n")).over(w))
      .withColumn("ts_", sum(col("sc")).over(w))
      .select(col("compound"), col("hod"), col("n"),
        (col("sc").cast("double") / col("n").cast("double") / 100.0).as("mean_value"),
        ((col("sc") * col("tn")).cast("double") / (col("n") * col("ts_")).cast("double"))
          .as("load_ratio"))
      .orderBy("compound", "hod")
  }

  val dsSeasonalSql: String = KeyedCte +
    """,
      |g AS (SELECT compound, CAST(hour(cts) AS INT) AS hod,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sc
      | FROM k GROUP BY 1, 2),
      |t AS (SELECT compound, hod, n, sc,
      |  CAST(sum(n) OVER (PARTITION BY compound) AS BIGINT) AS tn,
      |  CAST(sum(sc) OVER (PARTITION BY compound) AS BIGINT) AS ts_
      | FROM g)
      |SELECT compound, hod, n,
      | CAST(sc AS DOUBLE)/CAST(n AS DOUBLE)/100.0 AS mean_value,
      | CAST(sc*tn AS DOUBLE)/CAST(n*ts_ AS DOUBLE) AS load_ratio
      |FROM t ORDER BY compound, hod""".stripMargin

  // --- ds_benford ---------------------------------------------------------
  // First-significant-digit distribution per compound (Benford screen) —
  // the data-integrity check that catches fabricated or truncated sensor
  // feeds: natural measurement data leans toward low leading digits, a
  // clipped or synthesized feed does not. The digit is taken from the
  // CENTS integer's decimal string (no float formatting to disagree on);
  // zero values carry no leading digit and are excluded. One map-side-
  // combinable groupBy over ≤|compounds|·9 keys + a share division of
  // identical exact integers over the report table.
  def dsBenford(spark: SparkSession, d: String): DataFrame = {
    val ac = abs(graft.functions.FastRound.cents(col("value")))
    keyed(spark, d)
      .select(col("compound"), ac.as("ac"))
      .filter(col("ac") > 0)
      .withColumn("digit", substring(col("ac").cast("string"), 1, 1))
      .groupBy(col("compound"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("compound")))
      .orderBy("compound", "digit")
  }

  val dsBenfordSql: String = KeyedCte +
    """,
      |a AS (SELECT compound, abs(CAST(round(value*100) AS BIGINT)) AS ac
      | FROM k WHERE CAST(round(value*100) AS BIGINT) <> 0),
      |g AS (SELECT compound, substr(CAST(ac AS VARCHAR), 1, 1) AS digit,
      |  CAST(count(*) AS BIGINT) AS n
      | FROM a GROUP BY 1, 2)
      |SELECT compound, digit, n,
      | CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY compound) AS BIGINT) AS share
      |FROM g ORDER BY compound, digit""".stripMargin

  // --- ds_crosscorr -------------------------------------------------------
  // Cross-compound correlation: Pearson r between every compound pair's
  // HOURLY total series — "do these two sensors move together?", the
  // redundancy/teleconnection screen run before decommissioning a sensor.
  // Raw samples never align across compounds, so the series are first
  // reduced to per-(compound, hour) cent TOTALS (one map-side-combinable
  // groupBy; the grid is |compounds|·|hours|, report-sized relative to the
  // corpus) — the pair join then runs on the GRID, keyed by hour (≤
  // |compounds|² rows per hour, never a corpus self-join). The six sums
  // are exact integers; r is ds_autocorr's fixed double-expression tree
  // over identical operands in both engines.
  def dsCrosscorr(spark: SparkSession, d: String): DataFrame = {
    val grid = keyed(spark, d)
      .groupBy(col("compound"), date_trunc("hour", col("cts")).as("hr"))
      .agg(sum(graft.functions.FastRound.cents(col("value"))).as("s"))
    val a = grid.select(col("compound").as("c1"), col("hr"), col("s").as("x"))
    val b = grid.select(col("compound").as("c2"), col("hr").as("hr2"), col("s").as("y"))
    a.join(b, col("hr") === col("hr2") && col("c1") < col("c2"))
      .groupBy("c1", "c2")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("c1"), col("c2"), col("n"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))).as("r"))
      .orderBy("c1", "c2")
  }

  val dsCrosscorrSql: String = KeyedCte +
    """,
      |g AS (SELECT compound, date_trunc('hour', cts) AS hr,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
      | FROM k GROUP BY 1, 2),
      |p AS (SELECT a.compound AS c1, b.compound AS c2, a.s AS x, b.s AS y
      | FROM g a JOIN g b ON a.hr = b.hr AND a.compound < b.compound),
      |s AS (SELECT c1, c2, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(x*y) AS BIGINT) AS sxy,
      |  CAST(sum(x*x) AS BIGINT) AS sxx,
      |  CAST(sum(y*y) AS BIGINT) AS syy
      | FROM p GROUP BY 1, 2)
      |SELECT c1, c2, n,
      | (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
      | sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
      |      (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) AS r
      |FROM s ORDER BY c1, c2""".stripMargin

  // --- ds_winsorize -------------------------------------------------------
  // Winsorized robust summary per compound: clamp values at the DISCRETE
  // p5/p95 (value at rank ceil(p·n), the repo's percentile convention —
  // both engines pick the same raw cent value) and report the clip counts
  // and winsorized mean — the outlier-robust mean a QC dashboard shows
  // next to the raw one. Pass 1 ranks within compound (the ds_outlier_mad
  // window shape) and keeps only the two rank-hit rows per compound;
  // pass 2 re-scans, joins the |compounds|-row cut table back
  // (AQE-broadcast), clamps in the map, and collapses in one combinable
  // groupBy over exact cents. n_low/n_high count strict exceedances.
  // The value histogram takes a lazy localCheckpoint (two consumers); the
  // RangeBuckets storage contract.
  def dsWinsorize(spark: SparkSession, d: String): DataFrame = {
    // VALUE-HISTOGRAM decomposition: the 5/95
    // cuts are order statistics — the value at rank ceil(q·n) equals the
    // smallest value whose cumulative count reaches that rank — and every
    // reported aggregate (clip counts, winsorized mean) is a function of
    // the per-compound value histogram. (compound, vc) is LATTICE-bounded
    // (integer cents of a physically bounded measurement — the same bound
    // ds_histogram leans on; 17.8k distinct cents at sf1), so the corpus
    // pass is ONE map-side-combinable groupBy whose per-partition
    // partials are capped by the lattice, and all rank/clip work happens
    // on the report-sized histogram. The old plan row_number'd every
    // corpus row inside |compounds| window partitions — the per-series
    // serialization ds_cusum's fix removed, eliminated here instead of
    // decomposed because the aggregates never needed row identity at all.
    val hist = keyed(spark, d)
      .select(col("compound"), graft.functions.FastRound.cents(col("value")).as("vc"))
      .groupBy("compound", "vc").agg(count(lit(1)).as("cnt"))
    val cw = Window.partitionBy("compound").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("compound")
    // report-sized after the corpus agg; checkpointed because cuts + the
    // final rollup both consume it
    val h = hist
      .withColumn("cum", sum(col("cnt")).over(cw))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .localCheckpoint(false)
    val cuts = h.groupBy("compound")
      .agg(min(when(col("cum") >= ceil(lit(0.05) * col("n")).cast("long"), col("vc"))).as("p5c"),
        min(when(col("cum") >= ceil(lit(0.95) * col("n")).cast("long"), col("vc"))).as("p95c"))
    h.join(cuts, Seq("compound"))
      .groupBy("compound")
      .agg(sum(col("cnt")).as("n"),
        (max(col("p5c")) / 100.0).as("p5"), (max(col("p95c")) / 100.0).as("p95"),
        sum(when(col("vc") < col("p5c"), col("cnt")).otherwise(0L)).as("n_low"),
        sum(when(col("vc") > col("p95c"), col("cnt")).otherwise(0L)).as("n_high"),
        (sum(col("cnt") * greatest(col("p5c"), least(col("p95c"), col("vc")))).cast("double") /
          sum(col("cnt")).cast("double") / 100.0).as("wins_mean"))
      .orderBy("compound")
  }

  val dsWinsorizeSql: String = KeyedCte +
    """,
      |b AS (SELECT compound, event_id, CAST(round(value*100) AS BIGINT) AS vc FROM k),
      |r AS (SELECT compound, vc,
      |  CAST(row_number() OVER (PARTITION BY compound ORDER BY vc, event_id) AS BIGINT) AS rn,
      |  count(*) OVER (PARTITION BY compound) AS n FROM b),
      |c AS (SELECT compound AS cc,
      |  max(CASE WHEN rn = CAST(ceil(0.05*n) AS BIGINT) THEN vc END) AS p5c,
      |  max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN vc END) AS p95c
      | FROM r GROUP BY 1)
      |SELECT compound, CAST(count(*) AS BIGINT) AS n,
      | max(p5c)/100.0 AS p5, max(p95c)/100.0 AS p95,
      | CAST(sum(CASE WHEN vc < p5c THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      | CAST(sum(CASE WHEN vc > p95c THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      | CAST(CAST(sum(greatest(p5c, least(p95c, vc))) AS BIGINT) AS DOUBLE)
      |   / CAST(count(*) AS BIGINT) / 100.0 AS wins_mean
      |FROM b JOIN c ON compound = cc
      |GROUP BY compound ORDER BY compound""".stripMargin

  // --- ds_trend -----------------------------------------------------------
  // Robust per-series trend — the Sen-style slope on CONSECUTIVE sample
  // gaps (the O(n) streaming-friendly variant of Theil–Sen, whose full
  // pairwise form is O(n²) per series and cannot scale): per compound,
  // slope_i = Δvalue/Δt over each positive-gap consecutive pair in time
  // order (ms, event_id), and the trend is the DISCRETE median of those
  // slopes — the value at rank ⌈n/2⌉ under the (slope, pair-index) total
  // order, a data value both engines pick identically (the q_percentiles
  // contract; no interpolation to drift). Robust: a sensor spike corrupts
  // 2 of n slopes, not the mean.
  // Scale: the consecutive pairs are the QC stream's lags at width 1, and
  // the median is a two-level RADIX SELECTION instead of a per-compound
  // corpus rank window: slopes are range-bucketed, a census (|compounds| ×
  // Buckets rows) locates the bucket holding rank ⌈n/2⌉, the selected
  // ~n/256 slice re-buckets once more, and only the final ~n/65536 slice
  // pays a per-compound sort. The oracle's pair-index tiebreak needs no
  // reproduction — the VALUE at a rank is invariant to how equal slopes
  // are ordered. The slope stream feeds three consumers (stats + both
  // levels), so it is lazily checkpointed too. Below the gate the plain
  // per-compound rank window is exact by the same argument and skips the
  // radix form's three checkpoints (~1.6 s of constants at sf0.1).
  def dsTrend(spark: SparkSession, d: String): DataFrame = trend(qcStream(spark, d))

  /** DataFrame-in variant for library callers: `k` needs (`idCol`,
    * compound, cts: timestamp, value). Exposed so the robustness property
    * (a spike corrupts the mean slope but not the median) is pinned on a
    * constructed series. */
  def dsTrendFrom(k: DataFrame, idCol: String): DataFrame = trend(QcStream.of(k, idCol))

  private def trend(s: QcStream): DataFrame = {
    val slopes = s.lags(s.select(Seq(s.id, "cts", "value"))
        .withColumn("ms", unix_millis(col("cts"))), Seq("ms", "value"), 1)
      .filter(col("ms_lag1").isNotNull && col("ms") > col("ms_lag1"))
      .select(col("compound"),
        ((col("value") - col("value_lag1")) / (col("ms") - col("ms_lag1")).cast("double")
          * lit(1000.0)).as("slope"))
    // at scale the slopes are checkpointed for their three consumers
    // (sstats, level-1 census, level-1 join-back): re-deriving the slope
    // per consumer from the lag's checkpoint measured slower at sf10 (6.4
    // vs 4.7 s)
    (if (s.atScale) radixMedian(slopes.localCheckpoint(false)) else rankMedian(slopes))
      .select(col("compound"), col("n").as("n_slopes"), col("slope").as("med_slope"))
      .orderBy("compound")
  }

  /** The discrete median (compound, n, slope) of each compound's slopes by
    * one per-compound rank window: the oracle's own shape. */
  private def rankMedian(slopes: DataFrame): DataFrame =
    slopes
      .withColumn("rn", row_number().over(
        Window.partitionBy("compound").orderBy("slope")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("compound")))
      .filter(col("rn") === expr("(n + 1) div 2"))

  /** The discrete median (compound, n, slope) of each compound's slopes by
    * radix selection over the checkpointed slope stream. */
  private def radixMedian(slopes: DataFrame): DataFrame = {
    // level 1: range-bucket the slope space, census locates the median's
    // bucket and its within-bucket residual rank rr
    val sstats = slopes.groupBy("compound").agg(
      count(lit(1)).as("n"), min(col("slope")).as("mn"), max(col("slope")).as("mx"))
      .withColumn("r", expr("(n + 1) div 2"))
    def bucketed(sl: DataFrame, st: DataFrame): DataFrame =
      sl.join(broadcast(st), Seq("compound"))
        .withColumn("sb", when(col("mx") > col("mn"),
          least(floor((col("slope") - col("mn")) / (col("mx") - col("mn"))
            * RangeBuckets.Buckets).cast("long"), lit(RangeBuckets.Buckets - 1)))
          .otherwise(lit(0L)))
    def pick(sl: DataFrame, rankCol: String, outCol: String): DataFrame = {
      val census = sl.groupBy("compound", "sb")
        .agg(count(lit(1)).as("cb"), max(col(rankCol)).as("rk"))
        .withColumn("cum0", RangeBuckets.offset(col("cb"), "compound", "sb"))
      val target = census
        .filter(col("cum0") < col("rk") && col("cum0") + col("cb") >= col("rk"))
        .select(col("compound"), col("sb"), (col("rk") - col("cum0")).as(outCol))
      // broadcast: target holds EXACTLY the one bucket per compound that
      // contains the rank — |compounds| rows. The plain equijoin shuffled
      // the whole slope stream on (compound, sb) to meet it (at sf10 a
      // 189 MB exchange and its read); the broadcast keeps the slice filter in the
      // checkpoint's own partitioning — zero corpus exchange.
      sl.drop(rankCol).join(broadcast(target), Seq("compound", "sb"))
    }
    val l1 = bucketed(slopes, sstats.select("compound", "mn", "mx", "r", "n"))
    // the level-1 slice is ~n/256 rows but has FOUR consumers below (s2,
    // l2's join, level-2's census and join-back) and each recompute is a
    // full pass over the slope checkpoint, so it is checkpointed too
    val sel1 = pick(l1, "r", "rr").localCheckpoint(false)
    // level 2: re-bucket the selected slice by its own range (membership,
    // not bounds, defines the slice — re-deriving mn/mx is exact); a slice
    // of all-equal slopes degenerates to one bucket, where the final sort
    // is trivially over equal values
    val s2 = sel1.groupBy("compound").agg(
      min(col("slope")).as("mn"), max(col("slope")).as("mx"))
    val l2 = bucketed(sel1.select("compound", "slope", "rr", "n"), s2)
    val sel2 = pick(l2, "rr", "rr2")
    sel2
      .withColumn("rn", row_number().over(
        Window.partitionBy("compound").orderBy("slope")).cast("long"))
      .filter(col("rn") === col("rr2"))
  }

  val dsTrendSql: String = KeyedCte +
    """,
      |p AS (SELECT compound, ms, event_id, value,
      |  lag(ms) OVER w AS pms, lag(value) OVER w AS pv,
      |  CAST(row_number() OVER w AS BIGINT) AS pidx
      | FROM k WINDOW w AS (PARTITION BY compound ORDER BY ms, event_id)),
      |s AS (SELECT compound, pidx,
      |  (value - pv) / CAST(ms - pms AS DOUBLE) * 1000.0 AS slope
      | FROM p WHERE pms IS NOT NULL AND ms > pms),
      |r AS (SELECT compound, pidx, slope,
      |  CAST(row_number() OVER (PARTITION BY compound ORDER BY slope, pidx) AS BIGINT) AS rn,
      |  CAST(count(*) OVER (PARTITION BY compound) AS BIGINT) AS n
      | FROM s)
      |SELECT compound, n AS n_slopes, slope AS med_slope
      |FROM r WHERE rn = (n + 1) // 2 ORDER BY compound""".stripMargin

  // --- ds_flatline --------------------------------------------------------
  // Stuck-sensor detection: runs of consecutive IDENTICAL readings (exact
  // cents) within a compound — a real measurement repeating exactly is the
  // classic frozen-transducer signature, invisible to range and outlier
  // checks because the stuck value is usually in-range. Run construction
  // is gaps-and-islands DECOMPOSED over (compound, time-bucket) groups:
  // the change flag is bucket-local, runs collapse into bucket-local
  // SEGMENTS with one combinable groupBy, and only each bucket's boundary
  // segments (its head, which may continue the previous bucket's run, and
  // its last segment, which may continue forward) enter a census-sized
  // chain-merge window (≤ 2 × Buckets rows per compound); interior segments are already maximal runs and pass
  // through untouched. No global run id is ever materialized, so there
  // is no corpus checkpoint and no per-compound corpus window — a
  // sensor stuck across the whole corpus just collapses every bucket to
  // one head segment and the chain window merges 256 metadata rows.
  // Only runs of ≥ 2 samples survive. Output is duplicate-density-sized.
  // Below the gate a compound is one bucket, so its segments are its runs.
  // The `From` variant exists so the spec can prove detection on a
  // synthetic stuck feed (the shipped corpus has near-zero exact repeats,
  // as real noisy data should).
  private val FlatlineMin = 2

  def dsFlatline(spark: SparkSession, d: String): DataFrame = flatline(qcStream(spark, d))

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (`idCol`, compound, cts: timestamp, value). */
  def dsFlatlineFrom(k: DataFrame, idCol: String): DataFrame = flatline(QcStream.of(k, idCol))

  private def flatline(s: QcStream): DataFrame = {
    // NO carry is needed here, unlike RangeBuckets.lags: a
    // run is "consecutive EQUAL values", so whether a bucket's first
    // segment continues the previous bucket's last one is decidable at
    // the chain level by comparing the two segments' values — globally
    // consecutive rows with equal values ARE one run, by definition. The
    // bucket-local change flag just treats each bucket's first row as a
    // local run start.
    val lw = Window.partitionBy(s.key.map(col): _*).orderBy(s.order: _*)
    val prev = lag(col("vc"), 1).over(lw)
    val st = s.select(Seq(s.id, "cts", "vc"))
      .withColumn("ms", unix_millis(col("cts")))
      .withColumn("chg", when(prev.isNull || prev =!= col("vc"), 1L).otherwise(0L))
      .withColumn("firstRow", prev.isNull)
      .withColumn("lrun", sum(col("chg"))
        .over(lw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nvc", lead(col("vc"), 1).over(lw))
      .withColumn("lastRow", lead(col("ms"), 1).over(lw).isNull)
      // only rows that can belong to a reported run survive the window:
      // repeat-adjacent rows (every member of a ≥2 run equals a
      // neighbor; chg = 0 IS backward equality) plus each bucket's first
      // and last rows, kept conservatively so every bucket contributes
      // its head and tail segments to the chain stream and cross-bucket
      // continuations are never orphaned. On realistic noisy data this
      // collapses the segment groupBy from corpus-sized to
      // duplicate-density-sized (the un-filtered variant re-shuffled all
      // ~n mostly-singleton segments and measured 1.7s vs 1.0 at sf1); a
      // fully-stuck adversarial feed keeps everything and still runs at
      // bucket parallelism.
      .filter(col("chg") === 0L || col("nvc") === col("vc") ||
        col("firstRow") || col("lastRow"))
    // bucket-local segments: rows sharing (key, lrun) all hold the SAME
    // vc (a chg=1 row starts a segment; chg=0 rows equal their
    // predecessor), so max(vc) is the run value; the segments holding the
    // bucket's first/last rows are its head/tail
    val segments = st.groupBy((s.key :+ "lrun").map(col): _*).agg(
      count(lit(1)).as("n_samples"), max(col("vc")).as("rv"),
      min(col("ms")).as("start_ms"),
      max(when(col("firstRow"), 1L).otherwise(0L)).as("hasFirst"),
      max(when(col("lastRow"), 1L).otherwise(0L)).as("hasLast"))
    val runs =
      if (!s.atScale) segments.select("compound", "n_samples", "rv", "start_ms")
      else {
        val marked = segments
          .withColumn("isHead", col("hasFirst") === 1L)
          .withColumn("isTail", col("hasLast") === 1L)
          // duplicate-density-sized (the corpus never reaches this point
          // un-collapsed); checkpointed because interior and chains both
          // consume it — without this the Union recomputes the whole
          // scan→window subtree per branch (the RangeBuckets storage
          // contract)
          .localCheckpoint(false)
        val interior = marked.filter(!col("isHead") && !col("isTail"))
          .select("compound", "n_samples", "rv", "start_ms")
        // chain merge over boundary segments only (≤ 2 per non-empty
        // bucket): in the (b, lrun) stream a head's immediate predecessor
        // is always the previous non-empty bucket's tail, and those two
        // segments are one run exactly when their values are equal — their
        // member rows are globally consecutive
        val bw = Window.partitionBy("compound").orderBy("b", "lrun")
        val chains = marked.filter(col("isHead") || col("isTail"))
          .withColumn("merge",
            col("isHead") && lag(col("rv"), 1).over(bw) === col("rv") &&
              lag(col("isTail"), 1).over(bw))
          .withColumn("chain", sum(when(col("merge"), 0L).otherwise(1L))
            .over(bw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("compound", "chain")
          .agg(sum(col("n_samples")).as("n_samples"), max(col("rv")).as("rv"),
            min(col("start_ms")).as("start_ms"))
          .select("compound", "n_samples", "rv", "start_ms")
        interior.unionByName(chains)
      }
    runs.filter(col("n_samples") >= FlatlineMin)
      .select(col("compound"), col("start_ms"), col("n_samples"),
        (col("rv") / 100.0).as("value"))
      .orderBy("compound", "start_ms")
  }

  val dsFlatlineSql: String = KeyedCte +
    s""",
       |v AS (SELECT compound, ms, event_id, CAST(round(value*100) AS BIGINT) AS vc FROM k),
       |m AS (SELECT compound, ms, event_id, vc,
       |  CASE WHEN lag(vc) OVER (PARTITION BY compound ORDER BY ms, event_id) IS NULL
       |         OR lag(vc) OVER (PARTITION BY compound ORDER BY ms, event_id) <> vc
       |       THEN 1 ELSE 0 END AS chg FROM v),
       |r AS (SELECT compound, ms, vc,
       |  sum(chg) OVER (PARTITION BY compound ORDER BY ms, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS run_id FROM m),
       |g AS (SELECT compound, run_id, CAST(count(*) AS BIGINT) AS n_samples,
       |  max(vc)/100.0 AS value, CAST(min(ms) AS BIGINT) AS start_ms
       | FROM r GROUP BY 1, 2)
       |SELECT compound, start_ms, n_samples, value
       |FROM g WHERE n_samples >= $FlatlineMin
       |ORDER BY compound, start_ms""".stripMargin

  // --- pipeline_qc --------------------------------------------------------
  // The reference user's END-TO-END workflow as ONE composed plan — the QC
  // counterpart of pipeline_curate: MAD outlier flags (the automated stand-
  // in for the analyst's rectangle) → anti-join the flagged points out of
  // the raw series (ds_apply_filter semantics, hint-free: the flag list is
  // machine-generated and scales with the data, AQE picks the build side)
  // → resample the CLEANED series onto the aligned grid (ds_resample's
  // union+two-window interpolation). Catalyst fuses the stages: the corpus
  // is scanned once for the series and once inside the median derivation;
  // nothing is materialized between stages. Same exactness contract as the
  // parts (discrete medians are data values; interpolation is one fixed
  // double tree), so the composition hash-matches the composed oracle.
  def pipelineQc(spark: SparkSession, d: String): DataFrame = {
    val k = keyed(spark, d)
    val flags = outlierMadFrom(k.select("event_id", "compound", "value"), "event_id")
      .select(col("event_id").as("bad_id"))
    val cleaned = k.join(flags, col("event_id") === col("bad_id"), "left_anti")
    resampleFrom(cleaned.select(col("compound"), expr("ms div 1000").as("sec"),
      col("value"), col("event_id").as("tie")))
  }

  val pipelineQcSql: String = KeyedCte +
    s""",
       |r AS (SELECT event_id, compound, value,
       |  CAST(row_number() OVER (PARTITION BY compound ORDER BY value, event_id) AS BIGINT) AS rn,
       |  count(*) OVER (PARTITION BY compound) AS n FROM k),
       |med AS (SELECT compound, value AS med FROM r WHERE rn = (n + 1) // 2),
       |dv AS (SELECT event_id, k.compound, k.value, abs(k.value - med) AS dev
       |       FROM k JOIN med ON k.compound = med.compound),
       |r2 AS (SELECT event_id, compound, dev,
       |  CAST(row_number() OVER (PARTITION BY compound ORDER BY dev, event_id) AS BIGINT) AS rn,
       |  count(*) OVER (PARTITION BY compound) AS n FROM dv),
       |mad AS (SELECT compound, dev AS mad FROM r2 WHERE rn = (n + 1) // 2),
       |flags AS (SELECT event_id FROM dv JOIN mad ON dv.compound = mad.compound
       |          WHERE dev > 3.0 * mad),
       |kc AS (SELECT k.* FROM k LEFT JOIN flags ON k.event_id = flags.event_id
       |       WHERE flags.event_id IS NULL),
       |sm AS (SELECT compound, ms // 1000 AS sec, arg_max(value, event_id) AS v
       |       FROM kc GROUP BY 1, 2),
       |sp AS (SELECT compound, min(sec) AS mn, max(sec) AS mx FROM sm GROUP BY 1),
       |g AS (SELECT compound, CAST(unnest(range(((mn + ${ResampleStepSec - 1}) // $ResampleStepSec) * $ResampleStepSec, mx + 1, $ResampleStepSec)) AS BIGINT) AS sec FROM sp),
       |u AS (SELECT compound, sec, 0 AS kind, v FROM sm
       |      UNION ALL SELECT compound, sec, 1, NULL FROM g),
       |w AS (SELECT compound, sec, kind,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec ASC, kind ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |  last_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec ASC, kind ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec DESC, kind DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
       |  last_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS) OVER (PARTITION BY compound ORDER BY sec DESC, kind DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ns
       | FROM u)
       |SELECT compound,
       | strftime(make_timestamp(sec * 1000000), '%Y-%m-%d %H:%M') AS grid_s,
       | pv + (nv - pv) * (CAST(sec - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE)) AS v_interp
       |FROM w
       |WHERE kind = 1 AND ps IS NOT NULL AND ns IS NOT NULL
       |ORDER BY compound, grid_s""".stripMargin

  // --- ds_resolution ------------------------------------------------------
  // Sensor resolution + truncation screen: per compound, the effective
  // measurement resolution (smallest positive gap between consecutive
  // DISTINCT cent values) and the fraction of readings sitting on the
  // 0.1-unit lattice — a feed that silently switched from full-precision
  // to rounded values shows up as res jumping and pct_tenth → 1.0 long
  // before any range or outlier check fires. Shape: one combinable
  // per-compound aggregate over the corpus + a distinct-value reduction
  // (groupBy (compound, vc) — map-side combinable) whose lag window runs
  // over the NDV table; NDV per compound is bounded by the cents lattice
  // of the sensor's range, not by row count, so the window input stays
  // report-sized at any corpus scale. The `%` check matches engines:
  // Spark and DuckDB both use sign-of-dividend remainder, and equality
  // with 0 is sign-independent.
  def dsResolution(spark: SparkSession, d: String): DataFrame =
    resolutionFrom(keyed(spark, d).select("compound", "value"))

  /** DataFrame-in variant for library callers (and the [[GraftQC]] facade):
    * `k` needs (compound, value). */
  def resolutionFrom(k: DataFrame): DataFrame = {
    val base = k
      .select(col("compound"), graft.functions.FastRound.cents(col("value")).as("vc"))
    val per = base.groupBy("compound").agg(
      count(lit(1)).as("n"),
      sum(when(col("vc") % 10 === 0, 1L).otherwise(0L)).as("n_tenth"))
    val dv = base.groupBy("compound", "vc").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("compound").orderBy("vc")
    val res = dv.withColumn("pv", lag(col("vc"), 1).over(w))
      .groupBy("compound")
      .agg(count(lit(1)).as("ndv"), min(col("vc") - col("pv")).as("res_c"))
      .withColumnRenamed("compound", "rc")
    per.join(res, col("compound") === col("rc"))
      .select(col("compound"), col("n"), col("ndv"), col("n_tenth"),
        (col("n_tenth").cast("double") / col("n").cast("double")).as("pct_tenth"),
        (col("res_c") / 100.0).as("res"))
      .orderBy("compound")
  }

  val dsResolutionSql: String = KeyedCte +
    """,
      |b AS (SELECT compound, CAST(round(value*100) AS BIGINT) AS vc FROM k),
      |p AS (SELECT compound, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN vc % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tenth
      | FROM b GROUP BY 1),
      |d AS (SELECT compound, vc FROM b GROUP BY 1, 2),
      |l AS (SELECT compound, vc,
      |  lag(vc) OVER (PARTITION BY compound ORDER BY vc) AS pv FROM d),
      |r AS (SELECT compound AS rc, CAST(count(*) AS BIGINT) AS ndv,
      |  CAST(min(vc - pv) AS BIGINT) AS res_c FROM l GROUP BY 1)
      |SELECT compound, n, ndv, n_tenth,
      | CAST(n_tenth AS DOUBLE) / CAST(n AS DOUBLE) AS pct_tenth,
      | res_c/100.0 AS res
      |FROM p JOIN r ON compound = rc
      |ORDER BY compound""".stripMargin

  // --- ds_cusum -----------------------------------------------------------
  // Two-sided CUSUM control chart per compound (Page 1954 — the classic
  // sequential mean-shift detector; ds_changepoint finds ONE retrospective
  // split, CUSUM flags every point where the accumulated drift since the
  // last reset clears the decision band, the form QC monitoring runs).
  // The sequential recurrence S_i = max(0, S_{i−1} + d_i) looks
  // fold-only, but has the closed form S_i = P_i − min(0, min_{j≤i} P_j)
  // over the drift prefix sum P — two plain windows, fully declarative.
  // Everything lives on the cents lattice: target t = Σvc div n, slack
  // k = meanabsdev div 2, band h = 4·meanabsdev — so prefix sums are
  // order-free BIGINTs and the flags are engine-exact. Scale shape: one
  // per-compound aggregate joined back, then the prefix-sum/prefix-min
  // pair decomposed over (compound, time-bucket) windows and a bucket
  // census (RangeBuckets.cusum), so per-series length no longer bounds
  // parallelism; a 2-way side unpivot AFTER the windows, and only points
  // past the band reach the output.
  def dsCusum(spark: SparkSession, d: String): DataFrame = cusum(qcStream(spark, d))

  /** DataFrame-in variant for library callers: `k` needs (`idCol`,
    * compound, cts: timestamp, value). Exposed so the randomized spec can
    * pin the prefix-sum/prefix-min closed form against the direct
    * sequential fold S_i = max(0, S_{i−1} + d_i) on constructed series. */
  def dsCusumFrom(k: DataFrame, idCol: String): DataFrame = cusum(QcStream.of(k, idCol, Centers))

  /** The center t = Σvc div n and spread madx = Σ|vc − t| div n that CUSUM
    * and the SPC rules read. */
  private val Centers = Seq("t", "madx")

  private def cusum(s: QcStream): DataFrame = {
    val rows = s.rows
      .withColumn("k", expr("madx div 2"))
      .withColumn("h", expr("madx * 4"))
      .withColumn("dh", col("vc") - col("t") - col("k"))
      .withColumn("dl", col("t") - col("k") - col("vc"))
    // the high/low unpivot of the two CUSUM statistics sh and sl
    RangeBuckets.cusum(rows, "compound", Seq("cts", s.id), Seq(s.id, "h"), s.atScale)
      .select(col("compound"), col(s.id), col("h"),
        explode(array(
          struct(lit("high").as("side"), col("sh").as("s")),
          struct(lit("low").as("side"), col("sl").as("s")))).as("x"))
      .select(col("compound"), col(s.id),
        col("x.side").as("side"), col("x.s").as("s"), col("h"))
      .filter(col("s") > col("h"))
      .orderBy("compound", s.id, "side")
  }

  // --- the QC stream: one input for every time-ordered QC rule -------------
  // Gaps, interp, rolling z, changepoint, trend, flatline, autocorr, CUSUM
  // and the SPC rules each have one body, a function of a QcStream; the
  // registry, GraftQC and library callers differ only in where the stream
  // comes from. QcStream.of is the one place these rules take the scale
  // decision. Below the gate the stream is the keyed rows, and an
  // ordered scan is one per-compound window. At scale the rows carry their
  // time bucket b and are partitioned on (compound, b), so bucket-local
  // windows (RangeBuckets.lags, .cusum, .local) run without an exchange.
  // Beside the rows is the per-compound aggregate `stats`. A rule reads a
  // per-compound column from the rows when the stream carries it, and
  // otherwise joins it from stats after its carry.
  //
  // The registry's stream is memoized per (session, dir, branch):
  // QcStream.of over the keyed-stream memo, carrying the centers, both
  // frames persisted lazily (blocks pin on the first action), so building
  // a query runs no job; Bench and the benchmark warm it with the other
  // family memos. A
  // library or GraftQC caller gets QcStream.of over its own frame,
  // unmemoized, carrying the per-compound columns its rule reads: at scale
  // that is one per-compound aggregate, joined under a broadcast, ahead of
  // the explicit-N exchange, and the centers take a second aggregate only
  // for CUSUM and the SPC rules. ds_resample keeps its own bucketing: it
  // buckets the union of samples and grid marks, which the stream does not
  // hold.

  /** Memo.release(), kept for callers compiled against this object. */
  def releaseCaches(): Unit = Memo.release()

  /** Pre-materialize the shared QC streams (Bench warm contract): the
    * keyed projection first (the QC stream derives from it). */
  def warmQcCaches(spark: SparkSession, d: String): Unit = {
    keyedQc(spark, d).count()
    val s = qcStream(spark, d)
    s.rows.count()
    s.stats.count()
    ()
  }

  /** The keyed-stream memo: ds_outlier_mad, ds_resample and the registry's
    * QC stream consume this five-column projection of the keyed events
    * stream, so the scan + epoch correction is paid once per (session,
    * dir). */
  private def keyedQc(spark: SparkSession, d: String): DataFrame =
    Memo.frame(spark, d, "qc_keyed", count = false) {
      keyed(spark, d).select("event_id", "compound", "cts", "ms", "value")
    }

  /** The registry's QC stream. */
  private def qcStream(spark: SparkSession, d: String): QcStream =
    QcStream.of(keyedQc(spark, d).select("event_id", "compound", "cts", "value"), "event_id",
      Centers, Some(d))

  /** A time-ordered QC input. `rows`: (`id`, compound, cts, vc, value) with
    * vc the value in integer cents, plus the `carried` per-compound
    * columns; at scale also the bucket b of unix_micros(cts), partitioned
    * on (compound, b). `stats`: one row per compound, (compound, n, sv,
    * tmin, tmax) with sv = Σvc and tmin/tmax the span of unix_micros(cts),
    * plus the centers t and madx when the rows carry them. */
  private[graft] final case class QcStream(rows: DataFrame, stats: DataFrame, id: String,
      carried: Seq[String], atScale: Boolean) {
    /** The key of the rule's bucket-local work: compound, and b at scale. */
    def key: Seq[String] = if (atScale) Seq("compound", "b") else Seq("compound")

    /** The series order within a compound. */
    def order: Seq[Column] = Seq(col("cts"), col(id))

    /** The rows' `key`, `cols` and those of the per-compound columns
      * `statCols` the rows carry. */
    def select(cols: Seq[String], statCols: Seq[String] = Nil): DataFrame =
      rows.select((key ++ cols ++ statCols.filter(carried.contains)).map(col): _*)

    /** Lags 1 to `width` of `cols` of `in` (selected from the rows) over
      * each compound's series order, on this stream's branch. */
    def lags(in: DataFrame, cols: Seq[String], width: Int): DataFrame =
      RangeBuckets.lags(in, "compound", order, cols, width, atScale)

    /** `df` with the per-compound columns `statCols` of
      * [[QcStream.perCompound]]: joined from stats unless the rows carried
      * them. */
    def withStats(df: DataFrame, statCols: Seq[String]): DataFrame = {
      val missing = statCols.filterNot(carried.contains)
      if (missing.isEmpty) df
      else RangeBuckets.perKey(df,
        QcStream.perCompound(stats).select(("compound" +: missing).map(col): _*), "compound")
    }
  }

  private[graft] object QcStream {
    /** `stats` with span: whole seconds from the first sample to the last,
      * the difference of the epoch seconds unix_timestamp(cts) gives. */
    def perCompound(stats: DataFrame): DataFrame = {
      def sec(micros: String): Column = unix_timestamp(timestamp_micros(col(micros)))
      stats.withColumn("span", sec("tmax") - sec("tmin"))
    }

    /** The stream of `kIn` (`id`, compound, cts: timestamp, value), its rows
      * carrying the per-compound columns `carry`. With a data dir `memo`
      * both frames are persisted, under a Memo key per (session, dir,
      * branch): a session whose gate moves builds the other branch's
      * stream rather than reading one built for the old gate. */
    def of(kIn: DataFrame, id: String, carry: Seq[String] = Nil,
        memo: Option[String] = None): QcStream = {
      val atScale = PlanStats.atScale(kIn)
      memo.fold(build(kIn, id, carry, atScale, identity)) { d =>
        val tag = if (atScale) "qc_stream_at_scale" else "qc_stream"
        Memo.frames[QcStream](kIn.sparkSession, d, tag)(s => Seq(s.rows, s.stats)) {
          build(kIn, id, carry, atScale, _.persist())
        }
      }
    }

    /** [[of]]'s frames on the branch `atScale`, each passed through `keep`. */
    private def build(kIn: DataFrame, id: String, carry: Seq[String], atScale: Boolean,
        keep: DataFrame => DataFrame): QcStream = {
      val k0 = kIn
        .select(col(id), col("compound"), col("cts"),
          graft.functions.FastRound.cents(col("value")).as("vc"), col("value"))
        .withColumn("tu", unix_micros(col("cts")))
      val tot = k0.groupBy("compound").agg(
        count(lit(1)).as("n"), sum(col("vc")).as("sv"),
        min(col("tu")).as("tmin"), max(col("tu")).as("tmax"))
      val stats = keep(
        if (!carry.exists(Centers.contains)) tot
        else RangeBuckets.perKey(k0, tot.withColumn("t", expr("sv div n")), "compound")
          .groupBy("compound").agg(max(col("n")).as("n"), max(col("sv")).as("sv"),
            max(col("t")).as("t"), expr("sum(abs(vc - t)) div max(n)").as("madx"),
            max(col("tmin")).as("tmin"), max(col("tmax")).as("tmax")))
      def carrying(extra: String*): DataFrame =
        perCompound(stats).select((("compound" +: carry) ++ extra).map(col): _*)
      val cols = (Seq(id, "cts", "vc", "value") ++ carry).map(col)
      val rows =
        if (atScale)
          RangeBuckets.partitioned(
            RangeBuckets.bucketed(k0, carrying("tmin", "tmax"), "compound", "tu")
              .select(col("compound") +: col("b") +: cols: _*), "compound")
        else (if (carry.isEmpty) k0 else RangeBuckets.perKey(k0, carrying(), "compound"))
          .select(col("compound") +: cols: _*)
      QcStream(keep(rows), stats, id, carry, atScale)
    }
  }

  val dsCusumSql: String = KeyedCte +
    """,
      |v AS (SELECT event_id, compound, cts, CAST(round(value*100) AS BIGINT) AS vc FROM k),
      |st AS (SELECT compound, count(*) AS n, CAST(sum(vc) AS BIGINT) // count(*) AS t
      |       FROM v GROUP BY 1),
      |dv AS (SELECT v.compound, max(t) AS t,
      |  CAST(sum(abs(vc - t)) AS BIGINT) // max(n) AS madx
      | FROM v JOIN st ON v.compound = st.compound GROUP BY 1),
      |p AS (SELECT v.compound, event_id, cts, t, madx * 4 AS h,
      |  sum(vc - t - madx // 2) OVER w AS ph,
      |  sum(t - madx // 2 - vc) OVER w AS pl
      | FROM v JOIN dv ON v.compound = dv.compound
      | WINDOW w AS (PARTITION BY v.compound ORDER BY cts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT compound, event_id, h,
      |  ph - least(min(ph) OVER w2, 0) AS sh,
      |  pl - least(min(pl) OVER w2, 0) AS sl
      | FROM p
      | WINDOW w2 AS (PARTITION BY compound ORDER BY cts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |u AS (SELECT compound, event_id, 'high' AS side, CAST(sh AS BIGINT) AS s, CAST(h AS BIGINT) AS h FROM s
      |      UNION ALL
      |      SELECT compound, event_id, 'low', CAST(sl AS BIGINT), CAST(h AS BIGINT) FROM s)
      |SELECT compound, event_id, side, s, h FROM u WHERE s > h
      |ORDER BY compound, event_id, side""".stripMargin

  // --- ds_spc_rules --------------------------------------------------------
  // Western Electric / Nelson run rules per compound (the pattern tests a
  // control chart adds on top of the point tests ds_cusum/ds_rolling_z
  // already run — SPC practice flags a process that drifts WITHOUT any
  // single point leaving the band):
  //   rule 1: a point beyond 3·madx of the center,
  //   rule 2: 8 consecutive points strictly on the same side of the center,
  //   rule 3: 6 consecutive strict moves in the same direction.
  // Center and spread reuse ds_cusum's cents-lattice conventions
  // (t = Σvc div n, madx = mean |dev|) so every comparison is exact BIGINT
  // and the flags are engine-identical — sign() stays CASE-expressed
  // integers, never a float. A rule-2/3 hit is counted at each point that
  // COMPLETES a qualifying run (a 9-long run scores twice), the standard
  // per-point alarm semantics. Scale shape: one per-compound aggregate
  // joined back co-partitioned; the three rolling tests are ROWS-bounded
  // (8/6 rows), so at scale they read the 7 vc lags the carry
  // (RangeBuckets.lags) brings across bucket edges, with zero unbounded
  // state; output is the |compounds|-row report.
  def dsSpcRules(spark: SparkSession, d: String): DataFrame = spcRules(qcStream(spark, d))

  /** DataFrame-in variant for library callers: `k` needs (`idCol`,
    * compound, cts: timestamp, value). Exposed so the randomized spec can
    * pin the windowed run tests against a direct sequential scan on
    * constructed series (runs across the center, exact-8 vs longer runs,
    * tie values). */
  def dsSpcRulesFrom(k: DataFrame, idCol: String): DataFrame =
    spcRules(QcStream.of(k, idCol, Centers))

  private def spcRules(s: QcStream): DataFrame = {
    // the sign of `c` against `ref`, 0 when either is NULL
    def sign(c: Column, ref: Column): Column =
      when(c > ref, lit(1L)).when(c < ref, lit(-1L)).otherwise(lit(0L))
    // each test reads at most 7 rows back, so the run sums are written
    // over the raw vc lags. A row with i ≥ 8 has all 7 lags, so the
    // guards below see the same sums as per-compound ROWS frames would.
    def v(j: Int): Column = if (j == 0) col("vc") else col(RangeBuckets.lagName("vc", j))
    s.lags(s.select(Seq(s.id, "cts", "vc"), Centers), Seq("vc"), 7)
      .withColumn("s8", (0 to 7).map(j => sign(v(j), col("t"))).reduce(_ + _))
      .withColumn("m6", (0 to 5).map(j => sign(v(j), v(j + 1))).reduce(_ + _))
      .groupBy("compound").agg(
        count(lit(1)).as("n_points"),
        sum(when(abs(col("vc") - col("t")) > col("madx") * 3, 1L)
          .otherwise(0L)).as("n_rule1"),
        sum(when(col("i") >= 8 && abs(col("s8")) === 8, 1L)
          .otherwise(0L)).as("n_rule2"),
        sum(when(col("i") >= 7 && abs(col("m6")) === 6, 1L)
          .otherwise(0L)).as("n_rule3"))
      .orderBy("compound")
  }

  val dsSpcRulesSql: String = KeyedCte +
    """,
      |v AS (SELECT event_id, compound, cts, CAST(round(value*100) AS BIGINT) AS vc FROM k),
      |st AS (SELECT compound, count(*) AS n, CAST(sum(vc) AS BIGINT) // count(*) AS t
      |       FROM v GROUP BY 1),
      |dv AS (SELECT v.compound, max(t) AS t,
      |  CAST(sum(abs(vc - t)) AS BIGINT) // max(n) AS madx
      | FROM v JOIN st ON v.compound = st.compound GROUP BY 1),
      |p AS (SELECT v.compound, vc, t, madx,
      |  CASE WHEN vc > t THEN 1 WHEN vc < t THEN -1 ELSE 0 END AS side,
      |  lag(vc, 1) OVER o AS prev,
      |  row_number() OVER o AS i
      | FROM v JOIN dv ON v.compound = dv.compound
      | WINDOW o AS (PARTITION BY v.compound ORDER BY cts, event_id)),
      |q AS (SELECT compound, vc, t, madx, i,
      |  sum(side) OVER (PARTITION BY compound ORDER BY i
      |                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS s8,
      |  sum(CASE WHEN prev IS NULL THEN 0
      |           WHEN vc > prev THEN 1 WHEN vc < prev THEN -1 ELSE 0 END)
      |    OVER (PARTITION BY compound ORDER BY i
      |          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS m6
      | FROM p)
      |SELECT compound, count(*) AS n_points,
      | CAST(sum(CASE WHEN abs(vc - t) > madx * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule1,
      | CAST(sum(CASE WHEN i >= 8 AND abs(s8) = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule2,
      | CAST(sum(CASE WHEN i >= 7 AND abs(m6) = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_rule3
      |FROM q GROUP BY 1 ORDER BY compound""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_spc_rules" -> dsSpcRules,
    "ds_cusum" -> dsCusum,
    "pipeline_qc" -> pipelineQc,
    "ds_resolution" -> dsResolution,
    "ds_interp" -> dsInterp,
    "ds_flatline" -> dsFlatline,
    "ds_trend" -> dsTrend,
    "ds_winsorize" -> dsWinsorize,
    "ds_seasonal" -> dsSeasonal,
    "ds_benford" -> dsBenford,
    "ds_crosscorr" -> dsCrosscorr,
    "ds_autocorr" -> dsAutocorr,
    "ds_histogram2d" -> dsHistogram2d,
    "ds_drift" -> dsDrift,
    "ds_rolling_z" -> dsRollingZ,
    "ds_changepoint" -> dsChangepoint,
    "ds_histogram" -> dsHistogram,
    "ds_resample" -> dsResample,
    "ds_outlier_mad" -> dsOutlierMad,
    "ds_gaps" -> dsGaps,
    "ds_load_epoch" -> dsLoadEpoch,
    "ds_extent" -> dsExtent,
    "ds_range_filter" -> dsRangeFilter,
    "ds_rect_select" -> dsRectSelect,
    "ds_rect_antiselect" -> dsRectAntiselect,
    "ds_click_toggle" -> dsClickToggle,
    "ds_sel_by_date" -> dsSelByDate,
    "ds_sel_counts" -> dsSelCounts,
    "ds_sel_export" -> dsSelExport,
    "ds_apply_filter" -> dsApplyFilter,
    "ds_sel_import" -> dsSelImport,
    "ds_zoom_clamp" -> dsZoomClamp,
    "ds_zoom_history" -> dsZoomHistory,
    "ds_zoom_replay" -> dsZoomReplay,
    "ds_zoom_planes" -> dsZoomPlanes,
    "ds_axis_select" -> dsAxisSelect,
    "ds_clear_compound" -> dsClearCompound,
    "ds_total_refresh" -> dsTotalRefresh)

  val oracle: Map[String, String] = Map(
    "ds_spc_rules" -> dsSpcRulesSql,
    "ds_cusum" -> dsCusumSql,
    "pipeline_qc" -> pipelineQcSql,
    "ds_resolution" -> dsResolutionSql,
    "ds_interp" -> dsInterpSql,
    "ds_flatline" -> dsFlatlineSql,
    "ds_trend" -> dsTrendSql,
    "ds_winsorize" -> dsWinsorizeSql,
    "ds_seasonal" -> dsSeasonalSql,
    "ds_benford" -> dsBenfordSql,
    "ds_crosscorr" -> dsCrosscorrSql,
    "ds_autocorr" -> dsAutocorrSql,
    "ds_histogram2d" -> dsHistogram2dSql,
    "ds_drift" -> dsDriftSql,
    "ds_rolling_z" -> dsRollingZSql,
    "ds_changepoint" -> dsChangepointSql,
    "ds_histogram" -> dsHistogramSql,
    "ds_resample" -> dsResampleSql,
    "ds_outlier_mad" -> dsOutlierMadSql,
    "ds_gaps" -> dsGapsSql,
    "ds_load_epoch" -> dsLoadEpochSql,
    "ds_extent" -> dsExtentSql,
    "ds_range_filter" -> dsRangeFilterSql,
    "ds_rect_select" -> dsRectSelectSql,
    "ds_rect_antiselect" -> dsRectAntiselectSql,
    "ds_click_toggle" -> dsClickToggleSql,
    "ds_sel_by_date" -> dsSelByDateSql,
    "ds_sel_counts" -> dsSelCountsSql,
    "ds_sel_export" -> dsSelExportSql,
    "ds_apply_filter" -> dsApplyFilterSql,
    "ds_sel_import" -> dsSelImportSql,
    "ds_zoom_clamp" -> dsZoomClampSql,
    "ds_zoom_history" -> dsZoomHistorySql,
    "ds_zoom_replay" -> dsZoomReplaySql,
    "ds_zoom_planes" -> dsZoomPlanesSql,
    "ds_axis_select" -> dsAxisSelectSql,
    "ds_clear_compound" -> dsClearCompoundSql,
    "ds_total_refresh" -> dsTotalRefreshSql)
}
