package graft.bench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.operators.{Analytics, Dedup, PlanStats, Selection}
import graft.sources.Tables

/** `qc_batch`: a fixed list of `SparkEntry.queries`, run by one client in
  * a closed loop, in a seeded order that changes per pass. A pass first
  * re-builds the QC memos the queries use (users pay those on every run),
  * then runs every query and collects its rows. The first pass's rows are
  * written out after the timed region for the DuckDB oracle compare; later
  * passes must reproduce them.
  */
object Batch {
  /** The gated series operators (rolling z, gaps, the CUSUM lattice) and
    * two selection ops (a set op and the counts view). Over three passes
    * the two cheap selection ops fill the lowest six ranks, so p50 falls
    * among the gaps/cusum runs and p90 among the rolling z runs, not on a
    * boundary between queries of different cost. */
  val queries: Seq[String] =
    Seq("ds_rolling_z", "ds_gaps", "ds_cusum", "ds_click_toggle", "ds_sel_counts")

  def releaseAll(spark: SparkSession): Unit = {
    Dedup.releaseCaches(); Selection.releaseCaches(); Analytics.releaseCaches()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Order-independent digest of a result. */
  def digest(rows: Array[Row]): Int = rows.map(_.toString).sorted.toSeq.hashCode
}

final class Batch(input: String, seed: Long) extends Workload {
  import Batch._
  private val fns = queries.map(n => n -> SparkEntry.queries(n)).toMap
  /** Pass times fall until about the fourth pass as the JIT catches up, and
    * runs differ most in when that happens; two warm-up passes put the
    * three timed ones near the plateau. */
  val warmupPasses = 2

  /** The leaf-byte gate (the deployment knob PlanStats reads) is lowered
    * under the events table, so the gated series operators take their
    * large, checkpointed branch at a size a short run can afford. */
  def conf: Seq[(String, String)] =
    Seq("spark.graft.memoSide.minLeafBytes" -> (64L * 1024).toString)

  private val loadTimes = mutable.ArrayBuffer[Double]()
  private val firstRows = mutable.LinkedHashMap[String, (Array[Row], StructType)]()
  private val firstDigest = mutable.Map[String, Int]()
  private val mismatch = mutable.Set[String]()
  private var eventsLeafBytes = 0L
  private var gate = 0L
  private val aboveGate = mutable.Map[String, Boolean]()
  private val memoBytes = mutable.ArrayBuffer[Long]()
  private var leaked = 0L
  private var tracedLeaked = 0L

  def setup(spark: SparkSession): Unit = {
    val t = System.nanoTime()
    Tables.load(spark, input, "events") // the one table the queries read
    loadTimes += (System.nanoTime() - t) / 1e9
    // engine warm-up on a query outside the workload
    SparkEntry.queries("ds_extent")(spark, input).collect()
    eventsLeafBytes = PlanStats.leafStatBytes(Tables.events(spark, input))
    gate = PlanStats.minLeafBytes(spark)
  }

  def pass(spark: SparkSession, tr: Tracer, passIdx: Int,
      ops: mutable.ArrayBuffer[OpRecord]): Unit = {
    val traced = tr.isEnabled
    releaseAll(spark)
    tr.newOp()
    tr.span("operators", "memo_warm", "warm") { Selection.warmQcCaches(spark, input) }
    if (traced) memoBytes += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val warmIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val order = new scala.util.Random(seed * 1000 + passIdx).shuffle(queries)
    order.foreach { name =>
      tr.newOp()
      val t0 = System.nanoTime()
      var rows: Array[Row] = null
      var schema: StructType = null
      var err = ""
      var df: DataFrame = null
      try {
        df = tr.span("operators", "construct", "construct") { fns(name)(spark, input) }
        val qe = df.queryExecution
        tr.span("spark", "optimize", "plan") { qe.optimizedPlan }
        tr.span("spark", "plan", "plan") { qe.executedPlan }
        rows = tr.span("spark", "exec", "exec") { df.collect() }
        schema = df.schema
      } catch {
        case scala.util.control.NonFatal(e) =>
          err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      Console.err.println(f"qc_batch pass=$passIdx $name%-24s $ms%.0f ms")
      var ok = rows != null
      if (ok) {
        val dg = digest(rows)
        firstDigest.get(name) match {
          case None =>
            firstDigest(name) = dg
            firstRows(name) = (rows, schema)
          case Some(d0) if d0 != dg =>
            ok = false
            mismatch += name
            err = "result differs from this run's first pass"
          case _ => ()
        }
        if (traced) aboveGate(name) = PlanStats.leafStatBytes(df) >= gate
      }
      ops += OpRecord(passIdx, "query", name, ms, ok, err)
      // persisted blocks an operation leaves behind are its leak; drop them
      // so they do not slow the next operation
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!warmIds.contains(id)) {
          leaked += 1
          if (traced) tracedLeaked += 1
          rdd.unpersist(true)
        }
      }
    }
  }

  def finish(spark: SparkSession, outDir: Path): Seq[(String, String)] = {
    val dir = outDir.resolve("outputs")
    Files.createDirectories(dir)
    firstRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    val sql = SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(firstRows.keys.map(n => n -> Json.str(sql(n)))))
    Seq("nondeterministic" -> Json.arr(mismatch.toSeq.sorted.map(Json.str)))
  }

  def layerMetrics(tr: Tracer, passes: Double, cores: Int): Seq[(String, Double)] =
    Layers.common(tr, passes, cores) ++ Seq(
      "GraftQC.edit_ms" -> 0.0,
      "GraftQC.commit_ms" -> 0.0,
      "GraftQC.autoqc_ms" -> 0.0,
      "GraftQC.plan_nodes_max" -> 0.0,
      "sources.load_s" -> Main.median(loadTimes.toSeq),
      "sources.write_s" -> 0.0,
      "sources.write_mb" -> 0.0,
      "operators.memo_warm_s" -> tr.durations("operators", "memo_warm").sum / passes,
      "operators.memo_mb" -> (if (memoBytes.isEmpty) 0.0 else memoBytes.max / 1048576.0),
      "operators.leaked_rdds" -> tracedLeaked / passes,
      "operators.above_gate_frac" ->
        (if (aboveGate.isEmpty) 0.0 else aboveGate.values.count(identity).toDouble / aboveGate.size))

  def record: Seq[(String, String)] = Seq(
    "input" -> Json.obj(Seq(
      "kind" -> Json.str("corpus"),
      "queries" -> Json.arr(queries.map(Json.str)),
      "events_leaf_bytes" -> eventsLeafBytes.toString,
      "gate_bytes" -> gate.toString,
      "events_above_gate" -> (eventsLeafBytes >= gate).toString,
      "leaked_rdds_total" -> leaked.toString)))
}
