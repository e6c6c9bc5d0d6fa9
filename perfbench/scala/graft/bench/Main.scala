package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.operators.{Analytics, Dedup, Selection}
import graft.sources.Tables

/** Minimal JSON rendering for the run record. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + esc(s) + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One timed operation of the closed loop. */
final case class OpRecord(pass: Int, kind: String, name: String, ms: Double,
    ok: Boolean, error: String)

/** One timed pass: its makespan and whether it was traced. */
final case class PassResult(makespanS: Double, traced: Boolean)

/** A workload: how to set up against a fresh session, and one pass of its
  * closed loop. Passes append their operations to `ops`. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Untimed passes (index 0) before the timed ones, for JIT and codegen. */
  def warmupPasses: Int
  def pass(spark: SparkSession, tr: Tracer, passIdx: Int, ops: mutable.ArrayBuffer[OpRecord]): Unit
  /** Checks and per-layer figures computed after the timed region. */
  def finish(spark: SparkSession, outDir: Path): Seq[(String, String)]
  def layerMetrics(tr: Tracer, passes: Double, cores: Int): Seq[(String, Double)]
  def record: Seq[(String, String)]
}

/** CPU contention over an interval from /proc/stat and /proc/self/stat:
  * hypervisor steal and other processes' share of the box's CPU time. */
final class Contention {
  private def sample(): Option[(Array[Long], Long)] =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val self = Files.readString(Paths.get("/proc/self/stat"))
      val fields = self.substring(self.lastIndexOf(')') + 2).split("\\s+")
      Some((f, fields(11).toLong + fields(12).toLong))
    } catch { case scala.util.control.NonFatal(_) => None }
  private val start = sample()
  /** (steal %, other processes' CPU %) since construction; -1 if unknown. */
  def result(): (Double, Double) = (start, sample()) match {
    case (Some((a, sa)), Some((b, sb))) =>
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum.toDouble
      if (total <= 0) (-1.0, -1.0)
      else {
        val idle = d(3) + d(4)
        val steal = if (d.length > 7) d(7) else 0L
        val busy = total - idle - steal
        (100.0 * steal / total, 100.0 * math.max(0.0, busy - (sb - sa)) / total)
      }
    case _ => (-1.0, -1.0)
  }
}

object Main {
  /** Set-ups per run; the first runs in a cold JVM. */
  val Setups = 4
  /** Spark's local[Cores]: one closed-loop client on a 4-core box. */
  val Cores = 4

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
    }

  /** Live heap: full GCs, each after a pause for Spark's ContextCleaner to
    * drop what the previous one released (broadcasts, shuffles, blocks),
    * until the figure stops falling. The cleaner is asynchronous: one pause
    * read ~50 MB high in some runs, more often under CPU steal. */
  def liveHeapBytes(): Long = {
    def gcUsed(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = gcUsed()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(250)
      prev = cur
      cur = gcUsed()
      rounds += 1
    } while (rounds < 2 || (prev - cur > (1L << 20) && rounds < 6))
    cur
  }

  def session(cores: Int, conf: Seq[(String, String)]): SparkSession = {
    val b = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    Dedup.releaseCaches(); Selection.releaseCaches(); Analytics.releaseCaches()
    Tables.invalidate()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val input = a("input")
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val trace = a("trace") == "1"
    val out = Paths.get(a("out"))
    Files.createDirectories(out)

    val w: Workload = workloadName match {
      case "qc_session" => new QcSession(input, seed)
      case "qc_batch" => new Batch(input, seed)
    }
    val conf = w match { case b: Batch => b.conf; case _ => Nil }

    // Set-up is repeated; its median is the set-up figure. The session of
    // the last repetition runs the timed passes.
    val setupTimes = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var firstSetupUptimeS = 0.0
    for (i <- 1 to Setups) {
      if (spark != null) stop(spark)
      System.gc()
      val t0 = System.nanoTime()
      spark = session(Cores, conf)
      w.setup(spark)
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (i == 1) firstSetupUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    }

    val tracer = new Tracer(spark.sparkContext)
    val ops = mutable.ArrayBuffer[OpRecord]()
    val passRes = mutable.ArrayBuffer[PassResult]()
    // Warm-up passes (index 0) warm the JVM up (JIT, codegen caches) and are
    // not timed; their operations are checked like the others. Traced runs
    // then make one more untraced pass (the first timed pass is still the
    // slowest), and four passes in ABBA order (untraced, traced, traced,
    // untraced) so steady drift cancels; traced minus untraced of those four
    // is the overhead.
    def tracedPass(i: Int): Boolean = trace && (i % 4 == 3 || i % 4 == 0)
    val nPasses = if (trace) math.max(5, passes) else passes
    val ws = System.nanoTime()
    for (_ <- 1 to w.warmupPasses) w.pass(spark, tracer, 0, ops)
    val warmupS = (System.nanoTime() - ws) / 1e9
    // what a user pays before the first operation of a steady session:
    // JVM start, the first (cold) set-up and the warm-up passes
    val coldSetupS = firstSetupUptimeS + warmupS
    val liveHeapMb = mutable.ArrayBuffer[Double]()
    System.gc()
    val cont = new Contention
    val t0 = System.nanoTime()
    for (i <- 1 to nPasses) {
      val on = tracedPass(i)
      if (on) tracer.enable()
      val ps = System.nanoTime()
      w.pass(spark, tracer, i, ops)
      passRes += PassResult((System.nanoTime() - ps) / 1e9, on)
      if (on) tracer.disable()
      // what the pass left reachable
      liveHeapMb += liveHeapBytes() / 1048576.0
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val (stealPct, otherCpuPct) = cont.result()

    val checks = w.finish(spark, out)
    val untracedMk = passRes.filterNot(_.traced).map(_.makespanS).toSeq
    val tracedMk = passRes.filter(_.traced).map(_.makespanS).toSeq
    val lat = ops.filter(_.pass > 0).map(_.ms).toSeq
    val e2e = Seq(
      "setup_s" -> median(setupTimes.toSeq),
      // the timed region, first timed operation to last result, without
      // the heap probes between passes
      "makespan_s" -> untracedMk.sum,
      "p50_ms" -> pct(lat, 0.5),
      "p90_ms" -> pct(lat, 0.9),
      "peak_heap_mb" -> median(liveHeapMb.toSeq))
    val layers =
      if (!trace) Nil
      else w.layerMetrics(tracer, math.max(1, tracedMk.size).toDouble, Cores) ++ Seq(
        "setup.cold_s" -> coldSetupS,
        "trace.overhead_s" -> (median(tracedMk) -
          median(passRes.drop(1).filterNot(_.traced).map(_.makespanS).toSeq)))
    if (trace) tracer.writeSpans(out.resolve("spans.jsonl"))

    def kv(xs: Seq[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) })
    val opsJson = Json.arr(ops.map(o => Json.obj(Seq(
      "pass" -> o.pass.toString, "kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
      "ms" -> Json.num(o.ms), "ok" -> o.ok.toString, "error" -> Json.str(o.error)))))
    val rt = ManagementFactory.getRuntimeMXBean
    val xmx = rt.getInputArguments.asScala.find(_.startsWith("-Xmx")).getOrElse("default")
    val rec = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "cores" -> Cores.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx" -> Json.str(xmx),
      "jdk" -> Json.str(sys.props("java.version")),
      "spark" -> Json.str(spark.version),
      "jvm_start_s" -> Json.num(jvmStartS),
      "setup_runs_s" -> Json.arr(setupTimes.map(Json.num)),
      "warmup_pass_s" -> Json.num(warmupS),
      "cold_setup_s" -> Json.num(coldSetupS),
      "pass_live_heap_mb" -> Json.arr(liveHeapMb.map(Json.num)),
      "pass_makespans_s" -> Json.arr(passRes.map(p => Json.num(p.makespanS))),
      "pass_traced" -> Json.arr(passRes.map(_.traced.toString)),
      "measured_s" -> Json.num(measuredS),
      "steal_pct" -> Json.num(stealPct),
      "other_cpu_pct" -> Json.num(otherCpuPct),
      "end_to_end" -> kv(e2e),
      "per_layer" -> kv(layers),
      "ops" -> opsJson) ++ w.record ++ checks)
    Files.writeString(out.resolve("jvm_result.json"), rec)
    stop(spark)
  }
}
