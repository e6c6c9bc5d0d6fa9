package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for an operation's root span); all spans of one
  * operation share `op`. Times are nanoseconds since the run's epoch.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** Spark work attributed to one (operation tag, phase) through the job
  * description the benchmark sets before each call. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    gcMs += o.gcMs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Span recorder plus a SparkListener that books every job, stage and task
  * under the phase tag (`<phase>` from the job description
  * `bench op=<id> phase=<phase>`) that was current when its job started.
  * Spans stay in memory until [[writeSpans]]. A disabled tracer records
  * nothing and has no listener registered, so untraced passes pay only the
  * cost of the wrapper calls.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var enabled = false
  private val JobDescription = "spark.job.description"
  private val t0 = System.nanoTime()
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var curOp = 0L

  private val stagePhase = mutable.Map[Int, String]()
  private val byPhase = mutable.Map[String, Work]()

  def enable(): Unit = if (!enabled) { sc.addSparkListener(this); enabled = true }

  /** Stop recording; waits for the listener bus so every event of the
    * traced interval is booked before the listener is removed. */
  def disable(): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
    enabled = false
  }

  def isEnabled: Boolean = enabled

  /** Start a new operation: later spans and jobs belong to it. */
  def newOp(): Long = { curOp = nextId.incrementAndGet(); curOp }

  /** Time `body` as a span of `layer`; when tracing, Spark jobs started
    * inside it carry the phase tag in their description. */
  def span[T](layer: String, name: String, phase: String = null)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevDesc = sc.getLocalProperty(JobDescription)
    if (phase != null) sc.setJobDescription(s"bench op=$curOp phase=$phase")
    stack = id :: stack
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      stack = stack.tail
      if (phase != null) sc.setJobDescription(prevDesc)
      synchronized { spans += Span(id, parent, curOp, layer, name, s - t0, e - t0) }
    }
  }

  private def phaseOf(desc: String): String =
    Option(desc).flatMap(_.split(" ").find(_.startsWith("phase="))).map(_.drop(6))
      .getOrElse("untagged")

  private def work(phase: String): Work = byPhase.getOrElseUpdate(phase, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ph = phaseOf(Option(e.properties).map(_.getProperty(JobDescription)).orNull)
    e.stageIds.foreach(stagePhase(_) = ph)
    val w = work(ph)
    w.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val w = work(stagePhase.getOrElse(e.stageInfo.stageId, "untagged"))
    w.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stagePhase.getOrElse(e.stageId, "untagged"))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskNs += m.executorRunTime * 1000000L
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def phaseWork(phases: String*): Work = synchronized {
    val w = new Work
    phases.foreach(p => byPhase.get(p).foreach(w.add))
    w
  }

  def totalWork(): Work = synchronized {
    val w = new Work
    byPhase.values.foreach(w.add)
    w
  }

  /** Durations (s) of the spans named `layer`/`name` (any name if null). */
  def durations(layer: String, name: String = null): Seq[Double] = synchronized {
    spans.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(s => (s.end - s.start) / 1e9).toSeq
  }

  /** Self time per layer: each span's duration minus the part its children
    * cover (children of one span never overlap: one submitting thread). */
  def selfSeconds(): Map[String, Double] = synchronized {
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e9).sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-layer figures every workload reports from its traced passes; sums
  * are per traced pass. */
object Layers {
  private val MB = 1048576.0

  def common(tr: Tracer, passes: Double, cores: Int): Seq[(String, Double)] = {
    val all = tr.totalWork()
    val execS = tr.durations("spark", "exec").sum / passes
    val taskS = all.taskNs / 1e9 / passes
    val self = tr.selfSeconds()
    Seq(
      "sources.scan_mb" -> all.inputBytes / MB / passes,
      "operators.construct_s" -> tr.durations("operators", "construct").sum / passes,
      "operators.construct_jobs" -> tr.phaseWork("construct").jobs / passes,
      "operators.construct_task_s" -> tr.phaseWork("construct").taskNs / 1e9 / passes,
      "spark.optimize_s" -> tr.durations("spark", "optimize").sum / passes,
      "spark.plan_s" -> tr.durations("spark", "plan").sum / passes,
      "spark.jobs" -> all.jobs / passes,
      "spark.stages" -> all.stages / passes,
      "spark.tasks" -> all.tasks / passes,
      "spark.exec_s" -> execS,
      "spark.task_s" -> taskS,
      "spark.gc_s" -> all.gcMs / 1000.0 / passes,
      "spark.shuffle_read_mb" -> all.shuffleRead / MB / passes,
      "spark.shuffle_write_mb" -> all.shuffleWrite / MB / passes,
      "spark.spill_mb" -> all.spill / MB / passes,
      "spark.busy_frac" -> (if (execS > 0) taskS / (execS * cores) else 0.0)) ++
      Seq("GraftQC", "sources", "operators", "spark").map(l =>
        s"self.${l}_s" -> self.getOrElse(l, 0.0) / passes)
  }
}
