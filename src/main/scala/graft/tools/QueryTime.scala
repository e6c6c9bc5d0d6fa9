package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{Bench, SparkEntry}

/** Times a named subset of SparkEntry.queries with Bench's session, pass
  * boundary and per-query split — the fast iteration loop for per-operator
  * plan work.
  *   sbt "runMain graft.tools.QueryTime <sfDir> <passes> q1 q2 ..."
  * Prints, per query, the minima over the passes of construction (jobs run
  * while the DataFrame is built included), planning, execution and wall:
  *   QT <name> build=… plan=… exec=… wall=…
  * Unlike Bench it forces a full GC before each query, so the minima are
  * ISOLATED costs rather than costs inside the workload.
  *
  * After the timed passes each query executes once more with a stage
  * listener attached (outside the timed region) and prints its stages by
  * executor task time, with shuffle bytes and spill:
  *   ST <name> wall=… stages=… taskSum=…
  *   ST   stage=… task=… wall=… n=… shW=… shR=… spill=… <stage name>
  * Stage wall times overlap (the scheduler runs independent stages
  * concurrently), so `taskSum` against `wall` also shows how parallel the
  * plan ran.
  */
object QueryTime {
  private case class StageRow(id: Int, name: String, wallMs: Long,
      taskMs: Long, tasks: Int, shufWriteMb: Double, shufReadMb: Double,
      spillMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val queries = args.drop(2).toSeq.map(n => n -> SparkEntry.queries(n))
    val spark = Bench.session()
    val best = scala.collection.mutable.LinkedHashMap[String, Bench.Split]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (passIdx <- 1 to passes)
      Bench.runPass(spark, sfDir, passIdx, queries, gcEach = true) {
        case (name, Right(s)) =>
          best(name) = best.get(name).fold(s)(b => Bench.Split(
            math.min(b.build, s.build), math.min(b.plan, s.plan),
            math.min(b.exec, s.exec), math.min(b.wall, s.wall)))
        case (name, Left(e)) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.nextOption().getOrElse("")
      }
    queries.foreach { case (n, _) =>
      best.get(n) match {
        case Some(b) => println(f"QT $n%-24s build=${b.build}%7.3f plan=${b.plan}%7.3f " +
          f"exec=${b.exec}%7.3f wall=${b.wall}%7.3f")
        case None => println(f"QT $n%-24s error=${errors.getOrElse(n, "")}")
      }
    }

    val rows = ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        val wall = (for { s <- i.submissionTime; c <- i.completionTime }
          yield c - s).getOrElse(0L)
        rows.synchronized {
          rows += StageRow(i.stageId, i.name.takeWhile(_ != '\n'), wall,
            m.executorRunTime, i.numTasks,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    }
    queries.filter { case (n, _) => best.contains(n) }.foreach { case (name, fn) =>
      rows.synchronized(rows.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val wallS = (System.nanoTime() - t0) / 1e9
      // the listener bus is asynchronous and its drain is private[spark];
      // a short sleep lets the last stage's completion event arrive
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val stages = rows.synchronized(rows.toList)
      println(f"ST $name wall=$wallS%.3f stages=${stages.size} taskSum=${stages.map(_.taskMs).sum / 1e3}%.3f")
      stages.sortBy(-_.taskMs).take(8).foreach { r =>
        println(f"ST   stage=${r.id}%4d task=${r.taskMs / 1e3}%7.3f wall=${r.wallMs / 1e3}%7.3f n=${r.tasks}%3d " +
          f"shW=${r.shufWriteMb}%8.2fMB shR=${r.shufReadMb}%8.2fMB spill=${r.spillMb}%6.1fMB ${r.name}")
      }
    }
    spark.stop()
  }
}
