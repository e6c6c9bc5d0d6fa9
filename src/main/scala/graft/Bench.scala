package graft
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** A query's wall time split at the two markers: construction
    * (`fn(spark, d)`, including any jobs it runs eagerly), planning
    * (`executedPlan`) and execution (`toRdd.count`). `wall` is read from
    * the same clock, so the three parts sum to it. */
  private[graft] case class Split(build: Double, plan: Double, exec: Double, wall: Double)

  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The timed session: the same builder as Verify/ExplainDump (timed plans
    * are the audited plans) at `local[SPARK_GRAFT_CPUS]`, warmed on the
    * flagship so the first timed query is not charged for JVM start-up
    * (codegen, parquet footer caches, JIT). */
  private[graft] def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Partition-less Windows are statically gated to audited report-sized
    // inputs by ExplainDump's GlobalWindowAllowed set, so WindowExec's
    // per-instantiation WARN here is always about a ≤256-row window. Any
    // NEW global window fails ExplainDump loudly, so silencing this one
    // logger cannot hide a corpus-sized window.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    spark
  }

  /** Pass boundary: drop every memo and every persistent RDD, then rebuild
    * the family memos. Returns the warm time in seconds (-1.0, a value no
    * real duration takes, when a warm failed; the family queries then
    * rebuild lazily and report their own errors) and the ids of the RDDs
    * persistent after the warm, i.e. the shared state meant to survive
    * the pass. */
  private[graft] def resetPass(spark: SparkSession, sfDir: String): (Double, Set[Int]) = {
    graft.operators.Memo.release()
    spark.catalog.clearCache()
    // The census-decomposed operators localCheckpoint their bucketed
    // streams, and checkpoint blocks pin until session end; across passes
    // they accumulate past the storage pool and slow untouched queries
    // through eviction and GC. Dropping them here bounds the pinned set
    // to one pass.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val tb = System.nanoTime()
    // The memos are pipeline costs shared by a family (the dedup LSH
    // stages, the QC stream, the per-user windows),
    // built here so they are not billed to whichever member runs first.
    // NonFatal only: an OutOfMemoryError or interrupt must not be swallowed.
    val warm =
      try {
        graft.operators.Dedup.warmFamilyCaches(spark, sfDir)
        graft.operators.Selection.warmQcCaches(spark, sfDir)
        graft.operators.Analytics.warmFamilyCaches(spark, sfDir)
        (System.nanoTime() - tb) / 1e9
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    (warm, spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  /** Times one query as a [[Split]], then unpersists every RDD it left
    * behind (ids outside `keep`), also when it fails: those are per-query
    * checkpoint streams, and accumulated within a pass they degrade later
    * queries through eviction and GC. */
  private[graft] def timeQuery(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, keep: Set[Int]): Split =
    try {
      val t0 = System.nanoTime()
      val qe = fn(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      // executedPlan builds the (Adaptive)SparkPlan but runs no stages.
      // `toRdd` must not be the marker: under AQE it eagerly executes every
      // non-result query stage, which would book the distributed work as
      // planning.
      qe.executedPlan
      val t2 = System.nanoTime()
      // Execute the AUDITED plan (the physical plan ExplainDump gates),
      // materializing every output row but shipping none to the driver. A
      // plain .count() re-optimizes with only COUNT(*) as the required
      // output, which eliminates unreferenced joins and prunes projections
      // no aggregate consumes, so it would time a different plan.
      qe.toRdd.count()
      val t3 = System.nanoTime()
      Split((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9)
    } finally {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(false)
      }
    }

  /** One pass: [[resetPass]], then each query in the given order through
    * [[timeQuery]], with its jobs labelled `bench: <name>` and a
    * `bench pass=N query=X` breadcrumb on stderr, so a mid-pass JVM death
    * is attributable to a query from the log (stdout keeps its
    * one-line contract). `gcEach` forces a full GC before each query,
    * which isolates it from its predecessor's garbage. `each` gets every
    * query's split or its failure. Returns the warm time. */
  private[graft] def runPass(spark: SparkSession, sfDir: String, passIdx: Int,
      queries: Seq[(String, (SparkSession, String) => DataFrame)], gcEach: Boolean)(
      each: (String, Either[Throwable, Split]) => Unit): Double = {
    val (warm, keep) = resetPass(spark, sfDir)
    val sc = spark.sparkContext
    queries.foreach { case (name, fn) =>
      sc.setJobDescription(s"bench: $name")
      Console.err.println(s"bench pass=$passIdx query=$name")
      if (gcEach) System.gc()
      each(name,
        try Right(timeQuery(spark, sfDir, fn, keep))
        catch { case e: Throwable => Left(e) })
    }
    // the next pass's releases and warms are not the last query's jobs
    sc.setJobDescription(null)
    warm
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query time = MINIMUM over this many passes. The shared box this
    // runs on has multi-second CPU-steal spikes; min-of-k is the standard
    // noise estimator, and five passes leave it headroom when two are
    // dirty. Caches are wiped BETWEEN passes, so each pass pays the full
    // pipeline costs exactly like a single-pass run would.
    // SPARK_GRAFT_BENCH_PASSES overrides for the dev loop.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt
    // contention marker: 1-minute /proc/loadavg sampled at each pass
    // boundary, recorded per pass in the side file, so a dirty pass is
    // diagnosable as box noise rather than a regression
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    val passLoad = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    // Direct contention evidence (loadavg alone can't separate "this JVM
    // kept the box busy" from "someone else did"): sample system-wide
    // busy/total jiffies (/proc/stat) and THIS process's jiffies
    // (/proc/self/stat utime+stime) at pass boundaries; ext_cpu_pct =
    // share of the pass's total CPU capacity consumed by OTHER processes.
    def cpuSample(): (Long, Long, Long) =
      try {
        val stat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
        val total = stat.sum
        val idle = stat(3) + (if (stat.length > 4) stat(4) else 0L)
        val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
          .split("\\s+")
        (total, total - idle, self(13).toLong + self(14).toLong)
      } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }
    val passExtCpu = scala.collection.mutable.ArrayBuffer[Double]()
    // Kernel-side contention evidence:
    //  - steal_pct: hypervisor CPU steal (/proc/stat cpu field 8) as a
    //    share of the pass's total jiffies — time the VCPUs were runnable
    //    but the HOST ran someone else; no amount of in-guest core
    //    pinning can remove it, which is why min-of-k (not pinning) is
    //    the right estimator here;
    //  - cpu_stall_ms: /proc/pressure/cpu "some total=" delta — microsecs
    //    (reported as ms) at least one runnable task in THIS guest waited
    //    for a CPU, the PSI view of oversubscription.
    def stealSample(): Long =
      try {
        val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length > 7) f(7) else -1L
      } catch { case scala.util.control.NonFatal(_) => -1L }
    def psiSample(): Long =
      try {
        val some = java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/pressure/cpu")).linesIterator
          .find(_.startsWith("some")).getOrElse("")
        some.split("total=").last.trim.toLong // microseconds
      } catch { case scala.util.control.NonFatal(_) => -1L }
    val passSteal = scala.collection.mutable.ArrayBuffer[Double]()
    val passStall = scala.collection.mutable.ArrayBuffer[Long]()
    val spark = session()
    // A failing query must not bench as "fast": a query is excluded from
    // timings (and reported under "errors") only if it failed in EVERY
    // pass; one flaky failure with a later success keeps its timing.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val succeeded = scala.collection.mutable.Set[String]()
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    // execution-only minima: the fixed per-query analyze+optimize floor is
    // ~a third of the wall headline, and a real operator regression can
    // hide inside it. Wall stays the headline (cross-round comparable);
    // this is the regression-sensitive view.
    val bestExec = scala.collection.mutable.LinkedHashMap[String, Double]()
    // construction-only minima: jobs a query runs while its DataFrame is
    // built (checkpoint loops, memo counts, heavy-key probes) land here,
    // not in the wall − exec planning gap
    val bestBuild = scala.collection.mutable.LinkedHashMap[String, Double]()
    val passTotals = scala.collection.mutable.ArrayBuffer[Double]()
    val passClean = scala.collection.mutable.ArrayBuffer[Boolean]()
    // per-pass cost of the family memo warms (see resetPass)
    val familyBuilds = scala.collection.mutable.ArrayBuffer[Double]()
    // full-precision per-pass per-query times, persisted to a side file so
    // cross-round drift is diagnosable per pass (the stdout headline line
    // carries NO per-query data — see the tail-window note below)
    val passDetail = scala.collection.mutable.ArrayBuffer[
      scala.collection.mutable.LinkedHashMap[String, Double]]()
    for (passIdx <- 1 to passes) {
      val loadStart = loadavg()
      val cpuStart = cpuSample()
      val stealStart = stealSample()
      val psiStart = psiSample()
      var passTotal = 0.0
      var clean = true
      val detail = scala.collection.mutable.LinkedHashMap[String, Double]()
      // Per-pass DETERMINISTIC shuffle of query order: a heavy neighbor
      // bills its major-GC debt to whoever runs next, and with a FIXED
      // order the same victim pays in every pass, so even min-of-k keeps
      // the artifact. A different permutation per pass gives each query k
      // different neighborhoods — the min approximates the isolated cost
      // without a per-query System.gc(), which measured 12% slower in
      // aggregate at sf1 (it costs the other queries their warmth). QueryTime
      // keeps the gc(): it measures ISOLATED minima; the bench measures
      // the workload as a workload, GC debt included.
      // Seeded by pass index: run-to-run reproducible.
      val passOrder = new scala.util.Random(passIdx).shuffle(SparkEntry.queries.toSeq)
      familyBuilds += runPass(spark, sfDir, passIdx, passOrder, gcEach = false) {
        case (name, Right(s)) =>
          succeeded += name
          passTotal += s.wall
          detail(name) = s.wall
          if (!best.get(name).exists(_ <= s.wall)) best(name) = s.wall
          if (!bestExec.get(name).exists(_ <= s.exec)) bestExec(name) = s.exec
          if (!bestBuild.get(name).exists(_ <= s.build)) bestBuild(name) = s.build
        case (name, Left(e)) =>
          clean = false
          // strip EVERY char that can break the single-line JSON (quotes,
          // backslashes, all control chars) — a parse failure here zeroes
          // the whole bench
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
      }
      passTotals += passTotal
      passClean += clean
      passDetail += detail
      passLoad += ((loadStart, loadavg()))
      val cpuEnd = cpuSample()
      val stealEnd = stealSample()
      passSteal += {
        if (stealStart < 0 || stealEnd < 0 || cpuStart._1 < 0 ||
          cpuEnd._1 <= cpuStart._1) -1.0
        else 100.0 * (stealEnd - stealStart) / (cpuEnd._1 - cpuStart._1)
      }
      val psiEnd = psiSample()
      passStall +=
        (if (psiStart < 0 || psiEnd < 0) -1L else (psiEnd - psiStart) / 1000)
      passExtCpu += {
        if (cpuStart._1 < 0 || cpuEnd._1 < 0 || cpuEnd._1 == cpuStart._1) -1.0
        else {
          val ext = (cpuEnd._2 - cpuStart._2) - (cpuEnd._3 - cpuStart._3)
          100.0 * math.max(0L, ext) / (cpuEnd._1 - cpuStart._1)
        }
      }
    }
    val results = best.filter { case (k, _) => succeeded(k) }
    val permanent = errors.filterNot { case (k, _) => succeeded(k) }
    def r(v: Double, places: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))
    // Headline metric (r7 review): SUM OF PER-QUERY MINIMA across passes.
    // On the shared driver box, per-pass totals swing 3.5× under CPU steal
    // (r7: 80.7s / 224.2s / 284.2s for identical code) while the min-sum
    // stays stable round over round (44.2 → 44.6s) — it is the only
    // cross-round-comparable statistic this box can produce.
    val sumOfMins = if (results.nonEmpty) results.values.sum else 0.0
    val cleanTotals = passTotals.zip(passClean).collect { case (t, true) => t }
    // best single-pass total — a total one run actually achieved — kept as
    // a secondary field
    val total = if (cleanTotals.nonEmpty) cleanTotals.min else sumOfMins
    val medBase = (if (cleanTotals.nonEmpty) cleanTotals else passTotals).sorted
    val median =
      if (medBase.isEmpty) 0.0
      else if (medBase.length % 2 == 1) medBase(medBase.length / 2)
      else (medBase(medBase.length / 2 - 1) + medBase(medBase.length / 2)) / 2.0
    // Locale.ROOT everywhere: f"" uses the JVM default locale, and a
    // comma-decimal locale (de_DE etc.) would corrupt the JSON with [1,234].
    val pts = passTotals.map(r(_, 3)).mkString("[", ",", "]")
    val es = permanent.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // ALL per-query detail (minima + per-pass times, full precision) goes
    // to the side file, NEVER the stdout line: the driver parses its JSON
    // out of a ~2000-char stdout tail window, and a per-query map at 86+
    // queries overflows it — that zeroed the official bench number in
    // round 5 AND round 7. The side file is a JSON object so both views
    // live in one artifact.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_passes.json")
    def minsJson(m: scala.collection.Map[String, Double]): String =
      m.filter { case (k, _) => succeeded(k) }
        .map { case (k, v) => "\"" + k + "\":" + r(v, 4) }.mkString("{", ",", "}")
    val minJson = minsJson(best)
    val execMinJson = minsJson(bestExec)
    val passesJson = passDetail.zipWithIndex.map { case (m, i) =>
      val qd = m.map { case (k, v) => "\"" + k + "\":" + r(v, 4) }.mkString("{", ",", "}")
      s"""{"pass":${i + 1},"clean":${passClean(i)},"total":${r(passTotals(i), 3)},"family_build_s":${r(familyBuilds(i), 3)},"load_1m_start":${r(passLoad(i)._1, 2)},"load_1m_end":${r(passLoad(i)._2, 2)},"ext_cpu_pct":${r(passExtCpu(i), 1)},"steal_pct":${r(passSteal(i), 2)},"cpu_stall_ms":${passStall(i)},"queries":$qd}"""
    }.mkString("[\n", ",\n", "\n]")
    // Pinned DuckDB baseline (r12 verdict #7): the committed artifact
    // tools/duckdb_baseline.py writes (min-of-N per oracle query, recorded
    // in the same box window as a Spark bench run) rides along in BOTH
    // bench artifacts, so weak-set adjudication compares against one
    // pinned number instead of whatever the oracle box did that day.
    // Only embedded when the baseline was measured on THIS sfDir.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_BASELINE",
      "duckdb_baseline_sf0.1.json")
    val baseline: Option[(Int, Map[String, Double])] =
      try {
        val p = java.nio.file.Paths.get(baselinePath)
        if (!java.nio.file.Files.exists(p)) None
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(p))
          val bsf = Option(root.get("sf")).map(_.asText).getOrElse("")
          def norm(s: String) = s.stripSuffix("/")
          if (norm(bsf) != norm(sfDir)) None
          else {
            val pq = root.get("per_query")
            val m = pq.fieldNames.asScala
              .map(n => n -> pq.get(n).asDouble).toMap
            Some((Option(root.get("passes")).map(_.asInt).getOrElse(0), m))
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    // ratio over the SHARED entries only (the baseline can't time non-SQL
    // entries and new queries may postdate the pin) — both sides are
    // sums of per-query minima over the intersection
    val baselineFields = baseline.map { case (bp, m) =>
      val shared = results.keySet.intersect(m.keySet)
      val sparkShared = shared.toSeq.map(results).sum
      val duckShared = shared.toSeq.map(m).sum
      val ratio = if (duckShared > 0) sparkShared / duckShared else -1.0
      (s""","duckdb_total":${r(m.values.sum, 3)},"duckdb_passes":$bp,""" +
        s""""shared_n":${shared.size},"spark_shared":${r(sparkShared, 3)},""" +
        s""""duckdb_shared":${r(duckShared, 3)},"vs_duckdb":${r(ratio, 3)}""",
        m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r(v, 4) }
          .mkString(",\n\"duckdb_per_query\":{", ",", "}"))
    }
    // the box the numbers were taken on: a speedup needs a before and an
    // after from the same cores and heap
    val maxHeapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val detailJson = s"""{"cpus":$cpus,"max_heap_mb":$maxHeapMb,\n"query_mins":$minJson,\n"query_exec_mins":$execMinJson,\n"query_build_mins":${minsJson(bestBuild)}${baselineFields.map(_._2).getOrElse("")},\n"passes":$passesJson}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detailJson)
    catch { case _: Throwable => () } // diagnostics only — never fail the bench
    // The LAST stdout line is a SHORT fixed-field headline (~250 chars —
    // an order of magnitude of headroom in the tail window): metric,
    // value, pass stats, error map (normally {}), query count, sf.
    // exec_value = sum of execution-only minima (driver planning floor
    // excluded); family_build_s = per-pass dedup shared-pipeline warm cost,
    // charged to the family, not to whichever family query runs first
    val sumOfExecMins = bestExec.filter { case (k, _) => succeeded(k) }.values.sum
    val fb = familyBuilds.map(r(_, 3)).mkString("[", ",", "]")
    println(s"""{"metric":"sum_of_query_mins","value":${r(sumOfMins, 3)},"unit":"sec","exec_value":${r(sumOfExecMins, 3)},"family_build_s":$fb,"n_queries":${results.size},"best_pass_total":${r(total, 3)},"pass_totals":$pts,"pass_median":${r(median, 3)},"passes":$passes,"errors":$es${baselineFields.map(_._1).getOrElse("")},"sf":"$sfDir"}""")
    graft.operators.Memo.release()
    spark.stop()
  }
}
