package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dumps `explain("formatted")` for every query into EXPLAINS.md and fails
  * loudly on plan smells: a CartesianProduct anywhere, or a missing
  * broadcast/pushdown where the operator's design promises one.
  *
  * Every query is audited twice: at the session's leaf-byte gate (the
  * default unless `spark.graft.memoSide.minLeafBytes` is set) and at gate 0,
  * where each size-dispatched operator takes its at-scale form
  * ([[graft.operators.PlanStats]]). EXPLAINS.md records the gate-0 plans.
  * The bounded-cardinality window rule applies to the gate-0 plans only:
  * below the gate a per-compound window's input is bounded by the gate
  * itself. Every other rule applies at both settings. At gate 0 the plan of
  * each `localCheckpoint` a query takes while it is built
  * ([[CheckpointPlans]]) is recorded under the query and audited for
  * CartesianProducts and bounded-cardinality windows too: a consumer's plan
  * shows a checkpoint only as a `Scan ExistingRDD`.
  * Run: sbt "runMain graft.tools.ExplainDump /root/testdata/sf0.01"
  */
object ExplainDump {
  // operators whose design requires a broadcast join (SURVEY §5).
  // ds_apply_filter left this set in r8: its selection side is
  // machine-generated (scales with the corpus), so the broadcast decision
  // belongs to AQE at runtime — the static plan legitimately shows a
  // shuffle join.
  private val MustBroadcast = Set("q3_topk_revenue", "q5_region_join",
    "ann_bruteforce", "ann_lsh", "ann_ivf")
  // operators that must reach the scan with a pushed filter
  private val MustPushFilter = Set("q1_pricing_summary", "q3_topk_revenue",
    "q5_region_join", "ds_range_filter", "ds_rect_select", "q_asof_join",
    "q_range_join", "ds_axis_select")

  // Queries AUDITED as legitimately containing a partition-less (global)
  // Window: every entry below operates on a REPORT-SIZED intermediate
  // (bounded rows by construction — config lattices, ≤256-bucket digests,
  // fixed samples), never the corpus. Any new global window fails the gate
  // until it is audited into this set — that is the loud failure the
  // silenced WindowExec warning in Bench would otherwise hide.
  private val GlobalWindowAllowed = Set(
    "sample_bottomk",      // 100-row fixed sample (TextAnalysis)
    "layout_compact",      // ≤256-row shard manifest (Layout)
    "doc_shuffle",         // 256-bucket rank digest
    "select_token_budget", // score-lattice (≤ScoreScale buckets) prefix sum
    "pipeline_curate",     // same bucket prefix sum via tokenBudgetSelect
    "text_zipf",           // rank over limit(ZipfTopK) — bounded top-K
    "q_cumulative_users",  // running sum over per-DAY firsts — calendar-sized
    "layout_cluster_depth", // sweep over HOURLY boundaries — calendar-sized
    "text_quality_auc",    // AUC prefix over the score-lattice bucket table
    "select_pareto",       // skyline suffix-max over the score-lattice buckets
    "text_quality_lift",   // decile cuts over the score-lattice bucket table
    "q_funnel_time",       // percentile cum over the delay-minute histogram
    "q_dau_mau"            // interval-delta sweep over the day grid — calendar-sized
  )

  // Bounded-cardinality window gate (r14 verdict #2). The defect class
  // that recurred eight times before r14/r15 killed it: a Window whose
  // partition keys are ONLY bounded-cardinality domain columns (compound:
  // 5 values, event_type: ~6, strm: 2, source: ~4) serializes each key's
  // ENTIRE input into one task — fine on a report-sized intermediate,
  // a 20-TB-per-task scale-killer on the corpus. Structural test: such a
  // window is presumed report-sized iff an Aggregate sits somewhere below
  // it in the same subtree (census/histogram/per-key-stats streams are all
  // groupBy outputs); a bounded-keys window fed straight from a scan has
  // corpus-sized partitions and fails the gate. Queries where the bounded
  // window is legitimately NOT aggregate-fed but still bounded by
  // construction are audited here, with the boundedness argument:
  private val BoundedCardCols = Set("compound", "event_type", "strm", "source")
  private val BoundedWindowAllowed: Map[String, String] = Map(
    "ds_zoom_history" -> ("windows run after the firstActions bucket-local " +
      "prune (lb <= 12 filter) — ≤ 12×256 candidate rows per compound, " +
      "then ≤ 12 action rows per compound"),
    "ds_zoom_replay" -> "same firstActions prune; the stack fold sees ≤ 12 rows/compound",
    "ds_zoom_planes" -> "plane lattice rows — |compounds| × plane-pairs, config-sized",
    "ds_outlier_mad" -> ("cum/total windows run over the VALUE HISTOGRAM " +
      "(lattice-bounded groupBy output) — the Aggregate below is hidden " +
      "behind its localCheckpoint boundary, so the structural test can't see it"),
    "ds_flatline" -> ("the chain-merge window runs over the checkpointed " +
      "boundary-segment census — ≤ 2 segments per non-empty (compound, " +
      "bucket), duplicate-density-sized; Aggregate hidden behind the checkpoint"),
    "select_stratified" -> ("final per-source rank runs after the bucket-local " +
      "top-K prune (lr <= K filter) — ≤ K × RangeBuckets.Buckets candidate rows per source"),
    "ds_trend" -> ("the final per-compound sort runs over the TWO-LEVEL " +
      "radix-selected slice (~n/65536 rows per compound — the level-2 " +
      "bucket that holds the median rank); the bounding joins read the " +
      "checkpointed slope stream, so the census Aggregates sit behind a " +
      "LogicalRDD boundary the structural test cannot see")
  )

  private def boundedOnlyCorpusWindows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    // "Aggregate-fed implies report-sized" holds only on the window
    // input's row-producing path (r15 advice): the old collectFirst was
    // an EXISTS over the whole subtree, so an Aggregate on the FAR side
    // of a join (corpus scan ⋈ aggregate-derived census — the common
    // decomposed shape here) exempted a corpus-fed window. Now EVERY
    // branch of every multi-child node (Join, Union) must itself be
    // aggregate-fed: a join of two report-sized tables stays report-
    // sized, while corpus ⋈ census fails on the scan branch and must be
    // decomposed or audited into BoundedWindowAllowed.
    def aggFed(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case other if other.children.isEmpty => false
      case other => other.children.forall(aggFed)
    }
    plan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall {
          case a: AttributeReference => BoundedCardCols(a.name)
          case _ => false
        } && !aggFed(w.child) =>
        w.partitionSpec.map(_.sql).mkString(", ")
    }
  }

  private val GateKey = "spark.graft.memoSide.minLeafBytes"

  /** `plan` with what differs between two runs of one tree replaced by a
    * placeholder: expression ids, RDD ids, AQE query-stage ids, codegen
    * ids, `plan_id`s, lambda class names and source line numbers. A
    * regenerated EXPLAINS.md then differs only where a plan did. */
  private def normalized(plan: String): String = plan
    .replaceAll("#\\d+", "#n")
    .replaceAll("RDD\\[\\d+\\]", "RDD[n]")
    .replaceAll("(QueryStage\\n(?:Output [^\\n]*\\n)?Arguments: )\\d+", "$1n")
    .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : n]")
    .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=n]")
    .replaceAll("\\$\\$Lambda[^\\s,\\])]*", "\\$\\$Lambda")
    .replaceAll("(\\.scala):\\d+", "$1:n")

  /** Audit failures of query `name`'s plan; `atScale` adds the
    * bounded-cardinality window rule. */
  private def audit(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
      plan: String, atScale: Boolean): Seq[String] = {
    var bad = List.empty[String]
    if (plan.contains("CartesianProduct"))
      bad ::= s"$name: CartesianProduct in plan"
    if (MustBroadcast(name) && !plan.contains("Broadcast"))
      bad ::= s"$name: expected a broadcast join"
    if (MustPushFilter(name) && !plan.contains("PushedFilters: ["))
      bad ::= s"$name: expected PushedFilters at the scan"
    // Global-window gate: a Window with an empty partitionSpec moves ALL
    // its input to one task. Allowed only on audited report-sized inputs.
    val globalWindows = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    if (globalWindows.nonEmpty && !GlobalWindowAllowed(name))
      bad ::= s"$name: partition-less Window outside the audited allowlist"
    // Bounded-keys gate: a window partitioned ONLY by bounded-cardinality
    // columns with no Aggregate below it runs corpus-sized partitions.
    val boundedWins = if (atScale) boundedOnlyCorpusWindows(qe.optimizedPlan) else Nil
    if (boundedWins.nonEmpty && !BoundedWindowAllowed.contains(name))
      bad ::= s"$name: corpus-fed Window partitioned only by bounded-cardinality " +
        s"columns (${boundedWins.mkString("; ")}) — decompose over (key, time-bucket) " +
        "or audit it into BoundedWindowAllowed"
    bad.reverse
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    val sb = new StringBuilder
    sb.append("# EXPLAINS — physical plans at sf0.01, leaf-byte gate 0 (auto-generated by graft.tools.ExplainDump)\n\n")
    sb.append("Every query is audited at the default leaf-byte gate and at gate 0;\n")
    sb.append("the plans below are the gate-0 ones, where every size-dispatched\n")
    sb.append("operator takes its at-scale form.\n\n")
    sb.append("Audit gates: no `CartesianProduct` anywhere; `BroadcastHashJoin`/\n")
    sb.append("`BroadcastNestedLoopJoin` present where the design promises a broadcast;\n")
    sb.append("`PushedFilters` non-empty where a filter must reach the parquet scan;\n")
    sb.append("no partition-less Window outside the audited report-sized allowlist;\n")
    sb.append("at gate 0 only, no corpus-fed Window partitioned only by bounded-cardinality\n")
    sb.append("columns (compound/event_type/strm/source) outside the audited allowlist.\n")
    sb.append("Each query's gate-0 checkpoint plans (the `localCheckpoint`s taken while\n")
    sb.append("it is built, which its own plan shows as `Scan ExistingRDD`) follow it, under\n")
    sb.append("the CartesianProduct and bounded-cardinality window gates.\n\n")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    def planOf(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) = {
      val qe = fn(spark, sfDir).queryExecution
      (qe, qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    var bad = queries.flatMap { case (name, fn) =>
      val (qe, plan) = planOf(fn)
      audit(name, qe, plan, atScale = false).map(_ + " (default gate)")
    }.toList
    // the gate-0 pass starts from an empty memo, as a session run at gate 0 does
    graft.operators.Memo.release()
    val gate = spark.conf.getOption(GateKey)
    spark.conf.set(GateKey, "0")
    try queries.foreach { case (name, fn) =>
      val ((qe, plan), checkpoints) = CheckpointPlans.during(spark)(planOf(fn))
      bad ++= audit(name, qe, plan, atScale = true)
      sb.append(s"## $name\n\n")
      sb.append(s"- broadcast joins: ${"BroadcastHashJoin".r.findAllIn(plan).size}\n")
      sb.append(s"- shuffles (Exchange): ${"Exchange ".r.findAllIn(plan).size}\n")
      sb.append(s"- checkpoints: ${checkpoints.size}\n")
      sb.append("\n```\n").append(normalized(plan).linesIterator.take(60).mkString("\n"))
        .append("\n```\n\n")
      // what ran inside each checkpoint the query took, under the same
      // bounded-window rule as the query's own plan
      checkpoints.zipWithIndex.foreach { case (cq, i) =>
        val cplan = cq.explainString(org.apache.spark.sql.execution.FormattedMode)
        val cwins = boundedOnlyCorpusWindows(cq.optimizedPlan)
        if (cplan.contains("CartesianProduct"))
          bad ::= s"$name: CartesianProduct in checkpoint ${i + 1}"
        if (cwins.nonEmpty && !BoundedWindowAllowed.contains(name))
          bad ::= s"$name: corpus-fed Window partitioned only by bounded-cardinality " +
            s"columns (${cwins.mkString("; ")}) in checkpoint ${i + 1}"
        // the exchanges the checkpoint runs; a memo it reads prints its own
        // build, which ran once for every consumer
        val runs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
          .collect(cq.executedPlan) {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
          }
        sb.append(s"### $name: checkpoint ${i + 1}\n\n")
        sb.append(s"- exchanges it runs (memo builds excluded): ${runs.size}\n")
        sb.append("\n```\n").append(normalized(cplan).linesIterator.take(40).mkString("\n"))
          .append("\n```\n\n")
      }
    } finally gate.fold(spark.conf.unset(GateKey))(spark.conf.set(GateKey, _))
    // The three LSH queries read memoized pipeline-stage outputs, so their
    // own plans are InMemoryTableScans; dump the UN-memoized pipeline plan
    // too, where the verification join's strategy is visible, and gate it:
    // the pairs×shingles intersection probe must be a shuffle join (a
    // forced broadcast there tracks duplicate density and dies at 100 TB).
    graft.operators.Memo.release() // else cache substitution hides the joins
    val pipe = graft.operators.Dedup.buildLsh(spark, sfDir).verified
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    if (pipe.contains("CartesianProduct"))
      bad ::= "dedup_lsh_pipeline: CartesianProduct in plan"
    if (!pipe.contains("SortMergeJoin") && !pipe.contains("ShuffledHashJoin"))
      bad ::= "dedup_lsh_pipeline: intersection probe must be a shuffle join"
    sb.append("## dedup_lsh_pipeline (shared build behind the three LSH queries)\n\n")
    sb.append(s"- broadcast joins: ${"BroadcastHashJoin".r.findAllIn(pipe).size}\n")
    sb.append(s"- shuffle joins: ${"SortMergeJoin".r.findAllIn(pipe).size + "ShuffledHashJoin".r.findAllIn(pipe).size}\n")
    sb.append(s"- shuffles (Exchange): ${"Exchange ".r.findAllIn(pipe).size}\n")
    sb.append("\n```\n").append(normalized(pipe).linesIterator.take(80).mkString("\n"))
      .append("\n```\n\n")
    if (bad.nonEmpty) {
      sb.append("## AUDIT FAILURES\n\n")
      bad.foreach(m => sb.append(s"- $m\n"))
    } else sb.append("## Audit: all gates passed\n")
    Files.writeString(Paths.get("EXPLAINS.md"), sb.toString)
    println(s"wrote EXPLAINS.md; audit failures: ${bad.size}")
    bad.foreach(m => println(s"  FAIL $m"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
