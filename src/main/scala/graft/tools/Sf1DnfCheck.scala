package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Independent sf1 verification for the queries whose DuckDB oracles
  * CANNOT run at sf1 (the recursive-CTE graph family + pipeline_dedup
  * spill past any temp bound — marked "dnf" in duckdb_baseline_sf1.json),
  * so above sf0.1 their correctness otherwise rests on the small-SF
  * oracle alone (r13 verdict #9). Each check is an exact distributed
  * invariant or an independent recount over the SAME sf1 tables:
  *
  *  - pagerank: ranked rows == graph vertices; every rank ≥ the teleport
  *    floor; total mass ≤ n·RankUnit (integer div only sheds mass).
  *  - triangles: Σ per-node corner counts ≡ 0 (mod 3), and equals 3× an
  *    INDEPENDENT whole-triangle recount under id-ordered (not
  *    degree-ordered) edge orientation.
  *  - cluster density: every cluster between the connected star floor
  *    (n−1 edges) and clique ceiling (n·(n−1)/2); Σ cluster edges == the
  *    verified-pair total (each edge lies in exactly one cluster).
  *  - link_pred: every reported top-K row's (cn, ra_x, is_edge) matches a
  *    per-pair brute-force common-neighbor recount restricted to the
  *    reported pairs.
  *  - kcore: output partitions the vertex set; every layer-1 node's
  *    FULL-graph degree is < k (round 1 peels exactly those); the
  *    surviving layer-0 subgraph satisfies the core property
  *    (in-core degree ≥ k), i.e. the bounded peel converged here.
  *  - pipeline_dedup: per-source n_docs/chars_total match a direct
  *    documents aggregate; kept ≤ docs (chars likewise); total drops ≥
  *    the exact-duplicate lower bound Σ(normalized-hash group size − 1).
  *
  * Run: sbt "runMain graft.tools.Sf1DnfCheck /tmp/graft-sf1"; exits 1 on
  * any failed check. `tools/ci.sh` runs it as its "sf1 DNF invariants"
  * gate whenever the gate's corpus is an sf1 one. Results are recorded
  * in SCALING.md per round.
  */
object Sf1DnfCheck {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft-sf1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    def check(name: String, cond: Boolean, detail: String): Unit = {
      if (cond) println(s"SF1CHECK PASS $name — $detail")
      else { failed += 1; println(s"SF1CHECK FAIL $name — $detail") }
    }

    val vp = graft.operators.Dedup.verifiedPairs(spark, d)
      .select("da", "db").localCheckpoint()
    val nEdges = vp.count()
    val verts = vp.select(col("da").as("v"))
      .union(vp.select(col("db").as("v"))).distinct().localCheckpoint()
    val nVerts = verts.count()
    println(s"SF1CHECK graph under test: $nVerts vertices, $nEdges verified pairs at $d")

    // --- graph_pagerank
    val pr = graft.operators.Graph.graphPagerank(spark, d)
      .agg(count(lit(1)).as("n"), min("rank_micro").as("mn"),
        sum("rank_micro").as("mass")).collect()(0)
    check("graph_pagerank.vertex_cover", pr.getAs[Long]("n") == nVerts,
      s"${pr.getAs[Long]("n")} ranked rows == $nVerts vertices")
    check("graph_pagerank.teleport_floor", pr.getAs[Long]("mn") >= 150000L,
      s"min rank_micro ${pr.getAs[Long]("mn")} >= 150000")
    check("graph_pagerank.mass_bound", pr.getAs[Long]("mass") <= nVerts * 1000000L,
      s"mass ${pr.getAs[Long]("mass")} <= ${nVerts * 1000000L}")

    // --- graph_triangles: id-oriented independent whole-triangle recount
    val triSum = graft.operators.Graph.graphTriangles(spark, d)
      .agg(sum("n_triangles")).collect()(0).getLong(0)
    val oId = vp.select(least(col("da"), col("db")).as("u"),
      greatest(col("da"), col("db")).as("v")).distinct().localCheckpoint()
    val triId = oId.as("o1").join(oId.as("o2"), col("o1.v") === col("o2.u"))
      .join(oId.as("o3"),
        col("o3.u") === col("o1.u") && col("o3.v") === col("o2.v")).count()
    check("graph_triangles.mod3", triSum % 3 == 0, s"corner sum $triSum ≡ 0 (mod 3)")
    check("graph_triangles.recount", triSum == 3L * triId,
      s"corner sum $triSum == 3 × $triId id-oriented triangles")

    // --- graph_cluster_density
    val cd = graft.operators.Graph.graphClusterDensity(spark, d).localCheckpoint()
    val cdBad = cd.filter(col("n_edges") < col("n_nodes") - 1 ||
      col("n_edges") > expr("n_nodes * (n_nodes - 1) div 2")).count()
    val cdSum = cd.agg(sum("n_edges")).collect()(0).getLong(0)
    check("graph_cluster_density.bounds", cdBad == 0,
      s"$cdBad clusters outside [star floor, clique ceiling]")
    check("graph_cluster_density.edge_total", cdSum == nEdges,
      s"Σ cluster edges $cdSum == $nEdges verified pairs")

    // --- graph_link_pred: brute-force recount of the reported pairs
    val lp = graft.operators.Graph.graphLinkPred(spark, d)
      .select("a", "b", "cn", "ra_x", "is_edge").localCheckpoint()
    val e0 = vp.select(col("da").as("src"), col("db").as("dst"))
      .union(vp.select(col("db").as("src"), col("da").as("dst"))).localCheckpoint()
    val dg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    val reported = lp.select("a", "b")
    val brute = reported
      .join(e0.select(col("src").as("a"), col("dst").as("z")), Seq("a"))
      .join(e0.select(col("src").as("b"), col("dst").as("z")), Seq("b", "z"))
      .join(dg.select(col("src").as("z"), col("deg")), Seq("z"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn2"), sum(expr("CAST(1000000 AS BIGINT) div deg")).as("ra2"))
    val und = vp.select(least(col("da"), col("db")).as("a"),
      greatest(col("da"), col("db")).as("b")).distinct().withColumn("ie2", lit(1L))
    val lpBad = lp.join(brute, Seq("a", "b"), "left")
      .join(und, Seq("a", "b"), "left")
      .filter(col("cn") =!= coalesce(col("cn2"), lit(-1L)) ||
        col("ra_x") =!= coalesce(col("ra2"), lit(-1L)) ||
        col("is_edge") =!= coalesce(col("ie2"), lit(0L)))
      .count()
    check("graph_link_pred.recount", lpBad == 0,
      s"$lpBad of ${lp.count()} reported pairs disagree with the per-pair brute force")

    // --- graph_kcore
    val kc = graft.operators.Graph.graphKcore(spark, d).localCheckpoint()
    val kcN = kc.count()
    val kcD = kc.select("doc_id").distinct().count()
    check("graph_kcore.vertex_partition", kcN == nVerts && kcD == kcN,
      s"$kcN rows, $kcD distinct == $nVerts vertices")
    val degFull = e0.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
    val l1bad = kc.filter(col("layer") === 1)
      .join(degFull, Seq("doc_id")).filter(col("deg") >= 2).count()
    check("graph_kcore.layer1_degree", l1bad == 0,
      s"$l1bad layer-1 nodes with full-graph degree >= 2")
    val surv = kc.filter(col("layer") === 0).select("doc_id").localCheckpoint()
    val se = vp
      .join(surv.withColumnRenamed("doc_id", "da"), Seq("da"))
      .join(surv.withColumnRenamed("doc_id", "db"), Seq("db"))
    val sdeg = se.select(col("da").as("doc_id")).union(se.select(col("db").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val minDeg = surv.join(sdeg, Seq("doc_id"), "left")
      .agg(min(coalesce(col("deg"), lit(0L)))).collect()(0).getLong(0)
    check("graph_kcore.core_property", minDeg >= 2,
      s"min in-core degree $minDeg >= 2 (bounded peel converged)")

    // --- pipeline_dedup
    val pd = graft.operators.Dedup.pipelineDedup(spark, d).localCheckpoint()
    val direct = graft.sources.Tables.documents(spark, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs2"), sum("n_chars").as("chars2"))
    val pdBad = pd.join(direct, Seq("source"), "full")
      .filter(col("n_docs") =!= col("n_docs2") || col("chars_total") =!= col("chars2") ||
        col("n_kept") > col("n_docs") || col("chars_kept") > col("chars_total"))
      .count()
    check("pipeline_dedup.source_reconcile", pdBad == 0,
      s"$pdBad source rows disagree with the direct documents aggregate")
    val drops = pd.agg((sum("n_docs") - sum("n_kept")).as("drops"))
      .collect()(0).getAs[Long]("drops")
    val exactLb = graft.sources.Tables.documents(spark, d)
      .select(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1L)).collect()(0).getLong(0)
    check("pipeline_dedup.drop_floor", drops >= exactLb,
      s"total drops $drops >= exact-dup lower bound $exactLb")

    println(s"SF1CHECK done: ${if (failed == 0) "ALL PASS" else s"$failed FAILED"}")
    graft.operators.Memo.release()
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
