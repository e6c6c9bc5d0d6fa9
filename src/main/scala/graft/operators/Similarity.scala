package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** §2.4 similarity search over `embeddings` (64-dim float vectors).
  *
  * `ann_bruteforce` is the exact-recall baseline: the query set is tiny and
  * broadcast, so the "cross join" is really a map-side nested loop over the
  * corpus — it scans each corpus partition once and never shuffles the
  * vectors; only (queries × k) rows reach the final top-k.
  *
  * `ann_lsh` is the scale path: sign-LSH restricts scoring to bucket-equal
  * pairs, turning O(Q·N) scoring into O(Q·N/2^bits) with the shuffle
  * partitioned by bucket.
  *
  * Cosines fold left-to-right (Spark `aggregate`), matching the oracle's
  * `list_reduce` — bit-identical doubles, so even the ranking ties agree.
  */
object Similarity {

  private val K = 10
  private val NumQueries = 5 // vec_id < 5 are the query set
  private val RefineM = 30 // ann_refine's ADC shortlist depth
  // Embedding dimensionality — EVERY oracle SQL dot product below derives
  // its range(…) bound from this one constant (the Spark side is
  // dimension-agnostic via zip_with/aggregate, so a dim change that only
  // updated the data would otherwise silently truncate the oracle's
  // scores instead of failing).
  private val Dim = 64
  // PQ geometry (ann_pq) — declared HERE, above every val that
  // interpolates them: Scala object vals initialize in declaration order,
  // and a string val built earlier would silently see 0
  private val PqSub = 8 // subspaces
  private val PqSubDim = Dim / PqSub // dims per subspace
  // graft's native codegen'd expression (see graft.functions.CosineSim);
  // bit-identical to the fold-based formula the oracle uses
  private val cosExpr = expr("cosine_sim(qv, v)")

  private def vectors(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d).select(
      col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  private val CosSqlFor = (a: String, b: String) =>
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}), k -> $a[CAST(k AS INT)]*$b[CAST(k AS INT)])), (acc, x) -> acc + x) /
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}), k -> $a[CAST(k AS INT)]*$a[CAST(k AS INT)])), (acc, x) -> acc + x) *
       |       list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}), k -> $b[CAST(k AS INT)]*$b[CAST(k AS INT)])), (acc, x) -> acc + x))""".stripMargin

  // --- ann_bruteforce -----------------------------------------------------
  def annBruteforce(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    e.crossJoin(broadcast(q))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "sim")
      .orderBy("qid", "rank")
  }

  val annBruteforceSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |s AS (SELECT qid, vec_id, ${CosSqlFor("qv", "v")} AS sim FROM e CROSS JOIN q),
       |r AS (SELECT qid, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM s)
       |SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_lsh ------------------------------------------------------------
  // Approximate top-k: score only vectors in the query's 8-bit sign bucket.
  def annLsh(spark: SparkSession, d: String): DataFrame = {
    val bucketed = vectors(spark, d).withColumn("bucket",
      expr("concat_ws('', transform(slice(v, 1, 8), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"))
    val q = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    bucketed.join(broadcast(q), Seq("bucket"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "sim")
      .orderBy("qid", "rank")
  }

  val annLshSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |  list_reduce(list_transform(range(1, 9), i -> CASE WHEN v[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END), (a, x) -> a||x) AS bucket FROM e),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < $NumQueries),
       |s AS (SELECT qid, b.vec_id, ${CosSqlFor("qv", "v")} AS sim
       |      FROM b JOIN q USING (bucket)),
       |r AS (SELECT qid, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM s)
       |SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_ivf ------------------------------------------------------------
  // IVF (inverted-file) ANN, the other standard scale path next to LSH:
  // a small set of centroids partitions the corpus into cells; queries
  // probe only their NProbe nearest cells. Here the coarse quantizer is a
  // fixed, deterministic seed set (vec_id ∈ [100, 116) — 16 cells) so the
  // oracle can replicate it exactly; at scale you'd swap in k-means||
  // centroids (driver-side array, same literal-injection shape, ~hundreds
  // of KB for thousands of cells).
  //
  // Scale shape: the centroids are collected once (k·dim doubles, KBs —
  // the same array trainCentroids keeps between rounds) and re-injected as
  // LITERALS, so assignment is an argmax computed in the scan's project
  // list — a pure map, zero corpus shuffle (r6's formulation paid a
  // row_number() window partitioned by vec_id, which shuffled the whole
  // corpus of vectors once; EXPLAINS.md now shows no vec_id Exchange).
  // Probing joins the tiny query set (broadcast) to its 2 cells, so scored
  // candidates are ~2/16 of the corpus per query instead of all of it.
  private val NumCells = 16
  private val CentroidBase = 100 // vec_id in [base, base+NumCells) seed the cells
  private val NProbe = 2

  /** The deterministic seed centroids, collected driver-side: k·dim
    * doubles (KBs) — the quantizer state any IVF index keeps resident. */
  private[graft] def seedCentroids(spark: SparkSession, d: String): Seq[Array[Double]] =
    vectors(spark, d)
      .filter(col("vec_id") >= CentroidBase && col("vec_id") < CentroidBase + NumCells)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray).toSeq

  /** One struct per centroid scoring `v`: (csim, -cid). Struct max order is
    * (csim DESC, then -cid DESC = cid ASC) — exactly the old window's
    * `orderBy(desc("csim"), asc("cid"))` tie-break, now as a projection. */
  private[graft] def centroidStructs(cents: Seq[Array[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (cv, cid) =>
      struct(
        call_function("cosine_sim", array(cv.toSeq.map(lit): _*), col("v")).as("csim"),
        lit(-cid).as("ncid"))
    }

  /** [[bestCentroid]] as the greatest of per-centroid literal structs —
    * ~k·dim literal nodes, the r7 formulation, kept ONLY as the parity
    * reference the kernel is spec'd bit-identical against (the pq_encode
    * convention). Not a production path: it was measured
    * FAILING Janino compilation at k=256 (any dim ≥ 64 — the constant
    * pool/64KB method blowout), which under default configs silently
    * interprets the hottest projection on the board (the
    * embed_gram_matrix 17x-cliff failure mode); SCALING.md records the
    * shape table. */
  private[graft] def bestCentroidStructs(cents: Seq[Array[Double]]): Column = {
    val ss = centroidStructs(cents)
    if (ss.length == 1) ss.head else greatest(ss: _*)
  }

  /** [[bestCentroid]] via the native `nearest_centroid` kernel: the whole
    * quantizer is ONE folded literal and the argmax one fused k·dim loop —
    * the expression tree is O(1) in quantizer size. Struct contract and
    * tie-breaks bit-identical to the literal-structs form (NativeKernelSpec
    * pins it; the whole IVF family's oracles re-verify through it). */
  private[graft] def bestCentroidKernel(cents: Seq[Array[Double]]): Column =
    call_function("nearest_centroid",
      typedLit(cents.map(_.toSeq)), col("v"))

  /** Argmax-cosine centroid assignment as a scan projection — a pure map,
    * zero corpus shuffle, at any quantizer size (the crossJoin +
    * Window.partitionBy("vec_id") argmax this family replaced shuffled the
    * whole corpus once). r13: the kernel IS the path at every size — it
    * measured no slower at the toy 16×64 shape and is the only formulation
    * that compiles at production shape (k ≥ 256; SCALING.md),
    * so there is no size dispatch to get wrong. */
  private[graft] def bestCentroid(cents: Seq[Array[Double]]): Column =
    bestCentroidKernel(cents)

  def annIvf(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val cents = seedCentroids(spark, d)
    // assignment: pure map — cells is a scan-projection of the corpus
    val cells = e.select(col("vec_id"), col("v"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
    // query probes: top-NProbe cells per query vector — sort the 16 literal
    // scores descending in the projection; NumQueries rows, still a map
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(slice(sort_array(array(centroidStructs(cents): _*), asc = false),
          1, NProbe)).as("sc"))
      .select(col("qid"), col("qv"), (-col("sc.ncid")).cast("long").as("cid"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "sim")
      .orderBy("qid", "rank")
  }

  val annIvfSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cid FROM asg WHERE vec_id < $NumQueries AND arn <= $NProbe),
       |s AS (SELECT qid, cell.vec_id, ${CosSqlFor("qv", "v")} AS sim FROM cell JOIN q USING (cid)),
       |r AS (SELECT qid, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM s)
       |SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_range_search ---------------------------------------------------
  // Radius (range) retrieval, the OTHER fundamental ANN query next to
  // top-k: every vector within cosine ≥ τ of each query, not the k
  // nearest — the ε-neighborhood primitive SemDeDup-style semantic dedup
  // and density estimation are built on. Same IVF machinery as ann_ivf
  // (literal-injected centroids → pure-map cell assignment, zero corpus
  // shuffle; queries probe their NProbe cells via the bounded broadcast),
  // but the reduction is a FILTER, not a rank window: no per-query sort at
  // all, so the probe is a one-pass scan-join-filter — strictly cheaper
  // than top-k at the same recall surface. τ matches the dedup family's
  // CosineTau so the returned neighborhoods are the ones dedup_embedding
  // verifies. Self-match (sim = 1) is kept: a range query answers "what
  // lies within ε", and the query vector itself does.
  private val RangeTau = 0.3

  def annRangeSearch(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val cents = seedCentroids(spark, d)
    val cells = e.select(col("vec_id"), col("v"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(slice(sort_array(array(centroidStructs(cents): _*), asc = false),
          1, NProbe)).as("sc"))
      .select(col("qid"), col("qv"), (-col("sc.ncid")).cast("long").as("cid"))
    cells.join(broadcast(probes), Seq("cid"))
      .withColumn("sim", cosExpr)
      .filter(col("sim") >= lit(RangeTau))
      .select("qid", "vec_id", "sim")
      .orderBy(asc("qid"), desc("sim"), asc("vec_id"))
  }

  val annRangeSearchSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cid FROM asg WHERE vec_id < $NumQueries AND arn <= $NProbe),
       |s AS (SELECT qid, cell.vec_id, ${CosSqlFor("qv", "v")} AS sim FROM cell JOIN q USING (cid))
       |SELECT qid, vec_id, sim FROM s WHERE sim >= $RangeTau
       |ORDER BY qid, sim DESC, vec_id""".stripMargin

  // --- embed_sim_hist -----------------------------------------------------
  // Pairwise-cosine histogram — the embedding-space collapse diagnostic
  // read before trusting ANY cosine threshold (dedup τ, range-search ε,
  // outlier cut): a healthy space concentrates mass near 0 with a thin
  // high-sim tail; a collapsed encoder piles mass at the top and every
  // τ-based screen silently degrades. Pairs are cell-blocked on the SAME
  // literal-injected IVF cells the ann/dedup family probes (≈ n²/cells
  // candidates, the accepted scale knob — never corpus²), the histogram is
  // one map-side-combinable groupBy onto ≤20 integer bins, empty bins are
  // emitted via a 20-row scaffold, and the share is one division of exact
  // BIGINTs on the report table. Binning is all-deterministic arithmetic
  // on the same sim doubles both engines compute bitwise-identically.
  private val SimHistBins = 20

  def embedSimHist(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val cents = seedCentroids(spark, d)
    val cells = e.select(col("vec_id"), col("v"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
    val a = cells.select(col("cid"), col("vec_id").as("ida"), col("v").as("qv"))
    val b = cells.select(col("cid"), col("vec_id").as("idb"), col("v"))
    val hist = a.join(b, Seq("cid")).filter(col("ida") < col("idb"))
      .withColumn("sim", cosExpr)
      .select(least(lit((SimHistBins - 1).toLong),
        floor((col("sim") + lit(1.0)) * 10.0).cast("long")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val grid = spark.range(0, SimHistBins.toLong).select(col("id").as("bin"))
    val full = grid.join(hist, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
    val tot = full.agg(sum(col("n_pairs")).as("tot"))
    full.crossJoin(tot)
      .select(col("bin"), (col("bin") / 10.0 - 1.0).as("lo"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("tot").cast("double")).as("share"))
      .orderBy("bin")
  }

  val embedSimHistSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |p AS (SELECT least(${SimHistBins - 1},
       |        CAST(floor((${CosSqlFor("a.v", "b.v")} + 1.0) * 10.0) AS BIGINT)) AS bin
       |      FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1),
       |g AS (SELECT CAST(unnest(range(0, $SimHistBins)) AS BIGINT) AS bin),
       |f AS (SELECT g.bin, COALESCE(n_pairs, 0) AS n_pairs FROM g LEFT JOIN h ON g.bin = h.bin)
       |SELECT bin, bin/10.0 - 1.0 AS lo, CAST(n_pairs AS BIGINT) AS n_pairs,
       | CAST(n_pairs AS DOUBLE)/CAST((SELECT sum(n_pairs) FROM f) AS DOUBLE) AS share
       |FROM f ORDER BY bin""".stripMargin

  // --- ann_nprobe_sweep ---------------------------------------------------
  // The IVF cost/recall knob measured, not guessed (dedup_lsh_tune's ANN
  // twin): for nprobe ∈ {1, 2, 4}, how many candidates each setting scores
  // and what fraction of the exact top-k it recovers. This is the curve a
  // vector-search deployment reads before fixing nprobe — candidates grow
  // ~linearly with nprobe while recall saturates; the knee is data-
  // dependent. One cell-assignment projection (literal centroids, pure
  // map) feeds all three configs; the exact reference is the brute-force
  // top-k. Counts are exact integers; recall is one final division.
  def annNprobeSweep(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val cents = seedCentroids(spark, d)
    val cells = e.select(col("vec_id"), col("v"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
    val exact = annBruteforce(spark, d).select(col("qid"), col("vec_id"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    Seq(1, 2, 4).map { np =>
      val probes = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          explode(slice(sort_array(array(centroidStructs(cents): _*), asc = false),
            1, np)).as("sc"))
        .select(col("qid"), col("qv"), (-col("sc.ncid")).cast("long").as("cid"))
      val scored = cells.join(broadcast(probes), Seq("cid"))
      val topk = scored
        .withColumn("sim", cosExpr)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("qid"), col("vec_id"))
      scored.agg(count(lit(1)).as("n_scored"))
        .crossJoin(topk.join(exact, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_recovered")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit(np.toLong).as("nprobe"), col("n_scored"),
          col("n_exact"), col("n_recovered"),
          (col("n_recovered").cast("double") / col("n_exact")).as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  val annNprobeSweepSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |exq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |exs AS (SELECT qid, e2.vec_id, ${CosSqlFor("qv", "v")} AS sim FROM e AS e2 CROSS JOIN exq),
       |exact AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk FROM exs)
       |  WHERE rnk <= $K),
       |nx AS (SELECT count(*) AS n_exact FROM exact),
       |cfg(np) AS (VALUES (1), (2), (4)),
       |q AS (SELECT np, vec_id AS qid, v AS qv, cid FROM asg, cfg
       |      WHERE vec_id < $NumQueries AND arn <= np),
       |scored AS (SELECT np, qid, qv, cell.vec_id, cell.v FROM cell JOIN q USING (cid)),
       |topk AS (SELECT np, qid, vec_id FROM (
       |    SELECT np, qid, vec_id,
       |      row_number() OVER (PARTITION BY np, qid ORDER BY ${CosSqlFor("qv", "v")} DESC, vec_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $K),
       |agg AS (SELECT np, CAST(count(*) AS BIGINT) AS n_scored FROM scored GROUP BY 1),
       |rec AS (SELECT np, CAST(count(*) AS BIGINT) AS n_recovered
       |  FROM topk WHERE EXISTS (SELECT 1 FROM exact WHERE exact.qid = topk.qid AND exact.vec_id = topk.vec_id)
       |  GROUP BY 1)
       |SELECT CAST(agg.np AS BIGINT) AS nprobe, n_scored,
       | CAST(n_exact AS BIGINT) AS n_exact,
       | coalesce(n_recovered, 0) AS n_recovered,
       | CAST(coalesce(n_recovered, 0) AS DOUBLE)/n_exact AS recall
       |FROM agg LEFT JOIN rec USING (np), nx ORDER BY nprobe""".stripMargin

  // --- persisted IVF cell layout (r9, verdict #6) -------------------------
  /** The corpus in IVF cell layout: (vec_id, v, cid) with assignment still
    * a pure scan projection. `Sinks.writeIvfCells` persists this partitioned
    * by `cid` — the billion-vector deployment shape the in-memory `ann_ivf`
    * models: there, cells are recomputed per query batch; here they are
    * STORAGE, and a probe reads only its nprobe cell directories (partition
    * pruning — SimilaritySpec asserts the executed scan's file count equals
    * the probed directories' files, not the corpus's).
    */
  def ivfCells(spark: SparkSession, d: String): DataFrame = {
    val cents = seedCentroids(spark, d)
    vectors(spark, d).select(col("vec_id"), col("v"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
  }

  /** Driver-side probe plan for one query id: its NProbe nearest cell ids.
    * Pure quantizer math over k·dim doubles — the resident state any IVF
    * index keeps; no corpus access beyond fetching the one query vector.
    */
  def probeCells(spark: SparkSession, d: String, qid: Long): Seq[Long] = {
    val cents = seedCentroids(spark, d)
    val qv = vectors(spark, d).filter(col("vec_id") === qid)
      .head.getSeq[Double](1).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    cents.zipWithIndex
      .map { case (c, cid) => (cos(qv, c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }
      .take(NProbe).map(_._2.toLong)
  }

  // --- ann_ivf_layout -----------------------------------------------------
  // The PERSISTED-index ANN probe, oracle-covered end to end (the
  // similarity-side twin of the persisted-index dedup_incremental probe):
  // the cell layout is a Memo layout, written once per (session, corpus)
  // to [[ivfLayoutDir]] via `Sinks.writeIvfCells` (cid-partitioned
  // directories), and every query's probe reads ONLY its
  // NProbe `cid=` directories — partition pruning does what the in-memory
  // ann_ivf's join does, at storage level, which is the billion-vector
  // deployment shape. Probe planning is pure driver-side quantizer math
  // over the resident centroid array plus ONE NumQueries-row collect of
  // the query vectors; the result contract is identical to ann_ivf, so
  // one oracle SQL serves both. The whole batch is ONE job (r13, verdict
  // #4 — the r12 form unioned a scan branch per query, a driver-side
  // plan-size and job-launch ceiling at real batch sizes): the scan reads
  // the UNION of probed `cid=` directories once via a literal partition
  // predicate, a broadcast (qid, cid, qv) probe table fans each cell's
  // rows out to exactly the queries that probed it, and one per-qid
  // rank window cuts top-K — overlapping probes now read shared cells
  // once instead of once per query.
  private[graft] def ivfLayoutDir(spark: SparkSession, d: String): String =
    Memo.layoutDir(spark, d, "ivf")

  def annIvfLayout(spark: SparkSession, d: String): DataFrame = {
    val path = Memo.layout(spark, d, "ivf") {
      val p = ivfLayoutDir(spark, d)
      graft.sources.Sinks.writeIvfCells(ivfCells(spark, d), p)
      p
    }
    val cents = seedCentroids(spark, d)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    // one collect for ALL query vectors (NumQueries rows — resident-state
    // scale), instead of per-qid head() jobs
    val qvs = vectors(spark, d).filter(col("vec_id") < NumQueries)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray))
    // driver-side probe plan: (qid, cid, qv) — NumQueries·NProbe rows of
    // resident-state scale, broadcast as the fan-out dim of the one scan
    val probePlan = qvs.flatMap { case (qid, qv) =>
      cents.zipWithIndex
        .map { case (c, cid) => (cos(qv, c), cid) }
        .sortBy { case (s, cid) => (-s, cid) }
        .take(NProbe)
        .map { case (_, cid) => (qid, cid.toLong, qv.toSeq) }
    }
    import spark.implicits._
    val probes = probePlan.toSeq.toDF("qid", "cid", "qv")
    val allCids = probePlan.map(_._2).distinct.sorted
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    spark.read.parquet(path)
      .filter(col("cid").isin(allCids: _*)) // literal partition predicate
      .join(broadcast(probes), Seq("cid"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "sim")
      .orderBy("qid", "rank")
  }

  /** Top-k for one query against a PERSISTED cell layout. The `cid` filter
    * is a literal partition predicate, so the parquet scan lists only the
    * probed `cid=` directories; ranking is TakeOrderedAndProject (never a
    * global sort). Ties break exactly like `ann_ivf` (sim DESC, vec_id).
    */
  def annIvfFromLayout(spark: SparkSession, layoutPath: String, d: String,
      qid: Long): DataFrame = {
    val cids = probeCells(spark, d, qid)
    val qv = vectors(spark, d).filter(col("vec_id") === qid).head.getSeq[Double](1)
    spark.read.parquet(layoutPath)
      .filter(col("cid").isin(cids: _*))
      .withColumn("qv", array(qv.map(lit): _*))
      .withColumn("sim", cosExpr)
      .orderBy(desc("sim"), asc("vec_id")).limit(K)
      .select(lit(qid).as("qid"), col("vec_id"), col("sim"))
  }

  /** Lloyd-iteration centroid training for IVF — the scale path the
    * `ann_ivf` Scaladoc promises ("at scale you'd swap in k-means‖
    * centroids"). Each round: assign every vector to its nearest centroid
    * (broadcast centroids, map-side), then recompute centroids as per-cell
    * means (one map-side-combinable groupBy). Centroids live in a
    * driver-side array between rounds — k·dim doubles, a few hundred KB
    * even for thousands of cells — and the corpus itself never shuffles.
    * Initial centroids are the deterministic seed set (in production:
    * k-means‖ oversampling). This raw-float trainer is not oracle-covered
    * because unquantized float mean ACCUMULATION is partition-order-
    * dependent — SimilaritySpec asserts the training objective (mean
    * assigned cosine) improves instead. The train → literal-inject →
    * assign loop itself IS oracle-covered via `embed_cluster_trained`,
    * which runs the exact-integer Lloyd step (embed_kmeans_step) and
    * verifies the trained quantizer's assignment.
    */
  def trainCentroids(spark: SparkSession, d: String, k: Int = NumCells,
      rounds: Int = 5, init: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    val e = vectors(spark, d)
    var centroids = init.getOrElse(e
      .filter(col("vec_id") >= CentroidBase && col("vec_id") < CentroidBase + k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray))
    for (_ <- 0 until rounds) {
      // literal-centroid argmax in the project list — the corpus never
      // shuffles vectors; the only exchange is the k-key mean groupBy
      val assigned = e.select(col("v"),
        (-bestCentroid(centroids.toSeq).getField("ncid")).as("cid"))
      // per-cell mean vector: one groupBy with an elementwise array average
      val dims = centroids.head.length
      val means = assigned.groupBy("cid")
        .agg(count(lit(1)).as("n"),
          (0 until dims).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i")): _*)
        .collect()
      means.foreach { r =>
        val cid = r.getAs[Int]("cid")
        val n = r.getAs[Long]("n").toDouble
        centroids(cid) = (0 until dims).map(i => r.getAs[Double](s"s$i") / n).toArray
      }
    }
    centroids
  }

  /** Mean cosine between each vector and its assigned centroid — the
    * k-means objective, used by specs to show training improves the
    * quantizer.
    */
  def assignmentObjective(spark: SparkSession, d: String,
      centroids: Array[Array[Double]]): Double =
    vectors(spark, d)
      .select(bestCentroid(centroids.toSeq).getField("csim").as("best"))
      .agg(avg(col("best"))).head.getDouble(0)

  /** k-means‖ initialization (Bahmani et al., VLDB 2012) — the production
    * quantizer-seeding path the `ann_ivf`/`trainCentroids` Scaladoc
    * promises. Each of the few oversampling steps scores the whole corpus
    * against the current candidate set (broadcast, map-side — the corpus
    * never shuffles) and samples points with probability proportional to
    * their squared distance ℓ·d²(x,C)/ψ; the candidate set is then reduced
    * to k by a driver-side weighted farthest-point pass + weighted Lloyd
    * over the candidates (|C| ≈ ℓ·steps rows — driver-trivial).
    *
    * Deterministic by construction: the "random" draw is a hash fraction
    * (xxhash64(vec_id, step) mapped to [0,1)), so the same corpus always
    * yields the same seeds — reproducible jobs, spec-checkable output.
    * Distance is the cosine distance 1 − cos(x, c), matching the IVF
    * assignment metric.
    */
  def initCentroidsParallel(spark: SparkSession, d: String, k: Int = NumCells,
      oversample: Int = 2 * NumCells, steps: Int = 3): Array[Array[Double]] = {
    val e = vectors(spark, d)
    // seed candidate: the minimum vec_id (any deterministic point works)
    var cands = e.orderBy("vec_id").limit(1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toVector
    for (step <- 1 to steps) {
      val scored = e.select(col("vec_id"), col("v"),
          bestCentroid(cands.map(_._2)).getField("csim").as("best"))
        .withColumn("d2", pow(lit(1.0) - col("best"), 2))
      val psi = scored.agg(sum(col("d2"))).head.getDouble(0)
      if (psi > 0) {
        val u = (abs(xxhash64(col("vec_id"), lit(step))) % 1000000L) / lit(1000000.0)
        val picked = scored
          .filter(u < least(lit(1.0), lit(oversample.toDouble) * col("d2") / lit(psi)))
          .select("vec_id", "v").collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        val known = cands.map(_._1).toSet
        cands = cands ++ picked.filterNot(p => known(p._1)).sortBy(_._1)
      }
    }
    // weight each candidate by how much of the corpus it attracts
    val weights = e
      .select((-bestCentroid(cands.map(_._2)).getField("ncid")).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Int]("cid") -> r.getAs[Long]("n").toDouble).toMap
    reduceCandidates(cands.map(_._2).toArray,
      cands.indices.map(i => weights.getOrElse(i, 0.0)).toArray, k)
  }

  /** Driver-side deterministic weighted reduction of the oversampled
    * candidate set to k centers: weighted farthest-point seeding (pick the
    * heaviest, then repeatedly the candidate maximizing w·d² to the chosen
    * set) followed by a few weighted Lloyd rounds over the candidates. */
  private def reduceCandidates(cands: Array[Array[Double]],
      w: Array[Double], k: Int): Array[Array[Double]] = {
    val dims = cands.head.length
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    if (cands.length <= k) return cands
    val chosen = scala.collection.mutable.ArrayBuffer(w.indices.maxBy(i => (w(i), -i)))
    while (chosen.length < k) {
      val next = cands.indices.filterNot(chosen.contains)
        .maxBy { i =>
          val d2 = chosen.map(c => { val dd = 1.0 - cos(cands(i), cands(c)); dd * dd }).min
          (w(i) * d2, -i) // deterministic tiebreak
        }
      chosen += next
    }
    var centers = chosen.map(cands(_)).toArray
    for (_ <- 0 until 3) { // weighted Lloyd over the candidate set
      val sums = Array.fill(k)(new Array[Double](dims))
      val cnt = new Array[Double](k)
      cands.indices.foreach { i =>
        val a = centers.indices.maxBy(c => (cos(cands(i), centers(c)), -c))
        cnt(a) += w(i)
        var j = 0
        while (j < dims) { sums(a)(j) += w(i) * cands(i)(j); j += 1 }
      }
      centers = centers.indices.map { c =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else centers(c)
      }.toArray
    }
    centers
  }

  // --- ann_recall ---------------------------------------------------------
  // Recall@k of the approximate paths against the exact baseline — the
  // evaluation an ANN deployment runs before trusting its index. Per query:
  // hits = |approx ∩ exact top-k|, recall = hits / k (single division of
  // exact integers). Composes the four existing deterministic operators
  // (lsh, ivf, int8-quantized, pq), so the metric itself is exactly
  // reproducible — at scale this runs on a sampled query set while the
  // index serves the rest.
  def annRecall(spark: SparkSession, d: String): DataFrame = {
    // The exact baseline is the semi-join build side of all FIVE method
    // branches, and an unpersisted subtree re-runs the full bruteforce
    // (corpus × queries cosine top-k) once per branch. Above the leaf
    // floor it is a Memo frame counted at build, so it is computed ONCE;
    // the relation is NumQueries×K rows (report-sized at any SF — the
    // query set is static). Below the floor the five redundant
    // bruteforces run CONCURRENTLY across idle cores and beat the
    // serialized persist (sf0.1: 2.60 lazy vs 3.14 persisted).
    val exact = Memo.atScale(spark, d, "ann_recall_exact")(
      annBruteforce(spark, d).select(col("qid"), col("vec_id")))
    // The PQ ranking feeds BOTH the pq branch (rank ≤ K) and the refine
    // shortlist (rank ≤ RefineM ≥ K — same window, deeper cut), so one
    // shared ranking replaces two full PQ pipelines (encode + corpus ×
    // queries ADC scoring). Report-sized: NumQueries × RefineM rows. It is
    // pinned exactly when the baseline is, and after it: bruteforce and
    // the PQ window pipeline peaking together on top of the warm family
    // memos exceeded the 12 GB bench heap at sf10.
    def pqLazy = pqRanked(spark, d, RefineM).select("qid", "vec_id", "rank")
    val pqTop =
      if (exact.storageLevel == StorageLevel.NONE) pqLazy
      else Memo.frame(spark, d, "ann_recall_pq_top", count = true)(pqLazy)
    // Every query appears in the report even when the index returned NOTHING
    // that overlaps the exact top-k — recall-0 queries are the exact ones an
    // ANN evaluation exists to surface, and a groupBy over the hit rows
    // alone would silently drop them. The qid universe is the static query
    // range, so the left join's build side is NumQueries rows (broadcast).
    def recallOf(approx: DataFrame, method: String): DataFrame = {
      val hits = approx.select(col("qid"), col("vec_id"))
        .join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      spark.range(NumQueries).select(col("id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(method).as("method"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / K).as("recall"))
    }
    recallOf(annLsh(spark, d), "lsh")
      .unionByName(recallOf(annIvf(spark, d), "ivf"))
      .unionByName(recallOf(annQuantized(spark, d), "quantized"))
      .unionByName(recallOf(pqTop.filter(col("rank") <= K), "pq"))
      .unionByName(recallOf(
        annRefineFrom(spark, d, pqTop.select("qid", "vec_id")), "pq_refine"))
      .orderBy("method", "qid")
  }

  // One WITH holding all three top-k constructions verbatim (shared `e`),
  // then the semi-join + count. Kept literal rather than assembled from
  // the other SQL strings — a regex rename of one-letter CTE aliases would
  // be far too easy to silently break.
  val annRecallSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |xq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |xs AS (SELECT qid, vec_id, ${CosSqlFor("qv", "v")} AS sim FROM e CROSS JOIN xq),
       |xtop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM xs)
       |  WHERE rank <= $K),
       |lb AS (SELECT vec_id, v,
       |  list_reduce(list_transform(range(1, 9), i -> CASE WHEN v[CAST(i AS INT)] >= 0 THEN '1' ELSE '0' END), (a, x) -> a||x) AS bucket FROM e),
       |lq AS (SELECT vec_id AS qid, v AS qv, bucket FROM lb WHERE vec_id < $NumQueries),
       |ls AS (SELECT qid, lb.vec_id, ${CosSqlFor("qv", "v")} AS sim FROM lb JOIN lq USING (bucket)),
       |ltop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM ls)
       |  WHERE rank <= $K),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |iq AS (SELECT vec_id AS qid, v AS qv, cid FROM asg WHERE vec_id < $NumQueries AND arn <= $NProbe),
       |iv AS (SELECT qid, cell.vec_id, ${CosSqlFor("qv", "v")} AS sim FROM cell JOIN iq USING (cid)),
       |itop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM iv)
       |  WHERE rank <= $K),
       |qsc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
       |qqn AS (SELECT vec_id, [CAST(floor((x * 127.0) / sc) AS BIGINT) FOR x IN v] AS q FROM qsc WHERE sc > 0),
       |qqs AS (SELECT vec_id AS qid, q AS qq FROM qqn WHERE vec_id < $NumQueries),
       |qd AS (SELECT qid, vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), [qq[CAST(k AS INT)]*q[CAST(k AS INT)] FOR k IN range(1,${Dim + 1})]), (a, x) -> a + x) AS score
       |  FROM qqn CROSS JOIN qqs),
       |qtop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank FROM qd)
       |  WHERE rank <= $K),
       |pcw AS (SELECT cid, s, [cv[CAST(s*$PqSubDim + i AS INT)] FOR i IN range(1, ${PqSubDim + 1})] AS w
       |        FROM c, range(0, $PqSub) t(s)),
       |penc AS (SELECT vec_id, s, cid AS pcode, row_number() OVER (PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0, [(v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) * (v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x), cid) AS rn
       |  FROM e CROSS JOIN pcw),
       |pcd AS (SELECT vec_id, s, pcode FROM penc WHERE rn = 1),
       |ppart AS (SELECT xq.qid, pcd.vec_id, pcd.s,
       |    list_reduce(list_prepend(0.0, [qv[CAST(pcd.s*$PqSubDim + i AS INT)] * w[CAST(i AS INT)] FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x) AS dt
       |  FROM pcd JOIN pcw ON pcw.s = pcd.s AND pcw.cid = pcd.pcode CROSS JOIN xq),
       |psc AS (SELECT qid, vec_id, list_reduce(list_prepend(0.0, list(dt ORDER BY s)), (a, x) -> a + x) AS score
       |        FROM ppart GROUP BY qid, vec_id),
       |ptop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank FROM psc)
       |  WHERE rank <= $K),
       |pshort AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank FROM psc)
       |  WHERE rank <= $RefineM),
       |pex AS (SELECT pshort.qid, pshort.vec_id, ${CosSqlFor("qv", "v")} AS sim
       |        FROM pshort JOIN e ON e.vec_id = pshort.vec_id JOIN xq ON xq.qid = pshort.qid),
       |prtop AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM pex)
       |  WHERE rank <= $K),
       |u AS (SELECT 'lsh' AS method, qid, vec_id FROM ltop
       |      UNION ALL SELECT 'ivf', qid, vec_id FROM itop
       |      UNION ALL SELECT 'quantized', qid, vec_id FROM qtop
       |      UNION ALL SELECT 'pq', qid, vec_id FROM ptop
       |      UNION ALL SELECT 'pq_refine', qid, vec_id FROM prtop),
       |hit AS (SELECT method, u.qid, count(*) AS hits
       |        FROM u JOIN xtop x ON u.qid = x.qid AND u.vec_id = x.vec_id
       |        GROUP BY 1, 2),
       |qm AS (SELECT CAST(range AS BIGINT) AS qid, method
       |       FROM range(0, $NumQueries) CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'ivf' UNION ALL SELECT 'quantized' UNION ALL SELECT 'pq' UNION ALL SELECT 'pq_refine'))
       |SELECT qm.qid, qm.method, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(h.hits, 0) AS DOUBLE) / $K AS recall
       |FROM qm LEFT JOIN hit h ON h.qid = qm.qid AND h.method = qm.method
       |ORDER BY qm.method, qm.qid""".stripMargin

  // --- ann_quantized ------------------------------------------------------
  // Int8-quantized brute-force top-k — the memory-bound scale path real
  // vector stores ship (FAISS SQ8-style scalar quantization): each vector
  // is quantized per-vector-symmetric to 8-bit ints, q_i = floor(v_i·127 /
  // max|v|), and scoring is an INTEGER dot product (MIPS ranking — equal
  // to cosine ranking here because the corpus embeddings are unit-norm,
  // which is also why the self-hit survives quantization) — 8× smaller resident
  // vectors and SIMD-friendly integer math, at a small recall cost
  // (ann_recall's harness applies unchanged if wired to this method).
  // Exactness: quantization is floor() of one double product-then-divide
  // (identical IEEE sequence in both engines — the repo's floor-rounding
  // strategy), and scores are pure BIGINT sums, so ranks carry no float
  // ties at all. Scale shape = ann_bruteforce's: quantization is a pure
  // map in the scan's project list, the tiny quantized query set
  // broadcasts (size-BOUNDED: NumQueries rows — audited in
  // tools/broadcast_allowlist.txt), the corpus never shuffles, and only
  // (queries × k) rows leave the per-partition top-k.
  def annQuantized(spark: SparkSession, d: String): DataFrame = {
    val qn = vectors(spark, d)
      .withColumn("sc", array_max(expr("transform(v, x -> abs(x))")))
      .filter(col("sc") > 0)
      .select(col("vec_id"),
        expr("transform(v, x -> CAST(floor((x * 127.0D) / sc) AS BIGINT))").as("q"))
    val qs = qn.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    qn.crossJoin(broadcast(qs))
      // native dot_i64 kernel — the codegen'd form of
      // aggregate(zip_with(qq, q, (x,y) -> x*y), 0L, (a,x) -> a+x);
      // integer addition is associative, so the sums agree exactly
      .withColumn("score", expr("dot_i64(qq, q)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "score")
      .orderBy("qid", "rank")
  }

  val annQuantizedSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
       |qn AS (SELECT vec_id, [CAST(floor((x * 127.0) / sc) AS BIGINT) FOR x IN v] AS q FROM s WHERE sc > 0),
       |qs AS (SELECT vec_id AS qid, q AS qq FROM qn WHERE vec_id < $NumQueries),
       |d AS (SELECT qid, vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), [qq[CAST(k AS INT)]*q[CAST(k AS INT)] FOR k IN range(1,${Dim + 1})]), (a, x) -> a + x) AS score
       |  FROM qn CROSS JOIN qs),
       |r AS (SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank FROM d)
       |SELECT qid, rank, vec_id, score FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_pq -------------------------------------------------------------
  // Product-quantized ANN (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ memory path): the
  // 64-dim vector splits into 8 contiguous 8-dim subvectors; each subspace
  // quantizes independently against its own 16-codeword codebook, so a
  // corpus vector's RESIDENT form is 8 code nibbles — 64× smaller than the
  // doubles, 8× smaller than ann_quantized's int8 — and scoring is ADC
  // (asymmetric distance computation): the RAW query subvectors dot the
  // doc's codewords, summed over subspaces.
  // Codebooks are deterministic — subspace s's codewords are the 16 IVF
  // seed centroids' s-th subvectors — so the oracle replicates them
  // exactly; at scale you'd train per-subspace k-means (the trainCentroids
  // shape, once per subspace) and inject the trained books the same way
  // (8×16×8 doubles = KBs, literal or broadcast).
  // Scale shape: encoding = argmin-L2 over 16 literal codewords per
  // subspace in the scan's project list (a pure map, like ann_ivf's
  // assignment — zero corpus shuffle); the scored corpus is (vec_id,
  // codes) — the vectors themselves never reach the scoring join; the
  // NumQueries-row query set broadcasts; the codebook rides along as a
  // literal nested-array lookup. ann_bruteforce's plan over a 64×-smaller
  // resident corpus.
  // Exactness: squared-L2 encoding distances and ADC dots are fixed
  // left-to-right IEEE folds (the unrolled sum associates identically to
  // the oracle's 0.0-seeded list_reduce because every first term is a
  // square, never -0.0); argmin ties break to the smaller code in both
  // engines.
  // PqSub/PqSubDim live with Dim at the top of the object (initialization
  // order); codewords per subspace = NumCells (the seed-centroid count)

  /** Codebooks: CB(s)(c) = seed centroid c's s-th subvector. */
  private[graft] def pqCodebooks(cents: Seq[Array[Double]]): Seq[Seq[Array[Double]]] =
    (0 until PqSub).map(s => cents.map(_.slice(s * PqSubDim, (s + 1) * PqSubDim)))

  /** Code for subspace s: argmin squared-L2 over the literal codewords,
    * smaller code on ties — struct MIN over (d2, code), the minimizing
    * mirror of bestCentroid's `greatest` trick. */
  private[graft] def pqCode(cb: Seq[Array[Double]], s: Int): Column = {
    val ss = cb.zipWithIndex.map { case (w, c) =>
      val d2 = (0 until PqSubDim).map { i =>
        val diff = element_at(col("v"), s * PqSubDim + i + 1) - lit(w(i))
        diff * diff
      }.reduce(_ + _)
      struct(d2.as("d2"), lit(c).as("code"))
    }
    (if (ss.length == 1) ss.head else least(ss: _*)).getField("code")
  }

  /** PQ ADC-ranked candidates per query (qid, rank, vec_id, score), the
    * shared stage behind [[annPq]] (m = K) and [[annRefine]] (m = RefineM).
    */
  private def pqRanked(spark: SparkSession, d: String, m: Int): DataFrame = {
    val e = vectors(spark, d)
    val cb = pqCodebooks(seedCentroids(spark, d))
    val cbArg = array(cb.map(sub =>
      array(sub.map(w => array(w.toSeq.map(lit): _*)): _*)): _*)
    // encoding: pure map via the native pq_encode kernel — the composable
    // least-of-structs formulation ([[pqCode]], kept for the kernel-
    // equality spec) builds a ~1000-node expression tree per row that
    // dominated the family's runtime
    val codes = e.select(col("vec_id"),
      call_function("pq_encode", col("v"), cbArg).as("code"))
    val qs = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cbLit = array(cb.map(sub =>
      array(sub.map(w => array(w.toSeq.map(lit): _*)): _*)): _*)
    // ADC score: Σ_s dot(query subvector s, codeword CB[s][code_s]) — the
    // subspace sum is an ascending left fold, same order as the oracle's
    // ordered-list fold
    val score = (0 until PqSub).map { s =>
      aggregate(
        zip_with(
          slice(col("qv"), s * PqSubDim + 1, PqSubDim),
          element_at(element_at(cbLit, s + 1), element_at(col("code"), s + 1) + 1),
          (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    }.reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    codes.crossJoin(broadcast(qs))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
  }

  def annPq(spark: SparkSession, d: String): DataFrame =
    pqRanked(spark, d, K)
      .select("qid", "rank", "vec_id", "score")
      .orderBy("qid", "rank")

  val annPqSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |cw AS (SELECT cid, s, [cv[CAST(s*$PqSubDim + i AS INT)] FOR i IN range(1, ${PqSubDim + 1})] AS w
       |       FROM c, range(0, $PqSub) t(s)),
       |enc AS (SELECT vec_id, s, cid AS code, row_number() OVER (PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0, [(v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) * (v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x), cid) AS rn
       |  FROM e CROSS JOIN cw),
       |code AS (SELECT vec_id, s, code FROM enc WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |part AS (SELECT qid, code.vec_id, code.s,
       |    list_reduce(list_prepend(0.0, [qv[CAST(code.s*$PqSubDim + i AS INT)] * w[CAST(i AS INT)] FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x) AS dt
       |  FROM code JOIN cw ON cw.s = code.s AND cw.cid = code.code CROSS JOIN q),
       |sc AS (SELECT qid, vec_id, list_reduce(list_prepend(0.0, list(dt ORDER BY s)), (a, x) -> a + x) AS score
       |       FROM part GROUP BY qid, vec_id),
       |r AS (SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank FROM sc)
       |SELECT qid, rank, vec_id, score FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_ivfpq ----------------------------------------------------------
  // IVF + PQ fused — the canonical billion-scale index shape (FAISS
  // IndexIVFPQ; Jégou et al. TPAMI'11 §VI): the corpus row's RESIDENT
  // state is (cell id, 8 code nibbles) — coarse quantizer for pruning,
  // product codes for memory — each query probes only its NProbe cells
  // and pays ADC scoring on ~NProbe/NumCells of the corpus instead of
  // all of it (ann_pq scans every code; ann_ivf stores full vectors —
  // this is the missing fusion both deployments actually ship).
  // Exactness: cell assignment and probe choice are ann_ivf's exact
  // machinery, codes are pq_encode's deterministic argmin, the ADC sum
  // is the same ascending subspace fold as ann_pq — no new float paths.
  // Scale shape: assignment + encoding are ONE scan projection (pure
  // map); the probe set is NumQueries·NProbe rows (bounded broadcast,
  // allowlisted); the cid equijoin prunes the corpus to probed cells
  // BEFORE any scoring; only (queries × K) rows survive the window.
  def annIvfPq(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val cents = seedCentroids(spark, d)
    val cb = pqCodebooks(cents)
    val cbLit = array(cb.map(sub =>
      array(sub.map(w => array(w.toSeq.map(lit): _*)): _*)): _*)
    val corpus = e.select(col("vec_id"),
      (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"),
      call_function("pq_encode", col("v"), cbLit).as("code"))
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(slice(sort_array(array(centroidStructs(cents): _*), asc = false),
          1, NProbe)).as("sc"))
      .select(col("qid"), col("qv"), (-col("sc.ncid")).cast("long").as("cid"))
    val score = (0 until PqSub).map { s =>
      aggregate(
        zip_with(
          slice(col("qv"), s * PqSubDim + 1, PqSubDim),
          element_at(element_at(cbLit, s + 1), element_at(col("code"), s + 1) + 1),
          (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    }.reduce(_ + _)
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    corpus.join(broadcast(probes), Seq("cid"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "score")
      .orderBy("qid", "rank")
  }

  val annIvfPqSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |cw AS (SELECT cid, s, [cv[CAST(s*$PqSubDim + i AS INT)] FOR i IN range(1, ${PqSubDim + 1})] AS w
       |       FROM c, range(0, $PqSub) t(s)),
       |enc AS (SELECT vec_id, s, cw.cid AS code, row_number() OVER (PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0, [(v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) * (v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x), cw.cid) AS rn
       |  FROM e CROSS JOIN cw),
       |code AS (SELECT vec_id, s, code FROM enc WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, cid FROM asg WHERE vec_id < $NumQueries AND arn <= $NProbe),
       |part AS (SELECT q.qid, cell.vec_id, code.s,
       |    list_reduce(list_prepend(0.0, [qv[CAST(code.s*$PqSubDim + i AS INT)] * w[CAST(i AS INT)] FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x) AS dt
       |  FROM cell JOIN q USING (cid)
       |  JOIN code ON code.vec_id = cell.vec_id
       |  JOIN cw ON cw.s = code.s AND cw.cid = code.code),
       |sc AS (SELECT qid, vec_id, list_reduce(list_prepend(0.0, list(dt ORDER BY s)), (a, x) -> a + x) AS score
       |       FROM part GROUP BY qid, vec_id),
       |r AS (SELECT qid, vec_id, score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank FROM sc)
       |SELECT qid, rank, vec_id, score FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- ann_refine ---------------------------------------------------------
  // PQ shortlist + exact re-rank — the two-stage refine deployment every
  // production PQ index runs (FAISS IndexRefineFlat; Jégou et al.
  // TPAMI'11 §V's re-ranking): codes give a memory-bound RefineM-deep
  // shortlist per query, then exact cosine is paid on ONLY RefineM rows
  // per query instead of the corpus. Re-ranking recovers most of the
  // recall the 64× code compression gives up — ann_recall reports the
  // pq vs pq_refine gap directly.
  // Scale shape: stage 1 is ann_pq's plan (codes crossJoin the broadcast
  // NumQueries-row query set — the corpus never shuffles, scores rank in
  // a per-qid window); stage 2 joins the (NumQueries·RefineM)-row
  // shortlist back to the vector table hashed on vec_id — AQE broadcasts
  // the shortlist from observed size; full vectors are touched only for
  // shortlisted ids (a columnar scan prunes the rest).
  def annRefine(spark: SparkSession, d: String): DataFrame =
    annRefineFrom(spark, d, pqRanked(spark, d, RefineM).select("qid", "vec_id"))

  /** Exact rerank of a (qid, vec_id) shortlist — annRefine's second stage,
    * factored out so ann_recall can feed it the SHARED pq ranking instead
    * of re-running the whole PQ pipeline (r19). */
  private def annRefineFrom(spark: SparkSession, d: String,
      shortlist: DataFrame): DataFrame = {
    val e = vectors(spark, d)
    val qs = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    shortlist
      .join(e, Seq("vec_id"))
      .join(broadcast(qs), Seq("qid"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select("qid", "rank", "vec_id", "sim")
      .orderBy("qid", "rank")
  }

  val annRefineSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |cw AS (SELECT cid, s, [cv[CAST(s*$PqSubDim + i AS INT)] FOR i IN range(1, ${PqSubDim + 1})] AS w
       |       FROM c, range(0, $PqSub) t(s)),
       |enc AS (SELECT vec_id, s, cid AS code, row_number() OVER (PARTITION BY vec_id, s ORDER BY
       |    list_reduce(list_prepend(0.0, [(v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) * (v[CAST(s*$PqSubDim + i AS INT)] - w[CAST(i AS INT)]) FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x), cid) AS rn
       |  FROM e CROSS JOIN cw),
       |code AS (SELECT vec_id, s, code FROM enc WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |part AS (SELECT qid, code.vec_id, code.s,
       |    list_reduce(list_prepend(0.0, [qv[CAST(code.s*$PqSubDim + i AS INT)] * w[CAST(i AS INT)] FOR i IN range(1, ${PqSubDim + 1})]), (a, x) -> a + x) AS dt
       |  FROM code JOIN cw ON cw.s = code.s AND cw.cid = code.code CROSS JOIN q),
       |sc AS (SELECT qid, vec_id, list_reduce(list_prepend(0.0, list(dt ORDER BY s)), (a, x) -> a + x) AS score
       |       FROM part GROUP BY qid, vec_id),
       |short AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank FROM sc)
       |  WHERE rank <= $RefineM),
       |ex AS (SELECT short.qid, short.vec_id, ${CosSqlFor("qv", "v")} AS sim
       |       FROM short JOIN e ON e.vec_id = short.vec_id JOIN q ON q.qid = short.qid),
       |r AS (SELECT qid, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM ex)
       |SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // --- embed_cluster ------------------------------------------------------
  // Embedding-corpus profile: assign EVERY vector to its nearest of the 16
  // deterministic IVF centroids (argmax cosine, smaller cid on ties — the
  // same assignment rule ann_ivf's cells use) and report per-cluster size
  // and similarity extents. This is the cluster-occupancy histogram you
  // read before trusting an IVF index (empty/overfull cells = bad
  // quantizer) and the per-topic volume table of an embedding-clustered
  // corpus. min/max over deterministic per-row cosines are order-free, so
  // the oracle agrees exactly (a float MEAN would not be).
  // Scale shape: assignment is the literal-centroid argmax computed in the
  // scan's project list (pure map, zero corpus shuffle — r6's window
  // argmax shuffled the corpus by vec_id first), then ONE map-side-
  // combinable groupBy over k keys plus the k-row output sort: exactly 2
  // Exchanges total, both over k≈16 keys, independent of corpus size.
  def embedCluster(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    e.select(bestCentroid(seedCentroids(spark, d)).as("b"))
      .select((-col("b.ncid")).cast("long").as("cid"), col("b.csim").as("csim"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("csim")).as("min_sim"), max(col("csim")).as("max_sim"))
      .orderBy("cid")
  }

  val embedClusterSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, cid, csim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s)
       |SELECT cid, count(*) AS n_vecs, min(csim) AS min_sim, max(csim) AS max_sim
       |FROM asg WHERE arn = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- select_cluster_balanced --------------------------------------------
  // Cluster-balanced diversity selection (the "cluster then sample
  // uniformly per cluster" stage of SemDeDup/DataComp-style curation
  // pipelines): assign every vector to its IVF cell, then keep a fixed
  // QUOTA per cell in deterministic md5 order — a uniform per-cluster
  // sample that caps any one topic's share of the selected subset.
  // Exactness: assignment is the literal-centroid argmax (embed_cluster's
  // rule), the per-cell order is (md5(vec_id), vec_id) — engine-identical
  // hex strings, no float ties anywhere. Scale shape: assignment is a
  // scan projection; the per-cell top-Q runs TWO-PHASE because cells are
  // FEW (16) — a single cid-partitioned window would drain the corpus
  // through 16 reducers, so phase 1 ranks within (cid, salt) shards
  // (32-way map-spread, output ≤ cells·salts·quota rows) and phase 2
  // ranks that report-sized table; the global top-Q per cell is a subset
  // of its shards' top-Qs by construction. The oracle keeps the single
  // direct window.
  private val SelQuota = 8L
  private val SelSalts = 32L

  def selectClusterBalanced(spark: SparkSession, d: String): DataFrame =
    selectClusterBalancedFrom(vectors(spark, d), seedCentroids(spark, d))

  /** Core for [[selectClusterBalanced]] over an explicit (vec_id, v)
    * frame and centroid set — exposed so the randomized decomposition
    * spec can pin the two-phase salted rank against a direct per-cell
    * sort on constructed corpora (cells below/above quota, shard-edge
    * collisions). */
  def selectClusterBalancedFrom(e: DataFrame, cents: Seq[Array[Double]]): DataFrame = {
    val asg = e
      .select(col("vec_id"), (-bestCentroid(cents).getField("ncid")).cast("long").as("cid"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("salt", expr(
        s"""((locate(substring(h, 1, 1), '0123456789abcdef') - 1) * 16 +
           |  locate(substring(h, 2, 1), '0123456789abcdef') - 1) % $SelSalts""".stripMargin))
    val sizes = asg.groupBy(col("cid")).agg(count(lit(1)).as("n_cell"))
    val w1 = Window.partitionBy("cid", "salt").orderBy(asc("h"), asc("vec_id"))
    val w2 = Window.partitionBy("cid").orderBy(asc("h"), asc("vec_id"))
    asg.withColumn("r1", row_number().over(w1)).filter(col("r1") <= SelQuota)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= SelQuota)
      .join(sizes, Seq("cid"))
      .select(col("cid"), col("rank"), col("vec_id"), col("n_cell"))
      .orderBy("cid", "rank")
  }

  val selectClusterBalancedSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s),
       |m AS (SELECT vec_id, cid, md5(CAST(vec_id AS VARCHAR)) AS h FROM asg WHERE arn = 1),
       |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_cell FROM m GROUP BY 1),
       |r AS (SELECT cid, vec_id,
       |  CAST(row_number() OVER (PARTITION BY cid ORDER BY h, vec_id) AS BIGINT) AS rank FROM m)
       |SELECT r.cid AS cid, rank, vec_id, n_cell
       |FROM r JOIN sz ON r.cid = sz.cid WHERE rank <= $SelQuota
       |ORDER BY cid, rank""".stripMargin

  // --- embed_kmeans_step --------------------------------------------------
  // One Lloyd iteration from the seed quantizer — the training step that
  // turns seed centroids into data-fitted ones (at scale you iterate this
  // to convergence and feed the result back through the same
  // literal-injection path ann_ivf/embed_cluster already use). Assignment
  // is the literal-centroid argmax in the scan's project list (pure map);
  // the update step's vector mean is made order-independent by quantizing
  // each component to round(v·2^20) integers IN THE SCAN, so per-cluster
  // per-dim sums are associative integer math and the reported mean is
  // two IEEE divisions of identical exact operands ((sum/2^20)/n).
  // Scale shape: 64 integer sums per cluster, all map-side combinable —
  // the shuffle carries |cells|×65 longs regardless of corpus size; the
  // per-(cid, dim) report unpivots AFTER aggregation (1024 rows), never
  // exploding the corpus. The oracle keeps the corpus×64 unnest
  // formulation.
  private val KmQ = 1L << 20 // component quantization scale

  def embedKmeansStep(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val qcols = (0 until Dim).map(i =>
      graft.functions.FastRound.roundL(element_at(col("v"), i + 1), KmQ).as(s"q$i"))
    val assigned = e
      .select(col("v"), bestCentroid(seedCentroids(spark, d)).as("b"))
      .select((-col("b.ncid")).cast("long").as("cid") +: qcols: _*)
    val sums = assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        (0 until Dim).map(i => sum(col(s"q$i")).as(s"s$i")): _*)
    // unpivot the 64 sum columns into (cid, dim, sum_q) — 16 rows in, 1024 out
    val stacked = sums.select(col("cid"), col("n_vecs"),
      explode(array((0 until Dim).map(i =>
        struct(lit(i + 1).cast("long").as("dim"), col(s"s$i").as("sum_q"))): _*)).as("p"))
    stacked.select(col("cid"), col("p.dim").as("dim"), col("n_vecs"),
      ((col("p.sum_q").cast("double") / KmQ.toDouble) / col("n_vecs").cast("double")).as("mean"))
      .orderBy("cid", "dim")
  }

  val embedKmeansStepSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, v, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |n AS (SELECT cid, count(*) AS n_vecs FROM cell GROUP BY 1),
       |q AS (SELECT cid, CAST(i AS BIGINT) AS dim,
       |  sum(CAST(round(v[CAST(i AS INT)] * $KmQ) AS BIGINT)) AS sum_q
       | FROM cell, range(1, ${Dim + 1}) t(i) GROUP BY 1, 2)
       |SELECT q.cid, dim, n_vecs,
       | (CAST(sum_q AS DOUBLE) / $KmQ.0) / CAST(n_vecs AS DOUBLE) AS mean
       |FROM q JOIN n ON q.cid = n.cid
       |ORDER BY q.cid, dim""".stripMargin

    // --- embed_cluster_trained ----------------------------------------------
  // Assignment against TRAINED centroids, oracle-covered (r12, closes r11
  // verdict #6 / the Similarity gap note below): one exact-integer Lloyd
  // step (embed_kmeans_step) turns the seed quantizer into data-fitted
  // centroids whose components are exact rationals — (integer sum / 2^20)
  // / n, two IEEE divisions of identical operands in both engines — so
  // the trained quantizer can be literal-injected and the resulting cell
  // occupancy verified exactly, the same contract embed_cluster pins for
  // the seed quantizer. This is the missing oracle link in the train →
  // literal-inject → assign loop the ann_ivf/trainCentroids Scaladoc
  // promises. Scale shape: identical to embed_cluster (pure-map argmax in
  // the projection, one 16-key combinable groupBy); the training step's
  // state is the same k·dim-double driver array every IVF index keeps.
  /** Trained centroids = the embed_kmeans_step means, collected
    * driver-side (k·dim doubles, KBs — quantizer state).
    *
    * `bestCentroid` labels cells by SEQUENCE POSITION, so the returned
    * seq must be exactly cids 0..k-1 in order — an empty trained cell
    * would silently shift every later label. Empty cells cannot occur
    * with the shipped seed set (every seed captures at least itself),
    * but a custom corpus could produce one, so this is a LOUD contract
    * (the components-engine convention), not an assumption.
    */
  private[graft] def trainedCentroids(spark: SparkSession, d: String): Seq[Array[Double]] = {
    val rows = embedKmeansStep(spark, d).collect() // k·Dim report rows
    val byCid = rows.groupBy(_.getAs[Long]("cid")).toSeq.sortBy(_._1)
    byCid.zipWithIndex.foreach { case ((cid, _), i) =>
      require(cid == i,
        s"trained cell $i is empty (cids present: ${byCid.map(_._1).mkString(",")}) — " +
          "positional literal-injection would mislabel every cell after it")
    }
    byCid.map { case (_, rs) =>
      rs.sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("mean"))
    }
  }

  def embedClusterTrained(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    e.select(bestCentroid(trainedCentroids(spark, d)).as("b"))
      .select((-col("b.ncid")).cast("long").as("cid"), col("b.csim").as("csim"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("csim")).as("min_sim"), max(col("csim")).as("max_sim"))
      .orderBy("cid")
  }

  val embedClusterTrainedSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, v, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |n AS (SELECT cid, count(*) AS nv FROM cell GROUP BY 1),
       |q AS (SELECT cid, CAST(i AS BIGINT) AS dim,
       |  sum(CAST(round(v[CAST(i AS INT)] * $KmQ) AS BIGINT)) AS sum_q
       | FROM cell, range(1, ${Dim + 1}) t(i) GROUP BY 1, 2),
       |mn AS (SELECT q.cid, dim,
       |  (CAST(sum_q AS DOUBLE) / $KmQ.0) / CAST(nv AS DOUBLE) AS mean
       | FROM q JOIN n ON q.cid = n.cid),
       |tc AS (SELECT cid, list(mean ORDER BY dim) AS tv FROM mn GROUP BY 1),
       |s2 AS (SELECT e.vec_id, tc.cid, ${CosSqlFor("v", "tv")} AS csim
       |       FROM e CROSS JOIN tc),
       |a2 AS (SELECT vec_id, cid, csim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s2)
       |SELECT cid, count(*) AS n_vecs, min(csim) AS min_sim, max(csim) AS max_sim
       |FROM a2 WHERE arn = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- embed_power_iter ---------------------------------------------------
  // One power-iteration step toward the corpus's TOP PRINCIPAL DIRECTION:
  // v1 ∝ Σ_i (x_i·v0)·x_i = (XᵀX)v0 with the literal uniform seed
  // v0 = (1/8,…,1/8) (unit for Dim=64). This is the distributed
  // matrix-vector primitive under PCA/spectral embedding quality checks —
  // iterate it and the dominant eigenvector falls out; one step already
  // ranks dims by loading. Determinism: the per-row dot x·v0 is ONE fixed
  // left-to-right IEEE fold (identical lambda in both engines), then both
  // the dot and each component are quantized to round(·2^18) integers IN
  // THE SCAN, so every per-dim sum is associative integer math — exact at
  // any partitioning (headroom ~2000× at sf0.1; a 100 TB run would shard
  // the fold hierarchically or lift sums to DECIMAL(38)). The norm is one
  // fixed 64-term fold over the REPORT row; v1 = sum/norm is a division
  // of identical operands. Scale shape: pure map + ONE global 64-column
  // combinable aggregate — the shuffle is 65 longs per partition; the
  // corpus never re-shuffles, the report unpivots after aggregation.
  private val PowQ = 1L << 18
  private val PowSeed = 0.125 // 1/sqrt(Dim) for Dim = 64 — unit-norm uniform seed

  def embedPowerIter(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val dotE = expr(s"aggregate(v, 0D, (a, x) -> a + x * $PowSeed)")
    val qcols = (0 until Dim).map(i =>
      graft.functions.FastRound.roundL(element_at(col("v"), i + 1), PowQ).as(s"q$i"))
    val rows = e.select(graft.functions.FastRound.roundL(dotE, PowQ).as("qd") +: qcols: _*)
    val sums = rows.agg(
      sum(col("qd") * col("q0")).as("s0"),
      (1 until Dim).map(i => sum(col("qd") * col(s"q$i")).as(s"s$i")): _*)
    val normE = sqrt(expr("aggregate(array(" +
      (0 until Dim).map(i => s"CAST(s$i AS DOUBLE)").mkString(",") +
      "), 0D, (a, x) -> a + x * x)"))
    sums.withColumn("norm", normE)
      .select(col("norm"), explode(array((0 until Dim).map(i =>
        struct(lit(i + 1).cast("long").as("dim"), col(s"s$i").as("sum_q"))): _*)).as("p"))
      .select(col("p.dim").as("dim"), col("p.sum_q").as("sum_q"),
        (col("p.sum_q").cast("double") / col("norm")).as("v1"))
      .orderBy("dim")
  }

  val embedPowerIterSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT v,
       |  CAST(round(list_reduce(list_prepend(0.0, list_transform(v, x -> x * $PowSeed)),
       |                         (a, x) -> a + x) * $PowQ) AS BIGINT) AS qd
       | FROM e),
       |s AS (SELECT CAST(i AS BIGINT) AS dim,
       |  CAST(sum(qd * CAST(round(v[CAST(i AS INT)] * $PowQ) AS BIGINT)) AS BIGINT) AS sum_q
       | FROM q, range(1, ${Dim + 1}) t(i) GROUP BY 1),
       |n AS (SELECT sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(list(CAST(sum_q AS DOUBLE) ORDER BY dim), x -> x * x)),
       |  (a, b) -> a + b)) AS norm FROM s)
       |SELECT dim, sum_q, CAST(sum_q AS DOUBLE) / norm AS v1
       |FROM s, n ORDER BY dim""".stripMargin

  // --- embed_norm_profile -----------------------------------------------------
  // Per-label vector-norm profile — the normalization audit run BEFORE
  // choosing cosine vs dot scoring or pooling sources into one index
  // (mixed-normalization corpora silently break dot-product ANN; FAISS
  // docs tell you to check exactly this): per label, count, min/max/mean
  // of the squared norm on the round(v·2²⁰) lattice (embed_dim_stats'
  // quantization — a unit vector reads nsq ≈ 2⁴⁰), plus the lattice
  // spread (max − min) that flags a label whose vectors were normalized
  // differently. Exactness: Σ q² is an associative BIGINT sum per vector
  // (≤ 64·2⁴⁰ ≈ 2⁴⁶), per-label aggregates are exact integers, mean is
  // one truncating division. Scale shape: the per-vector nsq is a scan
  // projection (one fold, no explode); ONE map-side-combinable groupBy on
  // label; report = |labels| rows.
  def embedNormProfile(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("label").cast("long").as("label"), expr(
        s"""aggregate(transform(embedding,
           |  x -> CAST(round(CAST(x AS DOUBLE) * ${1L << 20}) AS BIGINT)),
           |  0L, (acc, q) -> acc + q * q)""".stripMargin).as("nsq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(col("nsq")).as("nsq_min"),
        max(col("nsq")).as("nsq_max"),
        sum(col("nsq")).as("nsq_sum"))
      .withColumn("nsq_mean", expr("nsq_sum div n"))
      .withColumn("nsq_spread", col("nsq_max") - col("nsq_min"))
      .orderBy("label")

  // Oracle note: DuckDB's `**` returns DOUBLE, which would take sum(nsq)
  // off the integer lattice once a label's total passes 2^53 — so the
  // squared term is an explicit BIGINT self-product (bind q once via
  // list_transform, then q*q stays BIGINT end to end).
  val embedNormProfileSql: String =
    s"""WITH ql AS (SELECT CAST(label AS BIGINT) AS label,
       |  list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * ${1L << 20}) AS BIGINT)) AS qs
       | FROM embeddings),
       |q AS (SELECT label,
       |  list_aggregate(list_transform(qs, q -> q * q), 'sum') AS nsq
       | FROM ql)
       |SELECT label, count(*) AS n,
       | CAST(min(nsq) AS BIGINT) AS nsq_min,
       | CAST(max(nsq) AS BIGINT) AS nsq_max,
       | CAST(sum(nsq) AS BIGINT) AS nsq_sum,
       | CAST(sum(nsq) AS BIGINT) // count(*) AS nsq_mean,
       | CAST(max(nsq) - min(nsq) AS BIGINT) AS nsq_spread
       |FROM q GROUP BY 1 ORDER BY label""".stripMargin

  // --- embed_outliers -----------------------------------------------------
  // Embedding novelty screen: vectors whose best cosine against ALL 16
  // quantizer centroids is below τ=0.10 — "far from every cluster", the
  // out-of-distribution detector run on new data before trusting an IVF
  // index built on old data (an outlier-heavy batch means the quantizer
  // needs retraining). Pure map: the literal-centroid argmax struct is
  // computed in the scan's project list (the ann_ivf/embed_cluster path)
  // and the τ filter is a scan predicate — zero shuffles before the
  // report-sized sort. The native cosine kernel is bitwise-equal to the
  // oracle's fold (CosineSimSpec), so the threshold cut picks identical
  // rows in both engines.
  private val OutlierTau = 0.10

  def embedOutliers(spark: SparkSession, d: String): DataFrame = {
    val b = bestCentroid(seedCentroids(spark, d))
    vectors(spark, d)
      .select(col("vec_id"), b.as("b"))
      .select(col("vec_id"), (-col("b.ncid")).cast("long").as("best_cid"),
        col("b.csim").as("best_sim"))
      .filter(col("best_sim") < OutlierTau)
      .orderBy("vec_id")
  }

  val embedOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, cid, csim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s)
       |SELECT vec_id, CAST(cid AS BIGINT) AS best_cid, csim AS best_sim
       |FROM asg WHERE arn = 1 AND csim < $OutlierTau
       |ORDER BY vec_id""".stripMargin

  // --- embed_drift --------------------------------------------------------
  // Distribution-shift screen between two corpus snapshots (here the
  // deterministic vec_id-parity halves — in production, yesterday's batch
  // vs today's): per IVF cell, how the assignment mass moved. The retrain
  // trigger for every consumer of the literal-centroid family — IVF lists
  // go stale, quantizer codebooks drift, cluster profiles shift — and the
  // screen that says so BEFORE recall degrades. Assignment is the
  // scan-projection argmax (pure map, zero corpus shuffle), halves split
  // by parity in the same projection; ONE map-side-combinable groupBy over
  // k cells + a 1-row total. cross_diff = n_a·tot_b − n_b·tot_a is the
  // exact-integer share comparison (zero ⟺ equal shares) — consumers
  // threshold it without any float epsilon; shares are single divisions.
  def embedDrift(spark: SparkSession, d: String): DataFrame = {
    val asg = vectors(spark, d)
      .select(col("vec_id"), bestCentroid(seedCentroids(spark, d)).as("b"))
      .select((-col("b.ncid")).cast("long").as("cid"),
        pmod(col("vec_id"), lit(2L)).as("half"))
    val per = asg.groupBy("cid").agg(
      sum(when(col("half") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("half") === 1L, 1L).otherwise(0L)).as("n_b"))
    val tot = asg.agg(
      sum(when(col("half") === 0L, 1L).otherwise(0L)).as("tot_a"),
      sum(when(col("half") === 1L, 1L).otherwise(0L)).as("tot_b"))
    per.crossJoin(tot)
      .select(col("cid"), col("n_a"), col("n_b"),
        (col("n_a").cast("double") / col("tot_a").cast("double")).as("share_a"),
        (col("n_b").cast("double") / col("tot_b").cast("double")).as("share_b"),
        (col("n_a") * col("tot_b") - col("n_b") * col("tot_a")).as("cross_diff"))
      .orderBy("cid")
  }

  val embedDriftSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |s AS (SELECT vec_id, cid, ${CosSqlFor("v", "cv")} AS csim FROM e CROSS JOIN c),
       |asg AS (SELECT vec_id, cid, csim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn FROM s),
       |a AS (SELECT CAST(cid AS BIGINT) AS cid, vec_id % 2 AS half FROM asg WHERE arn = 1),
       |p AS (SELECT cid,
       |  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       | FROM a GROUP BY 1),
       |t AS (SELECT
       |  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tot_a,
       |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tot_b
       | FROM a)
       |SELECT cid, n_a, n_b,
       | CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS share_a,
       | CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS share_b,
       | CAST(n_a * tot_b - n_b * tot_a AS BIGINT) AS cross_diff
       |FROM p, t ORDER BY cid""".stripMargin

  // --- embed_dim_stats ----------------------------------------------------
  // Per-dimension profile of the embedding matrix — the normalization /
  // whitening prep (and the "is this dimension dead?" screen) every
  // embedding pipeline runs before indexing: per dim, count, quantized
  // sum, min, max, and mean. Components are quantized to round(v·2^20)
  // integers IN THE SCAN (the embed_kmeans_step idiom), so sums are
  // associative integer math — exact at any partitioning. Scale shape:
  // pure map + ONE global combinable aggregate with 3·Dim integer columns
  // (the shuffle is ~193 longs per partition regardless of corpus size);
  // the 64-row report unpivots AFTER aggregation. The mean is ONE IEEE
  // division of identical exact operands: sum_q / (n · 2^20). The oracle
  // keeps the corpus×Dim unnest formulation.
  def embedDimStats(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val qcols = (0 until Dim).map(i =>
      graft.functions.FastRound.roundL(element_at(col("v"), i + 1), KmQ).as(s"q$i"))
    val rows = e.select(qcols: _*)
    val aggs = (0 until Dim).flatMap(i => Seq(
      sum(col(s"q$i")).as(s"s$i"), min(col(s"q$i")).as(s"lo$i"),
      max(col(s"q$i")).as(s"hi$i")))
    val one = rows.agg(count(lit(1)).as("n_vecs"), aggs: _*)
    one.select(col("n_vecs"),
      explode(array((0 until Dim).map(i => struct(
        lit(i + 1).cast("long").as("dim"), col(s"s$i").as("sum_q"),
        col(s"lo$i").as("min_q"), col(s"hi$i").as("max_q"))): _*)).as("p"))
      .select(col("p.dim").as("dim"), col("n_vecs"), col("p.sum_q").as("sum_q"),
        col("p.min_q").as("min_q"), col("p.max_q").as("max_q"),
        (col("p.sum_q").cast("double") /
          (col("n_vecs") * lit(KmQ)).cast("double")).as("mean"))
      .orderBy("dim")
  }

  val embedDimStatsSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT CAST(i AS BIGINT) AS dim,
       |  CAST(round(v[CAST(i AS INT)] * $KmQ) AS BIGINT) AS q
       | FROM e, range(1, ${Dim + 1}) t(i)),
       |n AS (SELECT count(*) AS n_vecs FROM e)
       |SELECT dim, CAST(n_vecs AS BIGINT) AS n_vecs,
       | CAST(sum(q) AS BIGINT) AS sum_q,
       | CAST(min(q) AS BIGINT) AS min_q,
       | CAST(max(q) AS BIGINT) AS max_q,
       | CAST(sum(q) AS DOUBLE) / CAST(n_vecs * $KmQ AS DOUBLE) AS mean
       |FROM q, n GROUP BY dim, n_vecs ORDER BY dim""".stripMargin

  // --- embed_source_divergence --------------------------------------------
  // Pairwise distribution divergence between label groups — the linear-
  // kernel MMD (Gretton et al., "A Kernel Two-Sample Test", JMLR 2012):
  // with k(x,y) = ⟨x,y⟩ the squared MMD reduces EXACTLY to
  // ‖μ_a − μ_b‖², the mean-embedding distance — the screen a data-mixing
  // pipeline runs to ask "are these two sources/domains the same
  // distribution in embedding space?" before pooling them. Exactness on
  // the lattice: components quantize to round(v·2^20) integers in the scan
  // (the embed_dim_stats idiom), per-(label,dim) sums are associative
  // BIGINT math, the lattice mean is one truncating integer division
  // (identical in both engines — Spark `div` and DuckDB `//` both
  // truncate toward zero, including on negative sums), and the final
  // Σ_d (m_ad − m_bd)² is pure BIGINT. Scale shape: pure map + ONE
  // map-side-combinable (label,dim) groupBy (≤ labels·Dim keys — partial
  // aggregation collapses each partition to the report size BEFORE the
  // exchange, so the posexplode's 64× row inflation never reaches the
  // shuffle); the pair join runs on the labels·Dim report table, never
  // on vectors. The embed_dim_stats-style replan (Dim sum COLUMNS in one
  // groupBy(label), unpivot after) was tried and MEASURED 57% slower
  // here (0.254 → 0.398s exec at sf0.1, 5-rep mins): both plans shuffle
  // report-sized state, and 64 per-row element_at sum updates cost more
  // than the explode's iteration — rejected.
  def embedSourceDivergence(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d).select(
      col("label").cast("long").as("label"),
      expr(s"transform(embedding, x -> ${graft.functions.FastRound.roundLSql("CAST(x AS DOUBLE)", s"$KmQ")})").as("q"))
    val dims = e.select(col("label"), posexplode(col("q")).as(Seq("i", "qi")))
    val means = dims.groupBy(col("label"), col("i"))
      .agg(sum(col("qi")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("i"), expr("s div n").as("m"), col("n"))
    val a = means.select(col("label").as("label_a"), col("i"),
      col("m").as("ma"), col("n").as("n_a"))
    val b = means.select(col("label").as("label_b"), col("i"),
      col("m").as("mb"), col("n").as("n_b"))
    a.join(b, Seq("i")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("mmd_l2sq"))
      .orderBy("label_a", "label_b")
  }

  val embedSourceDivergenceSql: String =
    s"""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
       |  [CAST(round(CAST(x AS DOUBLE) * $KmQ) AS BIGINT) FOR x IN embedding] AS q
       | FROM embeddings),
       |dm AS (SELECT label, CAST(i AS BIGINT) AS i, q[CAST(i AS INT)] AS qi
       | FROM e, range(1, ${Dim + 1}) t(i)),
       |s AS (SELECT label, i, CAST(sum(qi) AS BIGINT) AS s,
       |  CAST(count(*) AS BIGINT) AS n FROM dm GROUP BY 1, 2),
       |m AS (SELECT label, i, s // n AS m, n FROM s)
       |SELECT a.label AS label_a, b.label AS label_b,
       | CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
       | CAST(sum((a.m - b.m) * (a.m - b.m)) AS BIGINT) AS mmd_l2sq
       |FROM m a JOIN m b ON a.i = b.i AND a.label < b.label
       |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin

  // --- embed_knn_graph ----------------------------------------------------
  // k-NN graph construction over the embedding corpus — the shared
  // substrate under graph-based semantic clustering, duplicate-community
  // detection (feed its edges to dedup_components), and quality-score
  // propagation. Candidates are CELL-BLOCKED by the same literal-injected
  // IVF quantizer ann_ivf and dedup_semantic use: each vector ranks only
  // its own cell's members (≈ n²/cells candidate rows through the one
  // vec_id-partitioned top-k window — cell count is the scale knob), never
  // the corpus. Neighbor lists are deterministic ((sim DESC, nbr ASC)
  // tie-break); a vector in an underfull cell simply reports fewer than K
  // edges — the honest output, not a padded one.
  private val KnnK = 5

  def embedKnnGraph(spark: SparkSession, d: String): DataFrame = {
    val cells = ivfCells(spark, d)
    val nb = cells.select(col("cid"), col("vec_id").as("nbr"), col("v").as("vb"))
    val w = Window.partitionBy("vec_id").orderBy(desc("sim"), asc("nbr"))
    cells.join(nb, Seq("cid"))
      .filter(col("nbr") =!= col("vec_id"))
      .withColumn("sim", expr("cosine_sim(v, vb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KnnK)
      .select("vec_id", "rank", "nbr", "sim")
      .orderBy("vec_id", "rank")
  }

  val embedKnnGraphSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |p AS (SELECT a.vec_id, b.vec_id AS nbr, ${CosSqlFor("a.v", "b.v")} AS sim
       |      FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, nbr, sim,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS BIGINT) AS rank FROM p)
       |SELECT vec_id, rank, nbr, sim FROM r WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin

  // --- embed_knn_recall ---------------------------------------------------
  // Edge recall of the cell-blocked k-NN graph against EXACT neighbors —
  // the ann_recall treatment applied to embed_knn_graph: cell blocking
  // misses true neighbors that land in a different IVF cell, and this is
  // the measurement of how many. Exact top-K is computed only for an
  // AUDIT-BAND sample (vec_id % sampleMod == sampleRem, the dedup_recall
  // contract): the sample set rides a broadcast into a nested-loop scoring
  // pass over the corpus — the designed audit exception, which is why the
  // SIGNATURE enforces sampleMod ≥ 10 (broadcast side ≤ corpus/10 vectors;
  // a full-corpus exact k-NN is n² and must never ship). Recall is one
  // division of exact integer counts; edge sets intersect by equijoin.
  private[graft] val KnnAuditMod = 10L
  private[graft] val KnnAuditRem = 0L

  def embedKnnRecall(spark: SparkSession, d: String,
      sampleMod: Long, sampleRem: Long): DataFrame = {
    require(sampleMod >= 10 && sampleRem >= 0 && sampleRem < sampleMod,
      s"embed_knn_recall is an audit-slice job: need 10 <= sampleMod (got $sampleMod), " +
        "0 <= sampleRem < sampleMod — the exact-kNN pass broadcasts the sample")
    val e = vectors(spark, d)
    val s = e.filter(col("vec_id") % sampleMod === sampleRem)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("nbr"))
    val exact = e.select(col("vec_id").as("nbr"), col("v"))
      .crossJoin(broadcast(s))
      .filter(col("nbr") =!= col("qid"))
      .withColumn("sim", cosExpr)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KnnK)
      .select(col("qid").as("vec_id"), col("nbr"))
    val g = embedKnnGraph(spark, d)
      .filter(col("vec_id") % sampleMod === sampleRem)
      .select("vec_id", "nbr")
    val hits = g.join(exact, Seq("vec_id", "nbr"), "left_semi")
    exact.agg(countDistinct(col("vec_id")).as("n_sampled"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .select("n_sampled", "n_exact", "n_hit", "recall")
  }

  val embedKnnRecallSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
       |p AS (SELECT a.vec_id, b.vec_id AS nbr, ${CosSqlFor("a.v", "b.v")} AS sim
       |      FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |      WHERE a.vec_id % $KnnAuditMod = $KnnAuditRem),
       |g AS (SELECT vec_id, nbr FROM (SELECT vec_id, nbr, sim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rank FROM p)
       |  WHERE rank <= $KnnK),
       |s AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % $KnnAuditMod = $KnnAuditRem),
       |ex AS (SELECT qid AS vec_id, e2.vec_id AS nbr,
       |  row_number() OVER (PARTITION BY qid ORDER BY ${CosSqlFor("qv", "e2.v")} DESC, e2.vec_id) AS rn
       |  FROM s JOIN e e2 ON e2.vec_id <> s.qid),
       |et AS (SELECT vec_id, nbr FROM ex WHERE rn <= $KnnK),
       |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM g JOIN et USING (vec_id, nbr)),
       |ag AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_sampled,
       |       CAST(count(*) AS BIGINT) AS n_exact FROM et)
       |SELECT n_sampled, n_exact, hit.n_hit,
       | CAST(hit.n_hit AS DOUBLE) / n_exact AS recall
       |FROM ag CROSS JOIN hit""".stripMargin

  // --- embed_class_purity -------------------------------------------------
  // Cluster-vs-ground-truth purity — the standard clustering-quality grade
  // when labels exist (here the embeddings table's `label` column): per
  // IVF cell, the majority true label and the fraction of members carrying
  // it. This is how a deployment decides whether the coarse quantizer's
  // cells are semantically coherent enough for cell-blocked semantic dedup
  // (dedup_semantic) and cell-probe ANN to be safe. Counts are exact
  // integers (majority tie → smallest label, deterministic); purity is one
  // division. Scale shape: one (cid, label) combinable groupBy — ≤
  // cells·labels keys — then report-sized windows.
  def embedClassPurity(spark: SparkSession, d: String): DataFrame = {
    val cells = ivfCells(spark, d).select("vec_id", "cid")
    val labels = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
    val cl = cells.join(labels, Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("cid").orderBy(desc("c"), asc("label"))
    cl.withColumn("rn", row_number().over(w))
      .withColumn("n_vecs", sum(col("c")).over(Window.partitionBy("cid")))
      .filter(col("rn") === 1)
      .select(col("cid"), col("n_vecs"),
        col("label").cast("long").as("major_label"), col("c").as("n_major"),
        (col("c").cast("double") / col("n_vecs").cast("double")).as("purity"))
      .orderBy("cid")
  }

  val embedClassPuritySql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, label, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, label, cid FROM asg WHERE arn = 1),
       |cl AS (SELECT cid, label, CAST(count(*) AS BIGINT) AS c FROM cell GROUP BY 1, 2),
       |r AS (SELECT cid, label, c,
       |  row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn,
       |  CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS n_vecs FROM cl)
       |SELECT cid, n_vecs, CAST(label AS BIGINT) AS major_label, c AS n_major,
       | CAST(c AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS purity
       |FROM r WHERE rn = 1 ORDER BY cid""".stripMargin

  // --- embed_knn_label_acc ------------------------------------------------
  // k-NN label-probe accuracy — THE standard embedding-space benchmark
  // (predict each vector's label by majority vote of its graph neighbors,
  // grade against ground truth): reuses embed_knn_graph's cell-blocked
  // edges, so the candidate bound is the same n²/cells and the vote is a
  // ≤ K-row aggregate per vector. Prediction ties break to the smallest
  // label (deterministic); per-true-label report with one final division.
  // Vectors in single-member cells have no neighbors and are excluded from
  // the denominator — the honest count, reported via n_voted.
  def embedKnnLabelAcc(spark: SparkSession, d: String): DataFrame = {
    val labels = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
    val edges = embedKnnGraph(spark, d).select("vec_id", "nbr")
    val votes = edges
      .join(labels.select(col("vec_id").as("nbr"), col("label").as("nl")), Seq("nbr"))
      .groupBy("vec_id", "nl").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("vec_id").orderBy(desc("c"), asc("nl"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nl").as("pred"))
    labels.join(pred, Seq("vec_id"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_voted"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc", col("n_correct").cast("double") / col("n_voted").cast("double"))
      .orderBy("label")
  }

  val embedKnnLabelAccSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
       |c AS (SELECT vec_id - $CentroidBase AS cid, v AS cv FROM e
       |      WHERE vec_id >= $CentroidBase AND vec_id < ${CentroidBase + NumCells}),
       |asg AS (SELECT vec_id, v, label, cid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY ${CosSqlFor("v", "cv")} DESC, cid) AS arn
       |  FROM e CROSS JOIN c),
       |cell AS (SELECT vec_id, v, label, cid FROM asg WHERE arn = 1),
       |p AS (SELECT a.vec_id, b.vec_id AS nbr, ${CosSqlFor("a.v", "b.v")} AS sim
       |      FROM cell a JOIN cell b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |g AS (SELECT vec_id, nbr FROM (SELECT vec_id, nbr, sim,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr) AS rank FROM p)
       |  WHERE rank <= $KnnK),
       |votes AS (SELECT g.vec_id, e2.label AS nl, CAST(count(*) AS BIGINT) AS c
       |  FROM g JOIN cell e2 ON e2.vec_id = g.nbr GROUP BY 1, 2),
       |pred AS (SELECT vec_id, nl AS pred FROM (SELECT vec_id, nl, c,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nl) AS rn FROM votes)
       |  WHERE rn = 1)
       |SELECT CAST(cell.label AS BIGINT) AS label,
       | CAST(count(*) AS BIGINT) AS n_voted,
       | CAST(sum(CASE WHEN pred = cell.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       | CAST(sum(CASE WHEN pred = cell.label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS acc
       |FROM cell JOIN pred ON pred.vec_id = cell.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- embed_hard_negatives -----------------------------------------------
  // Hard-negative mining for contrastive/embedding training (the in-batch
  // negatives literature, e.g. DPR Karpukhin et al. 2020 / ANCE Xuan et
  // al.): for a deterministic anchor sample, the top-3 most-similar
  // vectors whose LABEL differs from the anchor's — the near-boundary
  // negatives a trainer mines between epochs. Same execution shape as
  // ann_bruteforce: the anchor set is a FIXED-size batch (vec_id <
  // HnAnchors — a constant, so the broadcast is size-bounded by contract;
  // a mod-sample would grow with the corpus and poison the broadcast),
  // making the "cross join" a map-side nested loop over the corpus —
  // each partition is scanned once, the label filter prunes BEFORE
  // scoring reaches the window, and only (anchors × 3) rows survive.
  // Corpus-WIDE mining is a different job: run embed_knn_graph's
  // cell-blocked shape and filter cross-label edges; this entry is the
  // per-batch miner a training loop calls with its current anchor batch.
  // Cosines use the same left-to-right fold as every other entry
  // (bit-identical to the oracle's list_reduce), ties broken by vec_id.
  private val HnAnchors = 50L
  private val HnK = 3

  def embedHardNegatives(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(spark, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"), col("label"))
    val a = e.filter(col("vec_id") < HnAnchors)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("label").as("qlabel"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    e.crossJoin(broadcast(a))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("sim", cosExpr)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= HnK)
      .select(col("qid"), col("rank"), col("vec_id"),
        col("label").cast("long").as("label"), col("sim"))
      .orderBy("qid", "rank")
  }

  val embedHardNegativesSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, label FROM embeddings),
       |a AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e WHERE vec_id < $HnAnchors),
       |s AS (SELECT a.qid, e.vec_id, CAST(e.label AS BIGINT) AS label,
       |  ${CosSqlFor("e.v", "a.qv")} AS sim
       | FROM e CROSS JOIN a WHERE e.label <> a.qlabel),
       |r AS (SELECT qid, vec_id, label, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
       | FROM s)
       |SELECT qid, rank, vec_id, label, sim FROM r WHERE rank <= $HnK
       |ORDER BY qid, rank""".stripMargin

  // --- embed_matryoshka_eval ----------------------------------------------
  // Matryoshka truncation eval (Kusupati et al. 2022, MRL): recall@K of
  // PREFIX-dimension cosine ranking (first MrlDim of Dim components — the
  // cheap index a deployment keeps hot) against the full-dimension exact
  // top-K, per audit query. The decisive trick: both similarities are
  // computed in the SAME corpus pass and ranked by two windows over that
  // one (corpus × queries) table, so the intersection |full-topK ∩
  // prefix-topK| is just `rank_full ≤ K AND rank_pref ≤ K` — no second
  // scan, no self-join of rankings. Query set is the bounded NumQueries
  // broadcast; recall lands on the ppm lattice (n_hit is exact, ≥1 since
  // each query tops both of its own rankings).
  private val MrlDim = 16

  def embedMatryoshkaEval(spark: SparkSession, d: String): DataFrame = {
    val e = vectors(spark, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wf = Window.partitionBy("qid").orderBy(desc("simf"), asc("vec_id"))
    val wp = Window.partitionBy("qid").orderBy(desc("simp"), asc("vec_id"))
    e.crossJoin(broadcast(q))
      .withColumn("simf", cosExpr)
      .withColumn("simp", expr(s"cosine_sim(slice(qv, 1, $MrlDim), slice(v, 1, $MrlDim))"))
      .withColumn("rf", row_number().over(wf))
      .withColumn("rp", row_number().over(wp))
      .filter(col("rf") <= K && col("rp") <= K)
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("recall_ppm", expr(s"(1000000 * n_hit) div $K"))
      .orderBy("qid")
  }

  val embedMatryoshkaEvalSql: String = {
    val cosPre = (a: String, b: String) =>
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${MrlDim + 1}), k -> $a[CAST(k AS INT)]*$b[CAST(k AS INT)])), (acc, x) -> acc + x) /
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, ${MrlDim + 1}), k -> $a[CAST(k AS INT)]*$a[CAST(k AS INT)])), (acc, x) -> acc + x) *
         |       list_reduce(list_prepend(0.0, list_transform(range(1, ${MrlDim + 1}), k -> $b[CAST(k AS INT)]*$b[CAST(k AS INT)])), (acc, x) -> acc + x))""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
       |s AS (SELECT q.qid, e.vec_id,
       |  ${CosSqlFor("e.v", "q.qv")} AS simf,
       |  ${cosPre("e.v", "q.qv")} AS simp
       | FROM e CROSS JOIN q),
       |r AS (SELECT qid, vec_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY simf DESC, vec_id) AS rf,
       |  row_number() OVER (PARTITION BY qid ORDER BY simp DESC, vec_id) AS rp
       | FROM s)
       |SELECT qid, CAST(count(*) AS BIGINT) AS n_hit,
       | CAST((1000000 * count(*)) // $K AS BIGINT) AS recall_ppm
       |FROM r WHERE rf <= $K AND rp <= $K
       |GROUP BY 1 ORDER BY qid""".stripMargin
  }

  // --- embed_gram_matrix --------------------------------------------------
  // The distributed Gram / second-moment matrix XᵀX — the one-pass input
  // to whitening, PCA, and covariance conditioning (embed_dim_stats holds
  // the means; m_ij − μ_i·μ_j recovers covariance): upper-triangle
  // Σ_rows q_i·q_j over components quantized to round(v·2^15) integers IN
  // THE SCAN, so every (i,j) sum is associative BIGINT math — exact at
  // any partitioning (|q_i·q_j| ≤ 2^30 → ~8.6e9-row headroom in a signed
  // 64-bit sum; past that, lift the sums to DECIMAL(38), the
  // embed_power_iter note). Scale shape: each row explodes to its
  // Dim·(Dim+1)/2 = 2080 products feeding a combinable groupBy — map-side
  // combine collapses the shuffle to partitions × 2080 keys regardless of
  // corpus size (the classic outer-product-accumulate lowering of a tall
  // skinny X); the report is 2080 rows, m = one division of identical
  // exact operands on both engines.
  private val GramQ = 1L << 15

  def embedGramMatrix(spark: SparkSession, d: String): DataFrame =
    embedGramMatrixFrom(Tables.embeddings(spark, d))

  /** DataFrame-in core for [[embedGramMatrix]] (`emb` needs an
    * `embedding: array<float>` column) — exposed so the randomized spec
    * can pin the explode/combine decomposition against a per-pair direct
    * sum on constructed matrices.
    *
    * `decimalSums` is the documented >8.6e9-row branch (r13, verdict #8):
    * |q_i·q_j| ≤ 2^30 on the 2^15 lattice, so a signed-64 sum holds
    * ~2^33 rows; past that it fails LOUDLY under Spark 4's ANSI default
    * (ARITHMETIC_OVERFLOW — the boundary spec proves both the error and
    * the fix), and per-(i,j) sums lift to DECIMAL(38,0), which holds
    * ~10^19x more rows than any corpus. Same plan shape (the decimal
    * cast rides the same combinable aggregate); only the sum_q column's
    * type widens. The registry entry stays on the BIGINT branch — exact
    * by construction at every tested SF. */
  def embedGramMatrixFrom(emb: DataFrame, decimalSums: Boolean = false): DataFrame = {
    // products via the native outer_upper_i64 kernel (one fused loop into
    // a flat primitive array — the nested transform-over-sequence
    // formulation builds 2080 interpreted STRUCTS per row and measured
    // 2.0s exec at sf0.1; the kernel path 0.3s); the (pos → i, j)
    // row-major mapping attaches AFTER aggregation via a 2080-row literal
    // join, so the per-row path is entirely whole-stage codegen
    val spark = emb.sparkSession
    import spark.implicits._
    // Fixed-width non-null contract, enforced rather than assumed: a NULL
    // embedding must not count toward n_vecs, and a ragged array would
    // silently misattribute positions in the pos→(i,j) row-major join —
    // so both engines filter to exactly-Dim non-null rows up front.
    val q = emb
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(expr(
      s"transform(embedding, x -> ${graft.functions.FastRound.roundLSql("CAST(x AS DOUBLE)", s"$GramQ")})").as("q"))
    val sumP =
      if (decimalSums) sum(col("p").cast("decimal(38,0)")) else sum(col("p"))
    val agg = q
      .select(posexplode(expr("outer_upper_i64(q)")).as(Seq("pos", "p")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vecs"), sumP.as("sum_q"))
    val ij = (for (i <- 1 to Dim; j <- i to Dim) yield (i, j)).zipWithIndex
      .map { case ((i, j), pos) => (pos, i.toLong, j.toLong) }
      .toDF("pos", "i", "j")
    agg.join(ij, Seq("pos"))
      .select(col("i"), col("j"), col("n_vecs"), col("sum_q"))
      .withColumn("m", col("sum_q").cast("double") /
        (lit((GramQ * GramQ).toDouble) * col("n_vecs").cast("double")))
      .orderBy("i", "j")
  }

  val embedGramMatrixSql: String =
    s"""WITH e AS (SELECT list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * $GramQ) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = $Dim),
       |p AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       |  q[CAST(i AS INT)] * q[CAST(j AS INT)] AS p
       | FROM e, range(1, ${Dim + 1}) t1(i), range(1, ${Dim + 1}) t2(j)
       | WHERE j >= i)
       |SELECT i, j, CAST(count(*) AS BIGINT) AS n_vecs,
       | CAST(sum(p) AS BIGINT) AS sum_q,
       | CAST(sum(p) AS DOUBLE) / (${GramQ * GramQ}.0 * CAST(count(*) AS DOUBLE)) AS m
       |FROM p GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_gram_matrix" -> embedGramMatrix,
    "embed_hard_negatives" -> embedHardNegatives,
    "embed_matryoshka_eval" -> embedMatryoshkaEval,
    "embed_knn_graph" -> embedKnnGraph,
    "embed_knn_recall" -> ((s: SparkSession, d: String) =>
      embedKnnRecall(s, d, KnnAuditMod, KnnAuditRem)),
    "embed_class_purity" -> embedClassPurity,
    "embed_knn_label_acc" -> embedKnnLabelAcc,
    "embed_dim_stats" -> embedDimStats,
    "embed_norm_profile" -> embedNormProfile,
    "embed_source_divergence" -> embedSourceDivergence,
    "select_cluster_balanced" -> selectClusterBalanced,
    "embed_drift" -> embedDrift,
    "embed_outliers" -> embedOutliers,
    "embed_power_iter" -> embedPowerIter,
    "embed_kmeans_step" -> embedKmeansStep,
    "ann_bruteforce" -> annBruteforce,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_range_search" -> annRangeSearch,
    "embed_sim_hist" -> embedSimHist,
    "ann_quantized" -> annQuantized,
    "ann_pq" -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_refine" -> annRefine,
    "ann_recall" -> annRecall,
    "ann_nprobe_sweep" -> annNprobeSweep,
    "embed_cluster" -> embedCluster,
    "embed_cluster_trained" -> embedClusterTrained,
    "ann_ivf_layout" -> annIvfLayout)

  val oracle: Map[String, String] = Map(
    "embed_gram_matrix" -> embedGramMatrixSql,
    "embed_hard_negatives" -> embedHardNegativesSql,
    "embed_matryoshka_eval" -> embedMatryoshkaEvalSql,
    "embed_cluster_trained" -> embedClusterTrainedSql,
    // same result contract as ann_ivf (the probe reads the persisted
    // layout instead of joining in memory), so one oracle serves both
    "ann_ivf_layout" -> annIvfSql,
    "embed_knn_graph" -> embedKnnGraphSql,
    "embed_knn_recall" -> embedKnnRecallSql,
    "embed_class_purity" -> embedClassPuritySql,
    "embed_knn_label_acc" -> embedKnnLabelAccSql,
    "embed_source_divergence" -> embedSourceDivergenceSql,
    "select_cluster_balanced" -> selectClusterBalancedSql,
    "embed_dim_stats" -> embedDimStatsSql,
    "embed_norm_profile" -> embedNormProfileSql,
    "embed_drift" -> embedDriftSql,
    "embed_outliers" -> embedOutliersSql,
    "embed_power_iter" -> embedPowerIterSql,
    "embed_kmeans_step" -> embedKmeansStepSql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_range_search" -> annRangeSearchSql,
    "embed_sim_hist" -> embedSimHistSql,
    "ann_quantized" -> annQuantizedSql,
    "ann_pq" -> annPqSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_refine" -> annRefineSql,
    "ann_recall" -> annRecallSql,
    "ann_nprobe_sweep" -> annNprobeSweepSql,
    "embed_cluster" -> embedClusterSql)
}
