package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("bruteforce rank 1 is the query itself with cosine ≈ 1") {
    val top = Similarity.annBruteforce(spark, sf)
      .filter("rank = 1").collect()
    assert(top.length === 5)
    top.foreach { r =>
      assert(r.getAs[Long]("qid") === r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9)
    }
  }

  test("bruteforce similarities are non-increasing with rank") {
    val byQ = Similarity.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lsh top-k is a subset of the bucket-restricted exact ranking") {
    // every LSH hit must also appear in the brute-force ranking with an
    // equal-or-worse-or-equal similarity (LSH only prunes, never invents)
    val bf = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("sim")).toMap
    val lsh = Similarity.annLsh(spark, sf).collect()
    lsh.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
      bf.get(key).foreach(s => assert(math.abs(s - r.getAs[Double]("sim")) < 1e-12))
    }
  }

  test("ivf rank 1 is the query itself with cosine ≈ 1") {
    // a vector always lands in its own nearest cell, and a query probes its
    // own top cells first — so IVF can never lose the query itself
    val top = Similarity.annIvf(spark, sf).filter("rank = 1").collect()
    assert(top.length === 5)
    top.foreach { r =>
      assert(r.getAs[Long]("qid") === r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9)
    }
  }

  test("ivf similarities agree bitwise with brute force on shared hits") {
    val bf = Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("sim")).toMap
    val ivf = Similarity.annIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
      bf.get(key).foreach(s => assert(s === r.getAs[Double]("sim")))
    }
  }

  test("trained IVF centroids improve the quantizer objective over the seed set") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val seed = Similarity.trainCentroids(spark, sf, rounds = 0)
    val trained = Similarity.trainCentroids(spark, sf, rounds = 3)
    val objSeed = Similarity.assignmentObjective(spark, sf, seed)
    val objTrained = Similarity.assignmentObjective(spark, sf, trained)
    assert(objTrained > objSeed,
      s"training should raise mean assigned cosine: seed=$objSeed trained=$objTrained")
  }

  test("k-means|| init is deterministic, yields k centroids, beats the seed set") {
    val init1 = Similarity.initCentroidsParallel(spark, sf)
    val init2 = Similarity.initCentroidsParallel(spark, sf)
    // hash-fraction sampling ⇒ bit-identical across runs
    assert(init1.length === 16)
    assert(init1.map(_.toSeq).toSeq === init2.map(_.toSeq).toSeq)
    assert(init1.map(_.toSeq).distinct.length === 16, "centroids must be distinct")
    val objSeed = Similarity.assignmentObjective(spark, sf,
      Similarity.trainCentroids(spark, sf, rounds = 0))
    val objInit = Similarity.assignmentObjective(spark, sf, init1)
    assert(objInit > objSeed,
      s"k-means|| seeding should beat 16 arbitrary corpus vectors: seed=$objSeed init=$objInit")
    // and Lloyd from that init stays at least as good as the init itself
    val objTrained = Similarity.assignmentObjective(spark, sf,
      Similarity.trainCentroids(spark, sf, rounds = 2, init = Some(init1)))
    assert(objTrained >= objInit - 1e-9,
      s"training from k-means|| init regressed: init=$objInit trained=$objTrained")
  }

  test("recall@k: bounded, self-hit guaranteed, and consistent with the raw top-k sets") {
    val rows = Similarity.annRecall(spark, sf).collect()
    // each method reports every query (a query's own vector ranks 1 in
    // both the exact and approximate lists → at least one hit)
    assert(rows.groupBy(_.getString(1)).forall(_._2.length == 5))
    rows.foreach { r =>
      val hits = r.getAs[Long]("hits")
      assert(hits >= 1 && hits <= 10)
      assert(r.getAs[Double]("recall") === hits / 10.0)
    }
    // spot-check against the operator outputs themselves
    val exact = Similarity.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid")).map { case (q, g) => q -> g.map(_.getAs[Long]("vec_id")).toSet }
    val lsh = Similarity.annLsh(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid")).map { case (q, g) => q -> g.map(_.getAs[Long]("vec_id")).toSet }
    rows.filter(_.getString(1) == "lsh").foreach { r =>
      val q = r.getAs[Long]("qid")
      assert(r.getAs[Long]("hits") === (lsh(q) & exact(q)).size.toLong)
    }
  }

  test("embed_cluster occupancies partition the corpus; every centroid lands in its own cell") {
    val rows = Similarity.embedCluster(spark, sf).collect()
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === total)
    // all 16 cells present: each centroid assigns to itself (self-cosine ~1)
    assert(rows.map(_.getAs[Long]("cid")).toSet === (0L until 16L).toSet)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") >= 1L)
      assert(r.getAs[Double]("max_sim") > 0.999999)
      assert(r.getAs[Double]("min_sim") <= r.getAs[Double]("max_sim"))
    }
  }

  test("pq ANN matches a local product-quantization recomputation bitwise") {
    val raw = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = (100L until 116L).map(raw(_))
    val cb = (0 until 8).map(s => cents.map(_.slice(s * 8, s * 8 + 8)))
    // encode: per subspace, argmin squared-L2 with smaller-code tie-break —
    // the same left-to-right fold the operator unrolls
    def code(v: Array[Double]): Seq[Int] =
      (0 until 8).map { s =>
        cb(s).zipWithIndex.map { case (w, c) =>
          ((0 until 8).map { i => val d = v(s * 8 + i) - w(i); d * d }.reduce(_ + _), c)
        }.min._2
      }
    def adc(q: Array[Double], cd: Seq[Int]): Double =
      (0 until 8).map { s =>
        q.slice(s * 8, s * 8 + 8).zip(cb(s)(cd(s))).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      }.reduce(_ + _)
    val codes = raw.map { case (id, v) => id -> code(v) }
    val got = Similarity.annPq(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val exp = adc(raw(r.getAs[Long]("qid")), codes(r.getAs[Long]("vec_id")))
      assert(r.getAs[Double]("score") === exp)
    }
    // emitted ranks are exactly the local top-10 by (ADC score desc, vec_id)
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val expTop = codes.toSeq.map { case (vid, cd) => (vid, adc(raw(qid), cd)) }
        .sortBy { case (vid, s) => (-s, vid) }.take(10)
      val gotTop = rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
      assert(gotTop === expTop)
    }
  }

  test("ivfpq ANN equals the local cell-pruned ADC ranking bitwise") {
    val raw = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = (100L until 116L).map(raw(_))
    val cb = (0 until 8).map(s => cents.map(_.slice(s * 8, s * 8 + 8)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    def code(v: Array[Double]): Seq[Int] =
      (0 until 8).map { s =>
        cb(s).zipWithIndex.map { case (w, c) =>
          ((0 until 8).map { i => val d = v(s * 8 + i) - w(i); d * d }.reduce(_ + _), c)
        }.min._2
      }
    def adc(q: Array[Double], cd: Seq[Int]): Double =
      (0 until 8).map { s =>
        q.slice(s * 8, s * 8 + 8).zip(cb(s)(cd(s))).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      }.reduce(_ + _)
    // cell assignment: argmax cosine, smaller cid on ties (max (csim, -cid))
    val cell = raw.view.mapValues { v =>
      cents.zipWithIndex.map { case (c, i) => (cos(v, c), -i) }.max._2 * -1
    }.toMap
    val codes = raw.map { case (id, v) => id -> code(v) }
    val got = Similarity.queries("ann_ivfpq")(spark, sf).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      // query probes its 2 best cells; candidates = members of those cells
      val probed = cents.indices
        .map(i => (cos(raw(qid), cents(i)), -i)).sorted.reverse.take(2).map(_._2 * -1).toSet
      val expTop = codes.toSeq
        .filter { case (vid, _) => probed.contains(cell(vid)) }
        .map { case (vid, cd) => (vid, adc(raw(qid), cd)) }
        .sortBy { case (vid, s) => (-s, vid) }.take(10)
      val gotTop = rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
      assert(gotTop === expTop, s"qid=$qid")
      // self-hit: a query lands in its own best cell, which it probes
      assert(rs.exists(_.getAs[Long]("vec_id") == qid))
    }
  }

  test("quantized ANN matches a local int8 dot-product recomputation") {
    val raw = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val q = raw.collect { case (id, v) if v.map(math.abs).max > 0 =>
      val sc = v.map(math.abs).max
      id -> v.map(x => math.floor(x * 127.0 / sc).toLong)
    }.toMap
    val queries = q.filter(_._1 < 5)
    val got = graft.operators.Similarity.annQuantized(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val score = queries(r.getAs[Long]("qid")).zip(q(r.getAs[Long]("vec_id")))
        .map { case (a, b) => a * b }.sum
      assert(r.getAs[Long]("score") === score)
    }
    // per-query: the emitted ranks are exactly the true top-10 by
    // (integer score desc, vec_id asc) — no float ties exist by design
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val expTop = q.toSeq.map { case (vid, qv) =>
        (vid, queries(qid).zip(qv).map { case (a, b) => a * b }.sum)
      }.sortBy { case (vid, s) => (-s, vid) }.take(10)
      val gotTop = rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("score"))).toSeq
      assert(gotTop === expTop)
    }
  }

  test("kmeans step conserves cluster occupancy and quantized component mass") {
    val km = graft.operators.Similarity.embedKmeansStep(spark, sf).collect()
    val occ = graft.operators.Similarity.embedCluster(spark, sf).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Long]("n_vecs")).toMap
    // one row per (cluster, dim); occupancy agrees with embed_cluster's
    // assignment (same argmax, same tie-break)
    val byCid = km.groupBy(_.getAs[Long]("cid"))
    assert(byCid.keySet === occ.keySet)
    byCid.foreach { case (cid, rows) =>
      assert(rows.length === 64)
      rows.foreach(r => assert(r.getAs[Long]("n_vecs") === occ(cid)))
    }
    // per dim, Σ_cid n·mean recovers the corpus quantized component mass
    val e = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(_.getSeq[Float](1).map(_.toDouble))
    val mass = (0 until 64).map(i => e.map(v => math.round(v(i) * (1L << 20)).toDouble / (1L << 20)).sum)
    km.groupBy(_.getAs[Long]("dim")).foreach { case (dim, rows) =>
      val got = rows.map(r => r.getAs[Long]("n_vecs") * r.getAs[Double]("mean")).sum
      assert(math.abs(got - mass(dim.toInt - 1)) < 1e-4, s"dim $dim")
    }
  }

  test("exact re-rank never loses recall vs the raw PQ ranking") {
    val rec = graft.operators.Similarity.annRecall(spark, sf).collect()
      .map(r => (r.getAs[String]("method"), r.getAs[Long]("qid")) -> r.getAs[Long]("hits"))
      .toMap
    val qids = rec.keys.map(_._2).toSeq.distinct
    assert(qids.nonEmpty)
    // refine keeps the 10 exact-sim-best of a SUPERSET of pq's shortlist:
    // any displaced true hit is displaced only by other true hits
    qids.foreach { qid =>
      assert(rec(("pq_refine", qid)) >= rec(("pq", qid)), s"qid $qid")
    }
    // and refine's own top-k is internally consistent: rank-ordered by sim
    val ref = graft.operators.Similarity.annRefine(spark, sf).collect()
    ref.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("power iteration step is unit-norm and matches the collected XtXv recompute") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Similarity.embedPowerIter(spark, sf).collect()
      .map(r => (r.getAs[Long]("dim"), r.getAs[Long]("sum_q"), r.getAs[Double]("v1")))
      .sortBy(_._1)
    assert(rows.length === 64)
    assert(math.abs(rows.map(r => r._3 * r._3).sum - 1.0) < 1e-9) // normalized output
    // in-process recompute with the identical quantization
    val data = Tables.embeddings(spark, sf).collect()
      .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    val q = 1L << 18
    // Spark/DuckDB round() is HALF_UP (away from zero); Java's Math.round
    // rounds toward +inf, which differs on exact negative halves — and
    // float*2^18 DOES land on exact halves. Use the engines' semantic.
    def halfUp(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val sums = new Array[Long](64)
    data.foreach { v =>
      var dot = 0.0
      v.foreach(x => dot += x * 0.125)
      val qd = halfUp(dot * q)
      var i = 0
      while (i < 64) { sums(i) += qd * halfUp(v(i) * q); i += 1 }
    }
    assert(rows.map(_._2).toSeq === sums.toSeq)
  }

  test("embedding outliers are exactly the vectors whose best centroid cosine is below tau") {
    val raw = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = (100L until 116L).map(raw(_))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val expected = raw.toSeq.flatMap { case (id, v) =>
      val best = cents.map(cos(v, _)).max
      if (best < 0.10) Some(id) else None
    }.sorted
    val got = graft.operators.Similarity.embedOutliers(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSeq.sorted
    assert(got === expected)
    graft.operators.Similarity.embedOutliers(spark, sf).collect()
      .foreach(r => assert(r.getAs[Double]("best_sim") < 0.10))
  }

  test("persisted IVF cell layout: nprobe=2 probe is a partition-pruned read matching the in-memory path") {
    import org.apache.spark.sql.functions._
    val out = scratchDir("ivf-").toString
    graft.sources.Sinks.writeIvfCells(Similarity.ivfCells(spark, sf), out)
    val qid = 3L
    val cids = Similarity.probeCells(spark, sf, qid)
    assert(cids.length === 2)

    val res = Similarity.annIvfFromLayout(spark, out, sf, qid)
    val got = res.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    // parity: the layout read scores exactly the in-memory two-cell path
    val expect = Similarity.annIvf(spark, sf).filter(col("qid") === qid)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(got === expect)

    // pruning proof: the executed scan read exactly the probed directories'
    // files — never the whole corpus
    val finalPlan = res.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = finalPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.toString.contains("PartitionFilters") && scan.toString.contains("cid"))
    def parquetFilesIn(d: java.io.File): Long =
      d.listFiles.count(_.getName.endsWith(".parquet")).toLong
    val cellDirs = new java.io.File(out).listFiles.filter(_.getName.startsWith("cid="))
    val probed = cellDirs
      .filter(f => cids.contains(f.getName.stripPrefix("cid=").toLong))
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead === probed.map(parquetFilesIn).sum)
    assert(filesRead < cellDirs.map(parquetFilesIn).sum,
      "probe read as many files as a full corpus scan — no pruning")
  }

  test("ann_ivf_layout batches the whole query set into ONE pruned scan") {
    import org.apache.spark.sql.functions._
    // r13 shape: no per-query scan branches — one layout read pruned to
    // the UNION of probed cid= dirs, fanned out by a broadcast probe table
    val res = Similarity.annIvfLayout(spark, sf)
    val got = res.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    val expect = Similarity.annIvf(spark, sf).orderBy("qid", "rank").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    assert(got === expect)

    // AQE materializes finished stages as QueryStageExec LEAVES, so a
    // plain collect never sees the file scan — recurse through them
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        fileScans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(fileScans)
    }
    val scans = fileScans(res.queryExecution.executedPlan)
    assert(scans.length === 1,
      s"batched probe must be ONE scan of the layout, saw ${scans.length}")
    val probedCids = (0L until 5L)
      .flatMap(q => Similarity.probeCells(spark, sf, q)).distinct
    val layoutDir = new java.io.File(
      new org.apache.hadoop.fs.Path(Similarity.ivfLayoutDir(spark, sf)).toUri.getPath)
    def parquetFilesIn(d: java.io.File): Long =
      d.listFiles.count(_.getName.endsWith(".parquet")).toLong
    val cellDirs = layoutDir.listFiles.filter(_.getName.startsWith("cid="))
    val probedFiles = cellDirs
      .filter(f => probedCids.contains(f.getName.stripPrefix("cid=").toLong))
      .map(parquetFilesIn).sum
    assert(scans.head.metrics("numFiles").value === probedFiles,
      "scan must read exactly the union of probed cell directories")
    assert(probedFiles < cellDirs.map(parquetFilesIn).sum,
      "batched probe read the whole corpus — pruning lost")
  }

  test("drift halves partition the cluster profile and cross_diff is exact") {
    val drift = graft.operators.Similarity.embedDrift(spark, sf).collect()
    val cluster = graft.operators.Similarity.embedCluster(spark, sf).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Long]("n_vecs")).toMap
    val totA = drift.map(_.getAs[Long]("n_a")).sum
    val totB = drift.map(_.getAs[Long]("n_b")).sum
    drift.foreach { r =>
      val (cid, na, nb) = (r.getAs[Long]("cid"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(na + nb === cluster(cid)) // halves partition each cell exactly
      assert(r.getAs[Long]("cross_diff") === na * totB - nb * totA)
      assert(r.getAs[Double]("share_a") === na.toDouble / totA)
    }
  }

  test("embed_knn_graph edges match an in-process cell + top-k recompute") {
    import org.apache.spark.sql.functions._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    val cents = (100L until 116L).map(vecs)
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, ci) => (ci, cos(c, v)) }
        .maxBy { case (ci, sc) => (sc, -ci) }._1
    }
    val expected = vecs.keys.flatMap { id =>
      vecs.keys.toSeq.filter(o => o != id && cellOf(o) == cellOf(id))
        .map(o => (o, cos(vecs(id), vecs(o))))
        .sortBy { case (o, sc) => (-sc, o) }.take(5).zipWithIndex
        .map { case ((o, _), i) => (id, (i + 1).toLong, o) }
    }.toSet
    val got = Similarity.embedKnnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"), r.getAs[Long]("nbr"))).toSet
    assert(got === expected)
    // every vector with at least one cellmate has edges
    val populated = vecs.keys.count(id => vecs.keys.exists(o => o != id && cellOf(o) == cellOf(id)))
    assert(got.map(_._1).size > 0 && got.groupBy(_._1).size === populated)
  }

  test("embed_class_purity and embed_knn_label_acc match in-process recomputes") {
    import org.apache.spark.sql.functions._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val rows = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"), col("label"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray, r.getAs[Int]("label")))
    val vecs = rows.map(r => r._1 -> r._2).toMap
    val lbl = rows.map(r => r._1 -> r._3).toMap
    val cents = (100L until 116L).map(vecs)
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, ci) => (ci, cos(c, v)) }
        .maxBy { case (ci, sc) => (sc, -ci) }._1
    }
    // purity: per-cell majority label, ties to the smallest label
    val purity = Similarity.embedClassPurity(spark, sf).collect()
      .map(r => r.getAs[Long]("cid") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("major_label"), r.getAs[Long]("n_major")))).toMap
    cellOf.values.toSet.foreach { (c: Int) =>
      val members = vecs.keys.filter(cellOf(_) == c).toSeq
      val byLabel = members.groupBy(lbl).map { case (l, m) => (l, m.size) }
      val (ml, mc) = byLabel.toSeq.maxBy { case (l, n) => (n, -l) }
      val (n, gotL, gotC) = purity(c.toLong)
      assert(n === members.size.toLong && gotL === ml.toLong && gotC === mc.toLong, s"cell $c")
    }
    // knn label probe: majority over the top-5 in-cell neighbors
    val acc = Similarity.embedKnnLabelAcc(spark, sf).collect()
      .map(r => r.getAs[Long]("label") -> ((r.getAs[Long]("n_voted"), r.getAs[Long]("n_correct")))).toMap
    val expected = vecs.keys.toSeq.flatMap { id =>
      val nbrs = vecs.keys.toSeq.filter(o => o != id && cellOf(o) == cellOf(id))
        .map(o => (o, cos(vecs(id), vecs(o)))).sortBy { case (o, sc) => (-sc, o) }
        .take(5).map(_._1)
      if (nbrs.isEmpty) None else {
        val votes = nbrs.groupBy(lbl).map { case (l, m) => (l, m.size) }
        val pred = votes.toSeq.maxBy { case (l, n) => (n, -l) }._1
        Some((lbl(id), pred == lbl(id)))
      }
    }
    val byTrue = expected.groupBy(_._1).map { case (l, xs) =>
      l.toLong -> ((xs.size.toLong, xs.count(_._2).toLong)) }
    assert(acc === byTrue)
  }

  test("embed_knn_recall: counts reconcile and the audit contract is enforced") {
    val r = Similarity.embedKnnRecall(spark, sf, 10L, 0L).collect()(0)
    val (ns, ne, nh) = (r.getAs[Long]("n_sampled"), r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"))
    // every sampled vector has a full exact top-5 (corpus far exceeds K)
    assert(ne === ns * 5L)
    assert(nh >= 0L && nh <= ne)
    assert(r.getAs[Double]("recall") === nh.toDouble / ne)
    // the exact-kNN broadcast is bounded in the SIGNATURE, not the docs
    intercept[IllegalArgumentException] { Similarity.embedKnnRecall(spark, sf, 2L, 0L) }
  }

  test("embed_sim_hist partitions exactly the within-cell pairs and shares sum to 1") {
    import org.apache.spark.sql.functions._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    val cents = (100L until 116L).map(vecs)
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, ci) => (ci, cos(c, v)) }
        .maxBy { case (ci, sc) => (sc, -ci) }._1
    }
    val expBins = vecs.keys.toSeq.combinations(2).collect {
      case Seq(a, b) if cellOf(a) == cellOf(b) =>
        math.min(19L, math.floor((cos(vecs(a), vecs(b)) + 1.0) * 10.0).toLong)
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = Similarity.embedSimHist(spark, sf).collect()
    assert(rows.length === 20)
    val got = rows.map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_pairs")).toMap
    (0L until 20L).foreach { b => assert(got(b) === expBins.getOrElse(b, 0L)) }
    val totalPairs = expBins.values.sum
    assert(got.values.sum === totalPairs && totalPairs > 0)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
  }

  test("ann_range_search returns exactly the tau-ball inside each query's probed cells") {
    import org.apache.spark.sql.functions._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).toMap
    val cents = (100L until 116L).map(vecs)
    def ranked(v: Array[Double]): Seq[Int] =
      cents.zipWithIndex.map { case (c, ci) => (ci, cos(c, v)) }
        .sortBy { case (ci, sc) => (-sc, ci) }.map(_._1)
    val cellOf = vecs.map { case (id, v) => id -> ranked(v).head }
    val expected = (0L until 5L).flatMap { qid =>
      val probed = ranked(vecs(qid)).take(2).toSet
      vecs.keys.toSeq.filter(o => probed.contains(cellOf(o)))
        .map(o => (qid, o, cos(vecs(qid), vecs(o))))
        .filter(_._3 >= 0.3)
    }.map { case (q, o, _) => (q, o) }.toSet
    val rows = Similarity.annRangeSearch(spark, sf).collect()
    assert(rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet === expected)
    // self is always inside its own ball, at the top of its group
    (0L until 5L).foreach { qid =>
      val grp = rows.filter(_.getAs[Long]("qid") == qid)
      assert(grp.head.getAs[Long]("vec_id") === qid)
      assert(grp.head.getAs[Double]("sim") > 0.999)
      val sims = grp.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      sims.foreach(s => assert(s >= 0.3))
    }
  }

  test("select_cluster_balanced matches a local assign + md5-order recompute") {
    val raw = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = (100L until 116L).map(raw(_))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // operator tie-break: max (csim, -cid) struct = best cosine, then
    // SMALLER cid
    val assign = raw.view.mapValues { v =>
      cents.zipWithIndex.map { case (c, i) => (cos(v, c), -i) }.max._2 * -1
    }.toMap
    val expected = assign.groupBy(_._2).flatMap { case (cid, members) =>
      val ordered = members.keys.toSeq.sortBy(id => (md5hex(id.toString), id))
      ordered.take(8).zipWithIndex.map { case (id, i) =>
        (cid.toLong, (i + 1).toLong) -> ((id, members.size.toLong))
      }
    }
    val got = graft.operators.Similarity.queries("select_cluster_balanced")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("vec_id"), r.getAs[Long]("n_cell")))).toMap
    assert(got === expected)
    // every cell is represented with at most the quota
    assert(got.keys.map(_._1).toSet.size === 16)
    got.keys.groupBy(_._1).values.foreach(rs => assert(rs.size <= 8))
  }

  test("select_cluster_balanced plan ranks in (cid, salt) shards before the cid window") {
    // the structural guard for the two-phase top-Q: phase 1's Window must
    // partition by BOTH cid and salt (32-way map-spread) and appear below
    // phase 2's cid-only Window — a single cid window would drain the
    // corpus through |cells| = 16 reducers at scale
    val plan = graft.operators.Similarity.queries("select_cluster_balanced")(spark, sf)
      .queryExecution.executedPlan.toString
    val saltShard = "\\[cid#\\d+L?, salt#\\d+".r.findFirstIn(plan)
    assert(saltShard.isDefined, s"no (cid, salt)-partitioned window in:\n$plan")
    // both windows present: one partitioned (cid, salt), one cid-only
    val winDefs = "windowspecdefinition\\(cid#\\d+L?(, salt#\\d+L?)?,".r
      .findAllIn(plan).toSeq
    assert(winDefs.exists(_.contains("salt")) && winDefs.exists(!_.contains("salt")),
      s"expected both shard and final windows, got: $winDefs")
  }

  test("embed_source_divergence matches a local lattice-MMD recompute") {
    val kmQ = 1L << 20
    val rows = graft.sources.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getAs[Int]("label").toLong,
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    val byLabel = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // quantize exactly as the operator does: round(v·2^20) per component —
    // Spark/DuckDB round() is HALF_UP (away from zero), NOT Math.round
    // (which floors x+0.5 and disagrees on negative halves) — then BIGINT
    // sum per (label, dim) and a truncating lattice mean
    def halfUp(x: Double): Long =
      new java.math.BigDecimal(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val means = byLabel.map { case (l, vs) =>
      val dim = vs.head.length
      l -> ((0 until dim).map { i =>
        val s = vs.map(v => halfUp(v(i) * kmQ)).sum
        s / vs.length // Long division truncates toward zero, like `div`
      }.toArray, vs.length.toLong)
    }
    val got = graft.operators.Similarity.queries("embed_source_divergence")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("label_a"), r.getAs[Long]("label_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("mmd_l2sq"))))
      .toMap
    val labels = means.keys.toSeq.sorted
    assert(got.size === labels.combinations(2).size)
    for (Seq(a, b) <- labels.combinations(2)) {
      val (ma, na) = means(a)
      val (mb, nb) = means(b)
      val l2 = ma.zip(mb).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(got((a, b)) === ((na, nb, l2)), s"pair=($a,$b)")
    }
    // MMD² is nonnegative and zero only for identical lattice means
    got.values.foreach { case (_, _, m) => assert(m >= 0L) }
  }
}
