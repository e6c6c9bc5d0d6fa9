package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup partitions all docs into hash groups") {
    val total = graft.sources.Tables.documents(spark, sf).count()
    val groups = Dedup.dedupExact(spark, sf)
    assert(groups.agg(sum("n_docs")).head.getLong(0) === total)
    // canonical id is a member ⇒ canonical ≤ any other member id
    assert(groups.filter(col("canonical_id") < 0).count() === 0)
  }

  test("minhash estimate tracks exact jaccard on candidate pairs") {
    val est = Dedup.dedupMinhashLsh(spark, sf)
      .select(col("da"), col("db"), col("est_jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.dedupNgramJaccard(spark, sf)
      .select(col("da"), col("db"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "expected near-dup pairs in the synthetic corpus")
    // every verified pair is an LSH candidate, and the 16-perm estimate is
    // within 0.35 of the true jaccard for true near-dups (binomial bound)
    exact.foreach { case (pair, j) =>
      assert(est.contains(pair), s"verified pair $pair missing from candidates")
      assert(math.abs(est(pair) - j) < 0.35, s"pair $pair est=${est(pair)} true=$j")
    }
  }

  test("simhash near pairs have genuinely similar fingerprints") {
    val rows = Dedup.dedupSimhash(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("hamming") <= 8))
  }

  test("embedding near-dup cosines are within [tau, 1]") {
    val rows = Dedup.dedupEmbedding(spark, sf).collect()
    rows.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= 0.3 && c <= 1.0 + 1e-12)
    }
  }

  test("degenerate LSH buckets are dropped (skew guard); exact dedup still groups them") {
    // pathological corpus: 200 byte-identical docs — every band bucket they
    // share holds 200 > cap(50) members, so the guard must refuse the
    // C(200,2) = 19,900 garbage pairs; exact dedup handles true duplicates
    val dir = scratchDir("skew-").toString
    import spark.implicits._
    val hot = (0L until 200L).map(i =>
      (i, "the same exact boilerplate text repeated verbatim on every mirror page of the crawl"))
    val normal = (200L until 250L).map(i =>
      (i, s"unique document number $i with words token${i * 7} item${i * 13} filler${i * 3} that differ per doc"))
    (hot ++ normal).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
      .withColumn("n_chars", octet_length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val hotIds = (0L until 200L).toSet
      val pairs = Dedup.dedupMinhashLsh(spark, dir).collect()
      assert(!pairs.exists(r => hotIds(r.getAs[Long]("da")) && hotIds(r.getAs[Long]("db"))),
        "bucket cap must drop the degenerate 200-doc bucket, not pair it quadratically")
      val exactGroups = Dedup.dedupExact(spark, dir)
        .filter(col("n_docs") === 200).collect()
      assert(exactGroups.length === 1, "exact dedup must still collapse the 200 identical docs")
      assert(exactGroups.head.getAs[Long]("canonical_id") === 0L)
    } finally Dedup.releaseCaches()
  }

  test("native minhash_sig equals the explode+aggregate signature bitwise") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val native = docs.select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    // the composable formulation the oracle mirrors: shingle explode →
    // 16 substring(md5) columns → 16 min aggregates
    val sh = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
    val hashed = sh.select(
      col("doc_id") +: (0 until 16).map(k =>
        substring(md5(concat(lit(s"${k / 4}|"), col("s"))), (k % 4) * 8 + 1, 8).as(s"h$k")): _*)
    val agg = hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("m0"), (1 until 16).map(k => min(col(s"h$k")).as(s"m$k")): _*)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 16).map(k => r.getAs[String](s"m$k")))
    assert(agg.nonEmpty && agg.length === native.size)
    agg.foreach { case (id, sig) => assert(native(id) === sig, s"doc $id") }
  }

  test("native shingle_set equals the explode+distinct formulation as a set") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val native = docs.select(col("doc_id"), expr("shingle_set(text)").as("ss"))
      .filter(col("ss").isNotNull).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val composable = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
      .distinct().collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("s")).toSet }
    assert(composable.nonEmpty && composable.size === native.size)
    composable.foreach { case (id, s) =>
      assert(native(id).toSet === s, s"doc $id")
      assert(native(id).distinct.length === native(id).length, s"doc $id has dupes")
    }
  }

  test("native simhash64 equals the count-weighted 64-sum formulation bitwise") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val native = docs.select(col("doc_id"), expr("simhash64(text)").as("ks")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Int](1)).toMap
    // composable formulation: token counts → 64 weighted SUMs → sign bits
    val tok = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val chunkedTok = tok.select(col("doc_id") :: col("c") ::
      (0 until 4).map(j =>
        conv(substring(md5(col("t")), j * 4 + 1, 4), 16, 10).cast("int").as(s"c$j")).toList: _*)
    val sums = chunkedTok.groupBy("doc_id")
      .agg(sum(col("c") * (shiftright(col("c0"), 15).bitwiseAND(lit(1)) * 2 - 1)).as("s0"),
        (1 until 64).map { b =>
          val (j, r) = (b / 16, b % 16)
          sum(col("c") * (shiftright(col(s"c$j"), 15 - r).bitwiseAND(lit(1)) * 2 - 1)).as(s"s$b")
        }: _*)
    val expected = sums.select(col("doc_id") +: (0 until 4).map { j =>
      (0 until 16).map(r =>
        when(col(s"s${16 * j + r}") > 0, lit(1 << (15 - r))).otherwise(lit(0)))
        .reduce(_ + _).cast("int").as(s"k$j")
    }: _*).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until 4).map(j => r.getAs[Int](s"k$j")))
    assert(expected.nonEmpty && expected.length === native.size)
    expected.foreach { case (id, ks) => assert(native(id) === ks, s"doc $id") }
  }

  test("components: canonical ids are component minima and pairs share components") {
    val labels = Dedup.dedupComponents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    // canonical is never larger than the doc, and is itself canonical
    labels.foreach { case (doc, canon) =>
      assert(canon <= doc)
      assert(labels(canon) === canon, s"canonical $canon of $doc is not a root")
    }
    // every verified near-dup pair ended up in the same component
    Dedup.dedupNgramJaccard(spark, sf).select("da", "db").collect().foreach { r =>
      assert(labels(r.getAs[Long]("da")) === labels(r.getAs[Long]("db")))
    }
  }

  test("cluster-size distribution conserves docs and matches the canonical assignment") {
    val stats = Dedup.dedupClusterStats(spark, sf).collect()
      .map(r => r.getAs[Long]("sz") -> r.getAs[Long]("n_clusters")).toMap
    val canon = Dedup.dedupComponents(spark, sf).collect()
      .map(r => r.getAs[Long]("canonical_id"))
    // Σ size·clusters = corpus size; distribution equals a local groupBy
    assert(stats.map { case (sz, n) => sz * n }.sum === canon.length.toLong)
    val expected = canon.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, g) => sz -> g.size.toLong }
    assert(stats === expected)
  }

  test("dedup_apply keeps exactly the canonical docs") {
    val mapping = Dedup.dedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.dedupApply(spark, sf).collect().map(_.getLong(0)).toSet
    val canonical = mapping.filter { case (id, c) => id == c }.keySet
    assert(kept === canonical)
    // every dropped doc's canonical survives
    mapping.filterNot { case (id, c) => id == c }
      .values.foreach(c => assert(kept(c)))
  }

  test("containment dominates jaccard on shared pairs and matches a local recomputation") {
    val cont = Dedup.dedupContainment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("containment")).toMap
    val jac = Dedup.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(cont.nonEmpty, "expected containment pairs in the synthetic corpus")
    cont.values.foreach(c => assert(c >= 0.9 && c <= 1.0))
    // inter/min >= inter/union, so every verified pair with jaccard >= 0.9
    // must surface here, and containment dominates jaccard where both exist
    jac.filter(_._2 >= 0.9).keys.foreach(k => assert(cont.contains(k)))
    cont.keys.filter(jac.contains).foreach(k => assert(cont(k) >= jac(k)))
    // independent local recomputation from raw shingle sets
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet).toMap
    cont.foreach { case ((da, db), c) =>
      val (a, b) = (docs(da), docs(db))
      assert(c === a.intersect(b).size.toDouble / math.min(a.size, b.size))
    }
  }

  test("substring dedup matches a local recomputation and reports every doc") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val wins = docs.collect { case (id, w) if w.length >= 16 =>
      id -> w.sliding(16).map(_.mkString(" ")).toSet
    }.toMap
    val freq = scala.collection.mutable.Map[String, Int]()
    wins.values.foreach(_.foreach(g => freq(g) = freq.getOrElse(g, 0) + 1))
    val got = graft.operators.Dedup.dedupSubstring(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"), r.getAs[java.lang.Double]("dup_ratio")))).toMap
    // EVERY doc is reported — short docs (< 16 tokens) with n_windows=0 and
    // a NULL ratio; dropping them made downstream corpus-level dup-ratio
    // aggregations overstate coverage (r7 advice)
    assert(got.keySet === docs.map(_._1).toSet)
    docs.map(_._1).filterNot(wins.contains).foreach { id =>
      assert(got(id) === ((0L, 0L, null)), s"short doc $id must report zero windows")
    }
    wins.foreach { case (id, ws) =>
      val nd = ws.count(g => freq(g) > 1).toLong
      val (nw, gnd, ratio) = got(id)
      assert(nw === ws.size.toLong, s"doc $id window count")
      assert(gnd === nd, s"doc $id duplicated-window count")
      assert(ratio.doubleValue === nd.toDouble / ws.size)
    }
  }

  test("edit-verified pairs carry the true Levenshtein distance within threshold") {
    def lev(a: String, b: String): Long = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (j <- 0 to b.length) prev(j) = j
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val cost = if (a(i - 1) == b(j - 1)) 0 else 1
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        }
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length).toLong
    }
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = graft.operators.Dedup.dedupEditVerify(spark, sf).collect()
    assert(rows.nonEmpty, "the synthetic corpus contains near-identical docs")
    rows.foreach { r =>
      val (da, db) = (r.getAs[Long]("da"), r.getAs[Long]("db"))
      val d = lev(texts(da), texts(db))
      assert(r.getAs[Long]("edit_dist") === d, s"pair ($da,$db)")
      val maxLen = math.max(texts(da).length, texts(db).length).toLong
      assert(r.getAs[Long]("max_len") === maxLen)
      assert(d * 10 <= maxLen, "threshold must hold for every emitted pair")
    }
  }

  test("incremental screen matches an in-process recompute over collected signatures") {
    val sigs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toVector).toMap
    val (batch, corpus) = sigs.partition(_._1 % 10 == 0)
    assert(batch.nonEmpty && corpus.nonEmpty)
    def bands(sig: Vector[String]): Seq[(Int, String)] =
      (0 until 4).map(b => b -> sig.slice(b * 4, b * 4 + 4).mkString("|"))
    val corpusEntries = corpus.toSeq.flatMap { case (id, s) => bands(s).map(bk => bk -> id) }
    val bucketSize = corpusEntries.groupBy(_._1).view.mapValues(_.size).toMap
    val corpusByBucket = corpusEntries
      .filter { case (bk, _) => bucketSize(bk) <= 50 }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = batch.map { case (id, s) =>
      val cands = bands(s).flatMap(bk => corpusByBucket.getOrElse(bk, Set.empty[Long])).toSet
      val nDup = cands.count { cid =>
        s.zip(sigs(cid)).count { case (a, b) => a == b } * 2 >= 16
      }
      id -> ((cands.size.toLong, nDup.toLong, if (nDup > 0) 1L else 0L))
    }
    val got = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_cand"), r.getAs[Long]("n_dup"), r.getAs[Long]("is_dup")))).toMap
    assert(got === expected)
  }

  test("incremental probe against the persisted bucketed LSH index: parity + exchange-free layout") {
    import org.apache.spark.sql.functions._
    // clean a previous JVM's warehouse leftovers (BucketJoinSpec convention)
    Seq("lshidx_bands", "lshidx_sigs").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get("/tmp/graft-test-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    val (bands, sigs) = Dedup.incrementalIndexParts(spark, sf)
    graft.sources.Sinks.writeLshIndex(bands, sigs, "lshidx")

    // numFiles: each table is exactly its bucket files (8 buckets, one
    // file each — a single write task per bucket at this scale)
    Seq("lshidx_bands", "lshidx_sigs").foreach { t =>
      val files = java.nio.file.Files.list(
          java.nio.file.Paths.get("/tmp/graft-test-warehouse", t))
        .filter(p => p.toString.endsWith(".parquet")).count()
      assert(files === 8, s"$t should be 8 bucket files, was $files")
    }

    // parity: the persisted-index probe returns exactly the inline result
    val got = Dedup.dedupIncrementalFromIndex(spark, sf, "lshidx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)

    // layout property: a merge join keyed exactly (band, bk) consumes the
    // bucketing with ZERO exchange (BucketJoinSpec regime — at 100 TB the
    // corpus index is never broadcast, and this is the plan that matters)
    val a = spark.table("lshidx_bands")
    val b = spark.table("lshidx_bands").withColumnRenamed("cid", "cid2")
    val j = a.hint("merge").join(b, Seq("band", "bk"))
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucketed (band, bk) self-join must not shuffle")
    assert(j.count() > 0)
  }

  test("dedup_semantic verdicts match an in-process cell + cosine recompute") {
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
    // same assignment rule: argmax cosine, ties to the lower cell id
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, ci) => (ci, cos(c, v)) }
        .maxBy { case (ci, s) => (s, -ci) }._1
    }
    val got = Dedup.dedupSemantic(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cid"), r.getAs[Long]("n_dup_of"), r.getAs[Long]("keep")))).toMap
    assert(got.keySet === vecs.keySet)
    vecs.keys.foreach { id =>
      val nDup = vecs.keys.count(o => o < id && cellOf(o) == cellOf(id) &&
        cos(vecs(o), vecs(id)) >= 0.3)
      val (cid, n, keep) = got(id)
      assert(cid === cellOf(id).toLong, s"vec $id cell")
      assert(n === nDup.toLong, s"vec $id n_dup_of")
      assert(keep === (if (nDup == 0) 1L else 0L), s"vec $id keep")
    }
    // the dedup actually drops something, and min-id canonicals survive
    assert(got.values.exists(_._3 === 0L))
    val minPerCell = vecs.keys.groupBy(cellOf).map { case (_, ids) => ids.min }
    minPerCell.foreach(id => assert(got(id)._3 === 1L, s"cell-min $id must be kept"))
  }

  test("dedup_semantic_tune: curves are monotone in tau and agree with dedup_semantic at 0.3") {
    val rows = Dedup.dedupSemanticTune(spark, sf).collect()
      .map(r => r.getAs[Double]("tau") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dropped"), r.getAs[Double]("drop_rate")))).toMap
    assert(rows.keySet === Set(0.2, 0.3, 0.4, 0.5))
    // raising tau never finds more pairs or drops more vectors
    val taus = Seq(0.2, 0.3, 0.4, 0.5)
    taus.sliding(2).foreach { case Seq(lo, hi) =>
      assert(rows(lo)._1 >= rows(hi)._1, s"pairs not monotone at $hi")
      assert(rows(lo)._2 >= rows(hi)._2, s"dropped not monotone at $hi")
    }
    // the tau=0.3 point IS dedup_semantic's drop count
    val dropped = Dedup.dedupSemantic(spark, sf).filter("keep = 0").count()
    assert(rows(0.3)._2 === dropped)
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows(0.3)._3 === dropped.toDouble / nVecs.toDouble)
  }

  test("prefix dedup groups are real: members share the 24-token prefix, canonical is the min id") {
    import org.apache.spark.sql.functions._
    val groups = Dedup.dedupPrefix(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("canonical_id")))
    assert(groups.nonEmpty)
    groups.foreach { case (_, n, _) => assert(n >= 2L) }
    // independent recompute from raw text
    val expected = graft.sources.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 24)
      .select(col("doc_id"), md5(concat_ws(" ", slice(col("w"), 1, 24))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"), min("doc_id").as("c"))
      .filter(col("n") > 1).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Long]("c"))).sortBy(_._1)
    assert(groups.sortBy(_._1).toSeq === expected.toSeq)
  }

  test("degree distribution accounts for every verified edge endpoint") {
    val pairs = Dedup.dedupNgramJaccard(spark, sf).collect()
    val dist = Dedup.dedupDegreeDist(spark, sf).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes"))
    // sum(degree * nodes) = 2 * |edges|; sum(nodes) = |distinct endpoints|
    assert(dist.map { case (d, n) => d * n }.sum === 2L * pairs.length)
    val endpoints = pairs.flatMap(r => Seq(r.getAs[Long]("da"), r.getAs[Long]("db"))).distinct
    assert(dist.map(_._2).sum === endpoints.length.toLong)
  }

  test("cross-source totals conserve the verified pair table") {
    val byPair = Dedup.dedupCrossSource(spark, sf).collect()
    val verified = Dedup.dedupNgramJaccard(spark, sf).collect()
    assert(byPair.map(_.getAs[Long]("n_pairs")).sum === verified.length.toLong)
    assert(byPair.map(_.getAs[Long]("sum_inter")).sum
      === verified.map(_.getAs[Long]("inter")).sum)
    byPair.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"))
      assert(r.getAs[Double]("max_jaccard") >= 0.8) // JaccardTau
    }
  }

  test("dedup_recall: hits = verified pairs exactly, bands well-formed") {
    val (mod, rem) = (Dedup.TuneAuditMod, Dedup.TuneAuditRem)
    val bands = Dedup.dedupRecall(spark, sf, mod, rem).collect()
    bands.foreach { r =>
      val (t, h) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_hit"))
      assert(h <= t && t > 0)
      assert(r.getAs[Double]("recall") === h.toDouble / t.toDouble)
      val b = r.getAs[Long]("band")
      assert(b >= 5 && b <= 10) // tau = 0.5 floor, 10 = identical sets
    }
    // truth ∩ candidates = candidates passing exact-jaccard tau = verified,
    // all restricted to the audit band (shingle sets per doc are unchanged
    // by doc-id sampling, so the restricted identity holds exactly): the
    // summed hits must equal the in-band verified pair table
    val verified = Dedup.dedupNgramJaccard(spark, sf)
      .filter(col("da") % mod === rem && col("db") % mod === rem).count()
    assert(bands.map(_.getAs[Long]("n_hit")).sum === verified)
    // the audit contract is enforced in the signature, not the Scaladoc
    intercept[IllegalArgumentException] { Dedup.dedupRecall(spark, sf, 1L, 0L) }
    intercept[IllegalArgumentException] { Dedup.dedupLshTune(spark, sf, 1L, 0L) }
    // the density guard raises BEFORE the truth equijoin materializes a
    // pair: any positive pair mass exceeds a budget of 0, and the raise
    // carries the mass so the caller can size the band
    val ex = intercept[Throwable] {
      Dedup.dedupRecall(spark, sf, mod, rem, pairBudget = 0L).collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("over budget"), chain.take(500))
  }

  test("pipeline_dedup reconciles with the standalone family members") {
    val rows = Dedup.pipelineDedup(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("chars_kept") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Double]("keep_ratio") ===
        r.getAs[Long]("chars_kept").toDouble / r.getAs[Long]("chars_total"))
    }
    // total drops = |exact-norm non-canonical ∪ keep-best losers|, recomputed
    // from the standalone operators
    val normDrops = Dedup.dedupExactNorm(spark, sf).collect()
      .map(_.getAs[Long]("n_docs") - 1L).sum
    val bestKept = Dedup.dedupKeepBest(spark, sf).collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("kept_doc_id")).toMap
    val canon = Dedup.dedupComponents(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id")))
    val nearDropSet = canon.collect {
      case (doc, c) if bestKept.get(c).exists(_ != doc) => doc
    }.toSet
    // union accounting needs the exact drop SET, so recompute it off
    // dedup_exact_norm's group table
    val normHash = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(org.apache.spark.sql.functions.regexp_replace(
          org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.trim(
            org.apache.spark.sql.functions.col("text"))), "\\s+", " ")).as("h"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("h")))
    val keepByHash = normHash.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val normDropSet = normHash.collect {
      case (doc, h) if keepByHash(h) != doc => doc
    }.toSet
    assert(normDropSet.size.toLong === normDrops)
    val expectKept = nDocs - (normDropSet ++ nearDropSet).size
    assert(rows.map(_.getAs[Long]("n_kept")).sum === expectKept)
  }

  test("substring apply masks the shared span everywhere except the min-id owner") {
    import spark.implicits._
    // 16-token span S shared by docs 1 (owner), 2 (at offset 3), and 3
    // (twice, offsets 1 and 20); doc 4 has no 16-token window at all.
    val S = (1 to 16).map(i => s"s$i").mkString(" ")
    val pre3 = "a b c" // 3 tokens -> S starts at index 4 in doc 2
    val mid3 = (1 to 3).map(i => s"m$i").mkString(" ") // between S copies in doc 3
    val docs = Seq(
      (1L, S + " tail1 tail2"),
      (2L, pre3 + " " + S),
      (3L, S + " " + mid3 + " " + S),
      (4L, "too short to window")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSubstringApplyFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_masked"),
          Option(r.getAs[String]("masked_idx")))).toMap
    // doc 1 owns every duplicated window -> nothing masked
    assert(got(1L)._2 === 0L && got(1L)._3.isEmpty)
    // doc 2: 19 tokens -> 4 windows; only the one at idx 4 is the full S
    assert(got(2L)._1 === 4L)
    assert(got(2L)._3 === Some("4"))
    // doc 3: both copies of S mask (idx 1 and 20); the straddling windows
    // between them are unique corpus-wide and survive
    assert(got(3L)._3 === Some("1,20"))
    // doc 4: no windows, nothing masked, NULL mask list
    assert(got(4L) === ((0L, 0L, None)))
  }

  test("randomized: substring-apply masks equal brute force on 10 seeded corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val W = 16
    for (trial <- 1 to 10) {
      // small vocab + doc lengths straddling the window width force both
      // shared spans and sub-window docs
      val docs = (1L to (3 + rnd.nextInt(5)).toLong).map { id =>
        val n = 10 + rnd.nextInt(30)
        (id, (1 to n).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }
      // brute force: window text -> owner = min doc over docs CONTAINING
      // it; an occurrence masks when >=2 docs contain it and this doc
      // isn't the owner
      val wins = docs.flatMap { case (id, text) =>
        val w = text.trim.split("\\s+")
        if (w.length >= W)
          (0 to w.length - W).map(i => (id, i + 1L, w.slice(i, i + W).mkString(" ")))
        else Seq.empty
      }
      val owners = wins.groupBy(_._3).map { case (g, xs) =>
        g -> ((xs.map(_._1).distinct.size, xs.map(_._1).min))
      }
      val expect = docs.map { case (id, text) =>
        val w = text.trim.split("\\s+")
        val nw = if (w.length >= W) (w.length - W + 1).toLong else 0L
        val masked = wins.collect {
          case (d, idx, g) if d == id && owners(g)._1 > 1 && owners(g)._2 != id => idx
        }.sorted
        id -> ((nw, masked.length.toLong,
          if (masked.isEmpty) None else Some(masked.mkString(","))))
      }.toMap
      val got = Dedup.dedupSubstringApplyFrom(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_masked"),
            Option(r.getAs[String]("masked_idx"))))).toMap
      assert(got === expect, s"trial $trial docs=$docs")
    }
  }

  test("source inflation reconciles with the canonical assignment it derives from") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("n_chars")))
    val canon = Dedup.dedupComponents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    val rows = Dedup.dedupSourceInflation(spark, sf).collect()
    // every source accounted for, corpus totals preserved
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
    assert(rows.map(_.getAs[Long]("chars_total")).sum === docs.map(_._3).sum)
    // per-source duplicate mass matches a direct recompute off the mapping
    val expect = docs.groupBy(_._2).view.mapValues { ds =>
      val dups = ds.filter { case (id, _, _) => canon(id) != id }
      (dups.length.toLong, dups.map(_._3).sum)
    }.toMap
    rows.foreach { r =>
      val (nd, cd) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_dup_docs") === nd)
      assert(r.getAs[Long]("chars_dup") === cd)
    }
  }

  test("dedup_minhash_1bit: bit matches dominate full matches and estimates follow the closed forms") {
    val rows = graft.operators.Dedup.dedupMinhash1bit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m1, mf) = (r.getAs[Long]("m1"), r.getAs[Long]("m_full"))
      // a full 8-hex-char match implies a low-bit match, never the reverse
      assert(m1 >= mf, s"pair (${r.get(0)}, ${r.get(1)}): m1 $m1 < m_full $mf")
      assert(m1 >= 0L && m1 <= 16L && mf >= 0L && mf <= 16L)
      assert(r.getAs[Double]("est_1bit") === (m1 * 2 - 16) / 16.0)
      assert(r.getAs[Double]("est_full") === mf / 16.0)
    }
  }
}
