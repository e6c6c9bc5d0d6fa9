package graft

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {

  test("token counts are consistent (distinct ≤ whitespace ≤ regex tokens)") {
    TextAnalysis.textTokens(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("distinct_tokens") <= r.getAs[Long]("ws_tokens"))
      // letters-only corpus: regex tokens == whitespace tokens here
      assert(r.getAs[Long]("re_tokens") >= r.getAs[Long]("ws_tokens"))
    }
  }

  test("quality score is bounded in [0, 1]") {
    TextAnalysis.textQuality(spark, sf).collect().foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[Double]("stop_ratio") >= 0.0 && r.getAs[Double]("stop_ratio") <= 1.0)
    }
  }

  test("langid predicts one of the five languages for every doc") {
    val langs = Set("de", "en", "es", "fr", "zh")
    val rows = TextAnalysis.textLangid(spark, sf).collect()
    assert(rows.length === graft.sources.Tables.documents(spark, sf).count())
    rows.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("boilerplate ratio matches a local df recomputation") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val n = docs.length
    val shingles = docs.map { case (id, w) =>
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val df = shingles.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.length }
    val got = TextAnalysis.textBoilerplate(spark, sf).collect()
    assert(got.length === shingles.length)
    val byId = shingles.toMap
    got.foreach { r =>
      val sh = byId(r.getAs[Long]("doc_id"))
      val boiler = sh.count(s => df(s) > 2 && df(s) * 100 > n)
      assert(r.getAs[Long]("n_shingles") === sh.size.toLong)
      assert(r.getAs[Long]("n_boiler") === boiler.toLong)
      assert(r.getAs[Double]("boiler_ratio") === boiler.toDouble / sh.size)
    }
  }

  test("doc_split is a pure function of doc_id with roughly 80/10/10 mass") {
    val rows = TextAnalysis.docSplit(spark, sf).collect()
    val n = rows.length.toDouble
    rows.foreach { r =>
      // recompute the bucket locally: first two hex chars of md5(doc_id)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(r.getAs[Long]("doc_id").toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val bucket = java.lang.Long.parseLong(hex.take(2), 16)
      assert(r.getAs[Long]("bucket") === bucket)
      val expected = if (bucket < 204) "train" else if (bucket < 230) "val" else "test"
      assert(r.getAs[String]("split") === expected)
    }
    val frac = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9)
    assert(frac.getOrElse("val", 0.0) < 0.2 && frac.getOrElse("test", 0.0) < 0.2)
  }

  test("fingerprints are 3 concatenated md5s and stable across runs") {
    val a = TextAnalysis.textFingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextAnalysis.textFingerprint(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    a.values.foreach(fp => assert(fp.length === 96 && fp.matches("[0-9a-f]+")))
  }

  test("pii scan counts synthetic emails/ips/ssns/phones exactly (corpus itself is digit-free)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact alice@example.com or bob.smith+tag@mail.co today"),
      (2L, "server at 10.0.0.1 and 192.168.001.255 responded"),
      (3L, "ssn 123-45-6789 phone 555-123-4567 and 555 987 6543"),
      (4L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.textPiiFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(1L) === ((2L, 0L, 0L, 0L, true)))
    assert(got(2L) === ((0L, 2L, 0L, 0L, true)))
    // 555-123-4567 matches BOTH the ssn-form (no: 3-2-4 ≠ 3-3-4) and the
    // phone-form pattern; 123-45-6789 matches only the ssn form
    assert(got(3L) === ((0L, 0L, 1L, 2L, true)))
    assert(got(4L) === ((0L, 0L, 0L, 0L, false)))
    // the shipped corpus is digit-free: every count must be zero
    val corpus = TextAnalysis.textPii(spark, sf)
    assert(corpus.filter(org.apache.spark.sql.functions.col("has_pii")).count() === 0)
  }

  test("pii redaction replaces synthetic matches with typed placeholders; corpus is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact alice@example.com or bob.smith+tag@mail.co today"),
      (2L, "server at 10.0.0.1 and 192.168.001.255 responded"),
      (3L, "ssn 123-45-6789 phone 555-123-4567 and 555 987 6543"),
      (4L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.textPiiRedactFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("contact [EMAIL] or [EMAIL] today", 2L)))
    assert(got(2L) === (("server at [IPV4] and [IPV4] responded", 2L)))
    assert(got(3L) === (("ssn [SSN] phone [PHONE] and [PHONE]", 3L)))
    assert(got(4L) === (("nothing sensitive here at all", 0L)))
    // digit-free corpus: redaction must be the identity with zero counts
    val corpus = TextAnalysis.textPiiRedact(spark, sf)
      .join(graft.sources.Tables.documents(spark, sf), Seq("doc_id"))
    assert(corpus.filter(org.apache.spark.sql.functions.col("n_redacted") =!= 0L).count() === 0)
    assert(corpus.filter(
      org.apache.spark.sql.functions.col("redacted") =!=
        org.apache.spark.sql.functions.col("text")).count() === 0)
  }

  test("doc length histogram partitions the corpus with exact power-of-two edges") {
    val rows = TextAnalysis.docLengthHistogram(spark, sf).collect()
    val lens = graft.sources.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0).trim.split("\\s+").length.toLong)
      .filter(_ >= 1)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === lens.length)
    assert(rows.map(_.getAs[Long]("total_tokens")).sum === lens.sum)
    rows.foreach { r =>
      val (b, lo, hi) = (r.getAs[Long]("bucket"), r.getAs[Long]("lo"), r.getAs[Long]("hi"))
      assert(lo === (1L << b) && hi === (1L << (b + 1)) - 1)
      // every doc in this bucket has lo <= nw <= hi — recompute locally
      assert(lens.count(n => n >= lo && n <= hi).toLong === r.getAs[Long]("n_docs"))
    }
  }

  test("repetition: top-bigram count matches a local recomputation and ratios are bounded") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextAnalysis.textRepetition(spark, sf).collect()
    assert(rows.length === texts.size)
    rows.take(50).foreach { r =>
      val w = texts(r.getLong(0)).trim.split("\\s+", -1)
      val top2 = if (w.length < 2) 0L
        else w.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).values.map(_.size).max.toLong
      assert(r.getAs[Long]("top_bigram_n") === top2)
      assert(r.getAs[Double]("top_bigram_ratio") >= 0.0 && r.getAs[Double]("top_bigram_ratio") <= 1.0)
      assert(r.getAs[Double]("dup_word_ratio") >= 0.0 && r.getAs[Double]("dup_word_ratio") < 1.0)
    }
  }

  test("doc_chunks: windows cover every token with the declared 32-token overlap") {
    val nw = TextAnalysis.textTokens(spark, sf)
      .select("doc_id", "ws_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = TextAnalysis.docChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("end_tok"), r.getAs[Long]("n_tokens")))
    chunks.groupBy(_._1).foreach { case (doc, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.head._3 === 0L)
      assert(sorted.last._4 === nw(doc), "last chunk ends at the doc's token count")
      sorted.foreach { case (_, idx, start, end, n) =>
        assert(start === idx * 96)
        assert(n === end - start)
        assert(n <= 128)
      }
      // stride 96 < len 128 → consecutive chunks overlap (no token orphaned)
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1)._3 < w(0)._4, "consecutive chunks must overlap")
      }
    }
    assert(chunks.map(_._1).toSet === nw.filter(_._2 > 0).keySet)
  }

  test("doc_mixture keeps sources at their configured rates, consistent with doc_split buckets") {
    val kept = TextAnalysis.docMixture(spark, sf).collect()
    val buckets = TextAnalysis.docSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("bucket")).toMap
    // identical md5-bucket construction as doc_split → same bucket per doc
    kept.foreach { r =>
      assert(r.getAs[Long]("bucket") === buckets(r.getLong(0)))
      assert(r.getAs[Long]("bucket") < r.getAs[Long]("threshold"))
    }
    // empirical rates land near the configured 75%/25% (binomial, n=25/source)
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySrc = kept.groupBy(_.getString(1)).map { case (s, g) => s -> g.length.toLong }
    val (hi, lo) = total.keys.toSeq.partition(s => (0 until 10).map(i => s"src$i").contains(s))
    val hiRate = hi.map(s => keptBySrc.getOrElse(s, 0L)).sum.toDouble / hi.map(total).sum
    val loRate = lo.map(s => keptBySrc.getOrElse(s, 0L)).sum.toDouble / lo.map(total).sum
    assert(hiRate > 0.6 && hiRate < 0.9, s"high-rate strata at $hiRate")
    assert(loRate > 0.1 && loRate < 0.4, s"low-rate strata at $loRate")
    // rerun is identical — membership is a pure function of identity
    val again = TextAnalysis.docMixture(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(again === kept.map(_.getLong(0)).toSeq)
  }

  test("corpus_stats aggregates are consistent with the per-doc token counts") {
    val row = TextAnalysis.corpusStats(spark, sf).head()
    val perDoc = TextAnalysis.textTokens(spark, sf).collect()
    val nDocs = perDoc.length.toLong
    val total = perDoc.map(_.getAs[Long]("ws_tokens")).sum
    assert(row.getAs[Long]("n_docs") === nDocs)
    assert(row.getAs[Long]("total_tokens") === total)
    val vocab = row.getAs[Long]("vocab_size")
    assert(vocab > 0 && vocab <= total)
    assert(row.getAs[Double]("avg_doc_tokens") === total.toDouble / nDocs)
    assert(row.getAs[Double]("type_token_ratio") === vocab.toDouble / total)
  }

  test("documentsJsonl round-trips the documents model and feeds the same operators") {
    val dir = scratchDir("jsonl-").toString
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    docs.write.mode("overwrite").json(dir)
    val back = graft.sources.Tables.documentsJsonl(spark, dir)
    assert(back.count() === 50)
    assert(back.except(docs).count() === 0)
    assert(docs.except(back).count() === 0)
    // operators accept the JSONL-sourced frame unchanged
    val chunks = TextAnalysis.docChunks(spark, sf)
      .join(back.select("doc_id"), Seq("doc_id"), "left_semi")
    val viaJsonl = graft.operators.Multimodal.mmChunkDedupFrom(back)
    assert(chunks.count() > 0)
    assert(viaJsonl.columns.toSeq === Seq("h", "n_copies", "n_docs", "canonical_doc", "canonical_idx"))
  }

  test("quality gate flags agree with a local recomputation and pass is their conjunction") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextAnalysis.textQualityGate(spark, sf).collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val text = texts(r.getAs[Long]("doc_id"))
      val w = text.trim.split("\\s+").toSeq
      val nw = w.length.toLong
      val sumlen = w.map(_.length.toLong).sum
      val stopn = w.count(x => x == "the" || x == "a").toLong
      val topn = w.groupBy(identity).values.map(_.length).max.toLong
      val nsym = "[^a-z0-9\\s]".r.findAllIn(text.toLowerCase).length.toLong
      val expect = Seq(
        "r_min_words" -> (nw >= 20),
        "r_word_len" -> (sumlen >= 3 * nw && sumlen <= 10 * nw),
        "r_stopword" -> (stopn >= 1),
        "r_repetition" -> (topn * 5 <= nw),
        "r_symbols" -> (nsym * 10 <= text.length))
      expect.foreach { case (c, v) => assert(r.getAs[Long](c) === (if (v) 1L else 0L), c) }
      assert(r.getAs[Long]("pass") === (if (expect.forall(_._2)) 1L else 0L))
    }
  }

  test("decontaminate flags exactly the non-eval docs sharing a 4-gram with the eval slice") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    def grams(w: Seq[String]): Set[String] =
      w.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 % 100 == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % 100 != 0)
      .map { case (id, w) => id -> grams(w).count(evalGrams) }
      .filter(_._2 > 0).toMap
    val got = TextAnalysis.textDecontaminate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(got === expected.map { case (k, v) => k -> v.toLong })
  }

  test("decontaminate's external-eval contract: a jsonl benchmark suite gives the slice result") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    val dir = scratchDir("eval-jsonl-").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    // the production shape: the eval suite arrives as an EXTERNAL jsonl
    // table (here: the same % 100 slice exported, so the result must match
    // the oracle instantiation bit-for-bit) plus a text-less record that
    // documentsJsonl reads as NULL and contamGrams must ignore
    docs.filter(col("doc_id") % 100 === 0).write.mode("overwrite").json(dir)
    Files.writeString(Paths.get(dir, "extra.json"),
      "{\"doc_id\": 999999, \"lang\": \"en\", \"source\": \"bench\", \"n_chars\": 0}\n")
    val eval = graft.sources.Tables.documentsJsonl(spark, dir)
    val viaExternal = TextAnalysis.decontaminateAgainst(
        docs.filter(col("doc_id") % 100 =!= 0), eval)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSlice = TextAnalysis.textDecontaminate(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExternal === viaSlice)
  }

  test("checked-in external eval suite contaminates the corpus end-to-end") {
    // The production path with a STATIC artifact: a benchmark suite shipped
    // as a checked-in jsonl file (src/test/resources/eval_suite.jsonl — two
    // items embedding real corpus 4-gram spans, one item with out-of-corpus
    // vocabulary, one text-less record exercising the NULL path), loaded
    // through Tables.documentsJsonl and fed to decontaminateAgainst.
    val path = getClass.getResource("/eval_suite.jsonl").getPath
    val eval = graft.sources.Tables.documentsJsonl(spark, path)
    assert(eval.count() === 4)
    val corpus = graft.sources.Tables.documents(spark, sf)
    val got = TextAnalysis.decontaminateAgainst(corpus, eval)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent local recomputation from the raw strings
    def grams(s: String): Set[String] =
      s.trim.split("\\s+").toSeq.sliding(4).filter(_.length == 4)
        .map(_.mkString(" ")).toSet
    val evalGrams = eval.select("text").collect()
      .flatMap(r => Option(r.getString(0))).flatMap(grams).toSet
    val expected = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1)).count(evalGrams).toLong)
      .filter(_._2 > 0).toMap
    assert(got === expected)
    // the embedded spans must actually contaminate something — otherwise
    // this test would pass vacuously on an empty hit set
    assert(got.nonEmpty, "checked-in eval spans must hit the corpus")
  }

  test("per-source stats partition the corpus and agree with corpus totals") {
    val rows = TextAnalysis.docSourceStats(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_chars") <= r.getAs[Long]("max_chars"))
      assert(r.getAs[Long]("n_langs") >= 1 && r.getAs[Long]("n_langs") <= 5)
      assert(r.getAs[Double]("avg_doc_tokens") ===
        r.getAs[Long]("total_tokens").toDouble / r.getAs[Long]("n_docs"))
    }
  }

  test("doc_pack: offsets advance by token count within each source and stay under budget") {
    val rows = TextAnalysis.docPack(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"), r.getAs[Boolean]("spans_boundary")))
    rows.foreach { case (_, _, _, _, off, _) => assert(off >= 0 && off < 256) }
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      // global start offset of each doc = cumsum of predecessors; bin/offset/straddle all derive from it
      var cum = 0L
      sorted.foreach { case (_, _, n, bin, off, spans) =>
        assert(bin === cum / 256)
        assert(off === cum % 256)
        assert(spans === ((cum + n - 1) / 256 > cum / 256))
        cum += n
      }
    }
  }

  test("token-budget selection equals the greedy global prefix (score desc, doc_id)") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).trim.split("\\s+").toSeq
        val stopn = w.count(x => x == "the" || x == "a").toLong
        (r.getLong(0), w.length.toLong, 100000L * stopn / w.length)
      }
    val ordered = docs.sortBy { case (id, _, iq) => (-iq, id) }
    // the reference semantics: running total is strictly increasing, so the
    // selection is the maximal PREFIX whose cumulative tokens fit the budget
    val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var cum = 0L
    var stopped = false
    ordered.foreach { case (id, nw, iq) =>
      if (!stopped) {
        cum += nw
        if (cum <= 15000L) expected += ((id, iq, nw)) else stopped = true
      }
    }
    // output is an unordered selection; impose the (iq desc, doc_id) order
    // client-side — it is reconstructible from the output columns
    val got = graft.operators.TextAnalysis.selectTokenBudget(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"),
        r.getAs[Long]("nw"))).toSeq.sortBy(t => (-t._2, t._1))
    assert(got === expected.toSeq)

    // boundary coverage: a budget smaller than the corpus must cut a
    // bucket mid-way (the per-bucket window path) and stay a maximal prefix
    val small = 1000L
    val expSmall = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var c2 = 0L
    var stop2 = false
    ordered.foreach { case (id, nw, iq) =>
      if (!stop2) {
        c2 += nw
        if (c2 <= small) expSmall += ((id, iq, nw)) else stop2 = true
      }
    }
    val gotSmall = graft.operators.TextAnalysis.selectTokenBudgetWith(spark, sf, small).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"),
        r.getAs[Long]("nw"))).toSeq.sortBy(t => (-t._2, t._1))
    assert(gotSmall === expSmall.toSeq)
    assert(gotSmall.nonEmpty && gotSmall.size < got.size)
  }

  test("select_token_budget on BPE counts keeps the exact maximal prefix under the BPE budget") {
    // the r13 variant: budgets are real tokenizer tokens, not whitespace
    // tokens — same bucket decomposition, nw = bpe_token_count per doc
    val perDoc = graft.operators.TextAnalysis.bpeCounted(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bpe_tokens")))
      .toMap
    // BPE always compresses vs characters and never exceeds whitespace=chars
    // bound; sanity: every doc has bpe <= chars and >= ws words
    val budget = 12000L
    val got = graft.operators.TextAnalysis.selectTokenBudgetBpe(spark, sf, budget)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"), r.getAs[Long]("nw")))
      .toSeq.sortBy(t => (-t._2, t._1))
    // in-process maximal (iq desc, doc_id) prefix over BPE counts
    val iq = graft.operators.TextAnalysis.selectTokenBudgetBpe(spark, sf, Long.MaxValue)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"), r.getAs[Long]("nw")))
    val ordered = iq.sortBy(t => (-t._2, t._1))
    val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    var cum = 0L
    var stopped = false
    ordered.foreach { case (id, i, nw) =>
      if (!stopped) {
        cum += nw
        if (cum <= budget) expected += ((id, i, nw)) else stopped = true
      }
    }
    assert(got === expected.toSeq)
    assert(got.map(_._3).sum <= budget)
    assert(got.nonEmpty && got.size < ordered.size,
      "budget must cut the corpus for the boundary path to be exercised")
    // the selection's nw really is the kernel's BPE count
    got.foreach { case (id, _, nw) => assert(perDoc(id) === nw) }
  }

  test("pipeline_curate equals its three stages composed independently") {
    val canon = graft.operators.Dedup.dedupExactNorm(spark, sf).collect()
      .map(_.getAs[Long]("canonical_id")).toSet
    val pass = graft.operators.TextAnalysis.textQualityGate(spark, sf).collect()
      .filter(_.getAs[Long]("pass") == 1L).map(_.getAs[Long]("doc_id")).toSet
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val scored = texts
      .filter { case (id, _) => canon(id) && pass(id) }
      .map { case (id, t) =>
        val w = t.trim.split("\\s+")
        val stopn = w.count(x => x == "the" || x == "a").toLong
        (id, w.length.toLong, 100000L * stopn / w.length)
      }
      .sortBy { case (id, _, iq) => (-iq, id) }
    var cum = 0L
    val expected = scored.takeWhile { case (_, nw, _) => { cum += nw; cum <= 15000L } }
    val expRows = expected.map { case (id, nw, iq) => (id, iq, nw) }
    val got = graft.operators.TextAnalysis.pipelineCurate(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"),
        r.getAs[Long]("nw"))).sortBy(t => (-t._2, t._1))
    assert(got.nonEmpty)
    assert(got.toSeq === expRows.toSeq)
  }

  test("bottom-k sample is exactly the shuffle permutation's first K and plans as TakeOrdered") {
    val sample = graft.operators.TextAnalysis.sampleBottomk(spark, sf)
    val got = sample.collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[String]("sk")))
    // same seed, same keys: the sample IS positions 1..K of doc_shuffle
    val prefix = graft.operators.TextAnalysis.docShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id"), r.getAs[String]("sk")))
      .filter(_._1 <= 100L)
    assert(got.sortBy(_._1).toSeq === prefix.sortBy(_._1).toSeq)
    // and the plan is the per-partition top-k merge, not a global sort
    assert(sample.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("doc_shuffle is a reproducible permutation in md5-key order") {
    val rows = graft.operators.TextAnalysis.docShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id"), r.getAs[String]("sk")))
    val n = graft.sources.Tables.documents(spark, sf).count()
    // positions are exactly 1..N (the bucket-decomposed global rank is a
    // permutation, no gaps/dupes)
    assert(rows.map(_._1).sorted.toSeq === (1L to n).toSeq)
    assert(rows.map(_._2).distinct.length === n.toInt)
    // and the order is exactly (md5 key, doc_id)
    val sorted = rows.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, idA, kA), (_, idB, kB)) =>
        assert(kA < kB || (kA == kB && idA < idB))
      case _ =>
    }
    // reproducible: a second run yields the identical permutation
    val again = graft.operators.TextAnalysis.docShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    assert(again.toSeq.sorted === rows.map(t => (t._1, t._2)).toSeq.sorted)
  }

  test("stratified selection keeps the top-K per source with contiguous ranks") {
    val rows = graft.operators.TextAnalysis.selectStratified(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("iq")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.length <= 20)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      // per-source order is (iq desc, doc_id asc)
      sorted.sliding(2).foreach {
        case Array((_, _, idA, iqA), (_, _, idB, iqB)) =>
          assert(iqA > iqB || (iqA == iqB && idA < idB))
        case _ =>
      }
    }
  }

  test("rarity profile matches a collected in-process recompute") {
    import org.apache.spark.sql.functions._
    val texts = graft.sources.Tables.documents(spark, sf)
      .filter(col("text").isNotNull).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val n = texts.length.toLong
    val docTerms = texts.map { case (id, t) => id -> t.trim.split("\\s+", -1).distinct.toSeq }
    val df = docTerms.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = docTerms.map { case (id, ts) =>
      val sumDf = ts.map(df).sum
      id -> ((ts.size.toLong, ts.count(t => df(t) * 100 < n).toLong,
        sumDf.toDouble / ts.size))
    }.toMap
    val got = TextAnalysis.textRarity(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("n_rare"), r.getAs[Double]("mean_df")))).toMap
    assert(got === expected)
  }

  test("winnowing guarantee: a shared w+k-1-token run yields a shared fingerprint; counts reconcile") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // k=4, w=8: any shared run of 11 tokens must produce >= 1 shared hash
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    val docs = Seq(
      (1L, s"unique1 prefix words here $shared and unrelated tail one"),
      (2L, s"совсем other starting material $shared closing words two go"),
      (3L, "nothing in common with the others at all whatsoever")).toDF("doc_id", "text")
    val sel = TextAnalysis.winnowSelected(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[String]]("sel").toSet).toMap
    assert((sel(1L) intersect sel(2L)).nonEmpty) // the winnowing guarantee
    assert((sel(1L) intersect sel(3L)).isEmpty)
    val rows = TextAnalysis.textWinnowFrom(docs).collect()
    rows.foreach { r =>
      val (ng, nw, nfp) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_windows"), r.getAs[Long]("n_fp"))
      assert(nw === math.max(0L, ng - 7L)) // windows = grams - w + 1
      assert(nfp <= nw && nfp >= 0L)
      if (nw > 0) {
        val d = r.getAs[Double]("density")
        assert(d > 0.0 && d <= 1.0)
        assert(d === nfp.toDouble / nw.toDouble)
      }
    }
  }

  test("winnow corpus density stays near the 2/(w+1) sampling rate band") {
    val rows = TextAnalysis.textWinnow(spark, sf).collect().filter(_.getAs[Long]("n_windows") > 50)
    assert(rows.nonEmpty)
    // fingerprints-per-GRAM approximates 2/(w+1) ~ 0.22 for random hashes;
    // generous band since docs repeat tokens
    val rates = rows.map(r => r.getAs[Long]("n_fp").toDouble / r.getAs[Long]("n_grams").toDouble)
    val mean = rates.sum / rates.length
    assert(mean > 0.05 && mean < 0.6, s"mean fingerprint rate $mean")
  }

  test("zipf top terms match a direct frequency recompute and ranks are dense") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.textZipf(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("term"), r.getAs[Long]("freq"),
        r.getAs[Long]("rf"))).sortBy(_._1)
    // the synthetic corpus vocabulary is smaller than the top-k cap
    assert(rows.length === math.min(50L, rows.map(_._2).distinct.length.toLong))
    assert(rows.map(_._1).toSeq === (1L to rows.length.toLong))
    rows.foreach { case (rk, _, f, rf) => assert(rf === rk * f) }
    val freqs = rows.map(_._3)
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    val expectedTop = graft.sources.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), asc("t")).limit(5).collect()
      .map(r => (r.getString(0), r.getAs[Long]("f")))
    assert(rows.take(5).map(r => (r._2, r._3)).toSeq === expectedTop.toSeq)
  }

  test("interleave is a round-robin permutation across sources") {
    val rows = TextAnalysis.docInterleave(spark, sf).collect()
      .map(r => (r.getAs[Long]("ord"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("round")))
    // ord is a permutation of 1..N
    assert(rows.map(_._1).sorted.toSeq === (1L to rows.length.toLong))
    val sources = rows.map(_._3).distinct.sorted
    // round 1 leads with one doc per source, sources in lexicographic order
    val first = rows.sortBy(_._1).take(sources.length)
    assert(first.map(_._3).toSeq === sources.toSeq)
    assert(first.forall(_._4 === 1L))
    // within a source, rounds advance with the global ordinal
    rows.groupBy(_._3).values.foreach { g =>
      val byOrd = g.sortBy(_._1).map(_._4)
      assert(byOrd.toSeq === (1L to g.length.toLong))
    }
  }

  test("text_bpe_pairs equals an in-process recompute of within-word pair counts") {
    val top = TextAnalysis.textBpePairs(spark, sf).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("cnt")))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (t <- docs if t != null; w <- t.trim.split("\\s+") if w.length >= 2;
         i <- 0 until w.length - 1)
      counts(w.substring(i, i + 2)) += 1L
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(top.toSeq === expected)
  }

  test("select_rebalance only downsamples and moves the mixture toward 3:1") {
    val rows = TextAnalysis.selectRebalance(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_selected") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_selected") > 0L) // bucket 0 always passes
    }
    val (hi, lo) = rows.partition(_.getAs[Long]("weight") == 3L)
    def ratio(sel: Boolean): Double = {
      val f = (r: org.apache.spark.sql.Row) =>
        r.getAs[Long](if (sel) "n_selected" else "n_docs").toDouble
      hi.map(f).sum / lo.map(f).sum
    }
    // achieved high:low mass is no farther from the 3:1 target than raw
    assert(math.abs(ratio(sel = true) - 3.0) <= math.abs(ratio(sel = false) - 3.0))
    // membership is a pure function of identity — rerun identical
    val again = TextAnalysis.selectRebalance(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_selected")))
    assert(again.toSeq === rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("n_selected"))).toSeq)
  }

  test("select_kfold partitions the corpus deterministically into k balanced folds") {
    val rows = TextAnalysis.selectKfold(spark, sf).collect()
    val folds = rows.map(_.getAs[Long]("fold"))
    assert(folds.forall(f => f >= 0 && f < 5))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total) // folds partition
    // hash-split balance: no fold takes more than twice its fair share
    rows.foreach(r => assert(r.getAs[Long]("n_docs") <= 2 * total / 5 + 1))
    // fold assignment is a pure function of doc_id — rerun identical
    val again = TextAnalysis.selectKfold(spark, sf).collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_docs"))).toSeq
    assert(again === rows.map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_docs"))).toSeq)
  }

  test("text_keywords: at most k dense-ranked keywords per doc, deterministic") {
    val rows = TextAnalysis.textKeywords(spark, sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks.length <= 3 && ranks.toSeq === (1L to ranks.length).toSeq)
    }
    // the score really is tf/df and ranks follow (score desc, term)
    rows.foreach { r =>
      assert(r.getAs[Double]("score") ===
        r.getAs[Long]("tf").toDouble / r.getAs[Long]("df"))
    }
  }

  test("corpus_snapshot_diff: the four arms partition both snapshots exactly") {
    val rows = TextAnalysis.corpusSnapshotDiff(spark, sf).collect()
    val by = rows.groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val n = docs.count()
    val nAdded = docs.filter(col("doc_id") % 10 === 0).count()
    val nTomb = docs.filter(col("doc_id") % 97 === 0).count()
    // current corpus = added + changed + unchanged; tombstones = removed
    assert(by("added") === nAdded)
    assert(by("removed") === nTomb)
    assert(by("added") + by.getOrElse("changed", 0L) + by("unchanged") === n)
    // removed rows carry the sentinel source (they exist only in the old
    // snapshot, so no current source is available)
    rows.filter(_.getAs[String]("status") == "removed")
      .foreach(r => assert(r.getAs[String]("source") === "(removed)"))
  }

  test("select_temperature upweights low-resource sources and shares sum to 1") {
    val rows = TextAnalysis.selectTemperature(spark, sf).collect()
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("p")).sum - 1.0) < 1e-9)
    // α = 1/2 flattens the distribution: every below-average source gets
    // share > p, every above-average source gets share < p (sqrt crossing),
    // and the boost ratio share/p is strictly decreasing in p
    val byP = rows.sortBy(_.getAs[Double]("p"))
    byP.sliding(2).foreach { w =>
      if (w.length == 2) {
        val (a, b) = (w(0), w(1))
        val ra = a.getAs[Double]("share") / a.getAs[Double]("p")
        val rb = b.getAs[Double]("share") / b.getAs[Double]("p")
        if (a.getAs[Double]("p") < b.getAs[Double]("p")) assert(ra > rb)
      }
    }
  }

  test("pipeline_embed_curate totals reconcile with its two input signals") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.pipelineEmbedCurate(spark, sf).collect()
    rows.foreach { r =>
      val (n, tp, emb, sd, kept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_text_pass"),
        r.getAs[Long]("n_embedded"), r.getAs[Long]("n_sem_drop"), r.getAs[Long]("n_kept"))
      assert(tp <= n && emb <= n && sd <= emb && kept <= tp)
    }
    // cross-signal reconciliation against the standalone operators
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      graft.sources.Tables.documents(spark, sf).count())
    assert(rows.map(_.getAs[Long]("n_text_pass")).sum ===
      TextAnalysis.textQualityGate(spark, sf).filter(col("pass") === 1).count())
    assert(rows.map(_.getAs[Long]("n_sem_drop")).sum ===
      graft.operators.Dedup.dedupSemantic(spark, sf).filter(col("keep") === 0).count())
    assert(rows.map(_.getAs[Long]("n_embedded")).sum ===
      graft.sources.Tables.embeddings(spark, sf).count())
  }

  test("doc_interleave's arithmetic ordinal equals a direct round-robin simulation") {
    import org.apache.spark.sql.functions._
    // the oracle mirrors the SAME ord(r, s) formula, so a shared formula
    // error would hash-match; this check derives the order INDEPENDENTLY
    // by actually playing the round-robin
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("ep0"), lit("|"), col("doc_id").cast("string"))).as("sk"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[String]("sk")))
    val bySource = docs.groupBy(_._2).view
      .mapValues(_.sortBy(x => (x._3, x._1)).map(_._1).toVector).toMap
    val sources = bySource.keys.toSeq.sorted
    val maxLen = bySource.values.map(_.size).max
    val simulated = (0 until maxLen).flatMap { r =>
      sources.flatMap(s => bySource(s).lift(r))
    }
    val got = TextAnalysis.docInterleave(spark, sf).collect()
      .sortBy(_.getAs[Long]("ord")).map(_.getAs[Long]("doc_id")).toSeq
    assert(got === simulated)
    // ordinals are a dense 1-based permutation (the |{s' <= s}| term
    // counts the doc's own source inclusively)
    val ords = TextAnalysis.docInterleave(spark, sf).collect().map(_.getAs[Long]("ord")).sorted
    assert(ords.toSeq === (1L to docs.length.toLong))
  }

  test("randomized: token-budget selection equals the sorted prefix for 8 budgets") {
    import org.apache.spark.sql.functions._
    // the bucket-decomposed plan must equal the naive global
    // (iq DESC, doc_id) prefix for ANY budget — including ones that land
    // exactly on bucket boundaries, mid-bucket, 0-ish, and over-corpus
    val m = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("nw"),
        size(expr("filter(w, x -> x IN ('the', 'a'))")).cast("long").as("stopn"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("nw"),
        100000L * r.getAs[Long]("stopn") / r.getAs[Long]("nw")))
    val ordered = m.sortBy { case (id, _, iq) => (-iq, id) }
    val total = m.map(_._2).sum
    val budgets = Seq(1L, 137L, 1000L, 2204L, total / 2, total - 1, total, total + 500)
    budgets.foreach { budget =>
      // the operator's keep rule: a doc survives iff the running token
      // total INCLUDING itself (over the (iq DESC, doc_id) order) fits
      var cum = 0L
      val expect = scala.collection.mutable.Set[Long]()
      ordered.foreach { case (id, nw, _) =>
        cum += nw
        if (cum <= budget) expect += id
      }
      val got = TextAnalysis.selectTokenBudgetWith(spark, sf, budget)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(got === expect.toSet, s"budget=$budget")
    }
  }

  test("trainingCorpus's bucket-decomposed order and bins equal the played-out global window") {
    import org.apache.spark.sql.functions._
    // the export lays pos AND token offsets from ONE 256-bucket digest;
    // both must equal the naive global (sk, doc_id) window the oracle
    // uses — replayed here in-process over the same kept set
    val got = TextAnalysis.trainingCorpus(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("pos"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("bin_id"), r.getAs[Long]("bin_off")))).toMap
    val kept = TextAnalysis.pipelineCurate(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("nw")))
    assert(kept.nonEmpty && got.size === kept.length)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ordered = kept
      .map { case (id, nw) => (md5hex(s"ep0|$id"), id, nw) }
      .sortBy { case (sk, id, _) => (sk, id) }
    var pos = 0L
    var off = 0L
    ordered.foreach { case (_, id, nw) =>
      pos += 1
      val (gPos, gN, gBin, gOff) = got(id)
      assert(gPos === pos, s"doc $id pos")
      assert(gN === nw, s"doc $id n_tokens")
      assert(gBin === off / 256, s"doc $id bin_id")
      assert(gOff === off % 256, s"doc $id bin_off")
      off += nw
    }
  }

  test("select_pareto equals the brute-force skyline on the corpus") {
    import org.apache.spark.sql.functions._
    val rows = TextAnalysis.selectPareto(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("iq"), r.getAs[Long]("nw")))
    // recompute (iq, nw) per doc in-process with the same integer lattice
    val m = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("nw"),
        size(expr("filter(w, x -> x IN ('the', 'a'))")).cast("long").as("stopn"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        100000L * r.getAs[Long]("stopn") / r.getAs[Long]("nw"), r.getAs[Long]("nw")))
    val skyline = m.filter { case (_, iq, nw) =>
      !m.exists { case (_, iq2, nw2) =>
        iq2 >= iq && nw2 >= nw && (iq2 > iq || nw2 > nw)
      }
    }
    assert(rows.map(_._1).toSet === skyline.map(_._1).toSet)
    assert(rows.nonEmpty)
    rows.foreach { case (id, iq, nw) =>
      val e = m.find(_._1 == id).get
      assert((e._2, e._3) === ((iq, nw)))
    }
  }

  test("text_quality_auc matches a hand-computed U-statistic and separates langs on the corpus") {
    import spark.implicits._
    // scores: en docs at iq 66666 ("the a x") and 33333 ("the x y");
    // non-en at 0 ("x y", de) and 33333 ("the x y", fr).
    // concordant = 1·1 + 1·2 = 3, ties = 1·1 -> u2 = 7, auc = 7/8
    val docs = Seq(
      ("en", "the a x"), ("en", "the x y"),
      ("de", "x y"), ("fr", "the x y")
    ).toDF("lang", "text")
    val r = TextAnalysis.textQualityAucFrom(docs).collect()(0)
    assert(r.getAs[Long]("n_pos") === 2L)
    assert(r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("u2") === 7L)
    assert(r.getAs[Double]("auc") === 0.875)
    // corpus read: the synthetic generator draws every lang from one
    // vocabulary, so the stopword score does NOT separate English here
    // (auc ≈ 0.44 — the no-signal verdict this eval exists to surface);
    // assert the statistic is well-formed, not a separation that the
    // data genuinely lacks
    val c = TextAnalysis.textQualityAuc(spark, sf).collect()(0)
    val auc = c.getAs[Double]("auc")
    assert(auc > 0.0 && auc < 1.0)
    assert(c.getAs[Long]("u2") ===
      math.round(auc * 2 * c.getAs[Long]("n_pos") * c.getAs[Long]("n_neg")))
  }

  test("select_quality_tiers: value-based tercile recompute and per-lang conservation") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars", "text").collect()
      .map { r =>
        val w = r.getAs[String]("text").trim.split("\\s+")
        val stopn = w.count(x => x == "the" || x == "a").toLong
        (r.getAs[String]("lang"), r.getAs[Long]("n_chars"),
          100000L * stopn / w.length)
      }
    val expected = docs.groupBy(_._1).flatMap { case (lang, g) =>
      val n = g.length.toLong
      val sortedIq = g.map(_._3).sorted(Ordering[Long].reverse)
      val c1 = sortedIq(((n + 2) / 3 - 1).toInt)
      val c2 = sortedIq(((2 * n + 2) / 3 - 1).toInt)
      g.groupBy { case (_, _, iq) =>
        if (iq >= c1) "head" else if (iq >= c2) "middle" else "tail"
      }.map { case (tier, t) =>
        (lang, tier) -> ((t.length.toLong, t.map(_._2).sum, t.length.toDouble / n))
      }
    }
    val got = TextAnalysis.selectQualityTiers(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Double]("share"))))
      .toMap
    assert(got === expected)
    // per-lang conservation: tiers partition the language's documents
    docs.groupBy(_._1).foreach { case (lang, g) =>
      assert(got.keys.count(_._1 == lang) > 0)
      assert(got.filter(_._1._1 == lang).values.map(_._1).sum === g.length.toLong)
    }
  }

  test("doc_ngram_novelty matches an in-process first-occurrence recompute") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def grams(t: String): Set[String] = {
      val w = t.trim.split("\\s+")
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val perDoc = texts.view.mapValues(grams).toMap
    val owner = perDoc.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val rows = TextAnalysis.docNgramNovelty(spark, sf).collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val gs = perDoc(id)
      assert(r.getAs[Long]("n_shingles") === gs.size.toLong)
      val novel = gs.count(g => owner(g) == id).toLong
      assert(r.getAs[Long]("n_novel") === novel)
      if (gs.nonEmpty)
        assert(r.getAs[Double]("novelty") === novel.toDouble / gs.size)
      else assert(r.isNullAt(r.fieldIndex("novelty")))
    }
    // conservation: every distinct corpus shingle is novel exactly once
    assert(rows.map(_.getAs[Long]("n_novel")).sum === owner.size.toLong)
    // doc 0 (the ingestion head) is fully novel
    assert(rows.find(_.getAs[Long]("doc_id") == 0L).get.getAs[Double]("novelty") === 1.0)
  }

  test("text_gopher_rules flags match an in-process rule recompute") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = TextAnalysis.textGopherRules(spark, sf).collect()
    assert(rows.length === texts.size)
    var passes = 0L
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val w = t.trim.split("\\s+")
      val nw = w.length.toLong
      val sl = w.map(_.length.toLong).sum
      val flags = Map(
        "r_words" -> (nw >= 50L && nw <= 100000L),
        "r_avg_len" -> (3L * nw <= sl && sl <= 10L * nw),
        "r_stop" -> (w.count(x => x == "the" || x == "a") >= 2),
        "r_alpha" -> (5L * w.count(_.exists(_.isLetter)) >= 4L * nw),
        "r_symbol" -> (10L * ("#|\\.\\.\\.".r.findAllIn(t).size) <= nw))
      assert(r.getAs[Long]("n_words") === nw)
      flags.foreach { case (name, v) =>
        assert(r.getAs[Long](name) === (if (v) 1L else 0L), s"doc=${r.get(0)} $name")
      }
      assert(r.getAs[Long]("pass") === (if (flags.values.forall(identity)) 1L else 0L))
      passes += r.getAs[Long]("pass")
    }
    // the corpus must exercise BOTH outcomes or the flags prove nothing
    assert(passes > 0L && passes < rows.length.toLong)
  }

  test("select_dsir weights match an in-process hashed-bucket recompute") {
    def bucket(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val hex = "0123456789abcdef"
      ((hex.indexOf(h(0)) * 16 + hex.indexOf(h(1))) % 64).toLong
    }
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").trim.split("\\s+").toSeq))
    val perDocBucket = docs.map { case (id, lang, w) =>
      (id, lang, w.map(bucket).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    }
    val raw = perDocBucket.flatMap(_._3).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tgt = perDocBucket.filter(_._2 == "en").flatMap(_._3)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val score = raw.map { case (b, rc) => b -> 1000000L * (tgt.getOrElse(b, 0L) + 1L) / (rc + 1L) }
    val rows = TextAnalysis.selectDsir(spark, sf).collect()
    assert(rows.length === docs.length)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (_, _, counts) = perDocBucket.find(_._1 == id).get
      val n = counts.values.sum
      val wgt = counts.map { case (b, c) => c * score(b) }.sum
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("weight") === wgt, s"doc=$id")
      assert(r.getAs[Long]("w_per_tok") === wgt / n)
    }
    // the synthetic corpus draws every lang from ONE vocabulary, so a
    // target-vs-rest separation assertion would be vacuous here — assert
    // the structurally-true lattice properties instead: tgt_b ≤ raw_b
    // forces every bucket score (hence every per-token weight) onto
    // (0, DsirScale], and weights are strictly positive
    rows.foreach { r =>
      assert(r.getAs[Long]("weight") > 0L)
      assert(r.getAs[Long]("w_per_tok") <= 1000000L)
    }
  }

  test("text_quality_ks matches an in-process exact KS recompute") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map { r =>
        val w = r.getAs[String]("text").trim.split("\\s+")
        r.getAs[String]("source") -> 100000L * w.count(x => x == "the" || x == "a") / w.length
      }
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val grid = docs.map(_._2).distinct.sorted
    def cum(src: String): Map[Long, Long] = {
      var acc = 0L
      grid.map { x => acc += bySrc(src).count(_ == x); x -> acc }.toMap
    }
    val cums = bySrc.keys.map(s => s -> cum(s)).toMap
    val got = TextAnalysis.textQualityKs(spark, sf).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("ks_x"), r.getAs[Long]("ks_ppm")))).toMap
    val srcs = bySrc.keys.toSeq.sorted
    assert(got.size === srcs.combinations(2).size)
    for (Seq(sa, sb) <- srcs.combinations(2)) {
      val (na, nb) = (bySrc(sa).length.toLong, bySrc(sb).length.toLong)
      val ks = grid.map(x => math.abs(cums(sa)(x) * nb - cums(sb)(x) * na)).max
      assert(got((sa, sb)) === ((na, nb, ks, 1000000L * ks / (na * nb))), s"pair=($sa,$sb)")
    }
    // KS on the ppm lattice is a [0, 1e6] statistic
    got.values.foreach { case (_, _, _, ppm) => assert(ppm >= 0L && ppm <= 1000000L) }
  }

  test("text_char_diversity matches an in-process collision recompute") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = TextAnalysis.textCharDiversity(spark, sf).collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val counts = t.groupBy(identity).view.mapValues(_.length.toLong)
      val n = t.length.toLong
      val coll = counts.values.map(c => c * c).sum
      assert(r.getAs[Long]("n_chars_calc") === n)
      assert(r.getAs[Long]("n_distinct_chars") === counts.size.toLong)
      assert(r.getAs[Long]("collision_x") === coll)
      assert(r.getAs[Long]("simpson_ppm") === 1000000L * coll / (n * n))
      // Cauchy–Schwarz floor: Σc² ≥ n²/k  ⇔  simpson_ppm ≥ 10⁶/k (floored)
      assert(coll * counts.size.toLong >= n * n)
    }
  }
}
