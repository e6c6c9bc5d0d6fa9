package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.5 text analysis over `documents` — all built from codegen'd Catalyst
  * functions (split/transform/aggregate/regexp), zero Scala UDFs, so every
  * operator stays inside whole-stage codegen and scales linearly with
  * input splits (no shuffle except the final per-doc aggregations, which
  * are map-side combinable).
  */
object TextAnalysis {

  private def words = split(trim(col("text")), "\\s+")

  // Integer quality-score lattice scale — at the TOP of the object for the
  // same init-order reason as the seed below (text_quality_auc's oracle
  // val interpolates it; a later declaration would interpolate as 0).
  private val ScoreScale = 100000L

  /** THE quality-score projection every selection/eval operator shares —
    * iq = (ScoreScale · stopword-count) div token-count over the
    * whitespace tokenizer — computed in ONE place so the score definition
    * cannot fork between the operators documented to share it (r11
    * review: it had been copy-pasted four times). `extra` columns carry
    * through; output is (extra…, nw, iq). */
  private def scoredDocs(docs: DataFrame, extra: Column*): DataFrame =
    docs.select(extra :+ expr("gate_stats(text)").as("gs"): _*)
      .withColumn("nw", col("gs").getItem(0))
      .withColumn("stopn", col("gs").getItem(2))
      .withColumn("iq", expr(s"($ScoreScale * stopn) div nw"))
      .drop("gs", "stopn")

  // Shuffle/sample epoch seed — declared at the TOP of the object: the
  // oracle-SQL vals interpolate it, and Scala object vals initialize in
  // declaration order (a later declaration would interpolate as "null").
  private val ShuffleSeed = "ep0"

  // DSIR hashed-feature space: bucket count and the integer lattice scale
  // for the per-bucket importance ratio — at the TOP of the object because
  // selectDsirSql interpolates both (init-order, as above).
  private val DsirBuckets = 64L
  private val DsirScale = 1000000L


  // --- text_tokens --------------------------------------------------------
  // Whitespace tokens plus a BPE-ish regex segmentation (letter runs,
  // digit runs, single other symbols) — the two counts a token-budget
  // pipeline needs.
  def textTokens(spark: SparkSession, d: String): DataFrame =
    // all three counts from the fused gate_stats kernel (one scan-side
    // pass; the split/array_distinct/regexp_extract_all formulation
    // survives as the oracle + NativeKernelSpec's equality reference)
    Tables.documents(spark, d)
      .select(col("doc_id"), expr("gate_stats(text)").as("gs"))
      .select(col("doc_id"),
        col("gs").getItem(0).as("ws_tokens"),
        col("gs").getItem(4).as("distinct_tokens"),
        col("gs").getItem(8).as("re_tokens"))
      .orderBy("doc_id")

  val textTokensSql: String =
    """SELECT doc_id,
      | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      | CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS distinct_tokens,
      | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- text_quality -------------------------------------------------------
  // Length / stopword / word-length heuristics combined into a [0,1] score.
  // All divisions are single ops on exact integer operands → deterministic.
  def textQuality(spark: SparkSession, d: String): DataFrame = {
    // nw / Σlen / stopword-count from the fused gate_stats kernel (the
    // interpreted-HOF formulation is the oracle + spec reference).
    // gate_stats(text) is PROJECTED ONCE into `gs` and the three elements
    // read from that column — the previous three independent expression
    // instances relied on Spark's common-subexpression elimination to
    // collapse them, which holds under whole-stage codegen but not under
    // interpreted projection or CSE-disabled configs (r13 ADVICE).
    val nWords = element_at(col("gs"), 1)
    val sumLen = element_at(col("gs"), 2)
    val stopCnt = element_at(col("gs"), 3)
    Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), expr("gate_stats(text)").as("gs"))
      .select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      nWords.as("n_words"),
      (sumLen.cast("double") / nWords).as("avg_word_len"),
      (stopCnt.cast("double") / nWords).as("stop_ratio"),
      // floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): Spark's round()
      // rounds the shortest-decimal rendering (HALF_UP) while other engines
      // round the binary double — they can disagree on half-way values.
      // floor of the identical double product is bitwise-portable.
      (floor(((stopCnt.cast("double") / nWords) * 0.5 +
        least(sumLen.cast("double") / nWords / 10.0, lit(1.0)) * 0.5) * 1e6 + 0.5) / 1e6)
        .as("quality"))
      .orderBy("doc_id")
  }

  val textQualitySql: String =
    """WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
      |SELECT doc_id,
      | CAST(length(text) AS BIGINT) AS n_chars_calc,
      | CAST(len(w) AS BIGINT) AS n_words,
      | CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS BIGINT) AS avg_word_len,
      | CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / CAST(len(w) AS BIGINT) AS stop_ratio,
      | floor((CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / CAST(len(w) AS BIGINT) * 0.5 +
      |   least(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS BIGINT) / 10.0, 1.0) * 0.5) * 1e6 + 0.5) / 1e6 AS quality
      |FROM w ORDER BY doc_id""".stripMargin

  // --- text_langid --------------------------------------------------------
  // Deterministic n-gram-profile language ID: each token votes for one of 5
  // languages via a hash of its md5 head; argmax with lexicographic
  // tie-break. (The synthetic corpus shares one vocabulary across langs, so
  // the interesting part is the deterministic argmax machinery, which is
  // exactly what a real stopword-profile classifier needs at scale.)
  // PURE MAP: the language profile is an argmax over 5 per-doc hash-bucket
  // counts — a pure function of one document, so it computes in the scan's
  // project list with higher-order functions (no explode, no groupBy
  // shuffle, no window; all codegen'd built-ins — rung (a) of the
  // extension ladder, no custom kernel needed). The sequential `when`
  // chain picks the FIRST maximum, which is exactly the old
  // `orderBy(cnt DESC, idx ASC)` tie-break; the oracle still runs the
  // explode+groupBy+window formulation and hash-matches.
  def textLangid(spark: SparkSession, d: String): DataFrame =
    langidOf(Tables.documents(spark, d))

  private def langidOf(docs: DataFrame): DataFrame = {
    val langs = array(lit("de"), lit("en"), lit("es"), lit("fr"), lit("zh"))
    val ids = expr(
      "transform(split(trim(text), '\\\\s+'), t -> (locate(substring(md5(t), 1, 1), '0123456789abcdef') - 1) % 5)")
    // NULL-text docs must be DROPPED, not defaulted: with a NULL array every
    // bucket count is NULL, every when() condition is NULL, and the fold
    // would fall through to the last-language default — while the oracle's
    // explode formulation (and the old Spark one) emits no row at all. The
    // parquet corpus has no NULL text, but documentsJsonl reads missing
    // fields as NULL, so the guard is load-bearing for that source (and
    // text_langid_nulls proves the parity at oracle level).
    val base = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), ids.as("ids"))
      .select(Seq(col("doc_id"), col("lang")) ++
        (0 until 5).map(k => size(expr(s"filter(ids, x -> x = $k)")).cast("long").as(s"c$k")): _*)
    val cs = (0 until 5).map(k => col(s"c$k"))
    val idx = (0 until 5).foldRight(lit(4L)) { (k, rest) =>
      if (k == 4) rest
      else when(cs.drop(k + 1).map(c => cs(k) >= c).reduce(_ && _), k.toLong).otherwise(rest)
    }
    base.withColumn("idx", idx)
      .select(col("doc_id"),
        element_at(langs, col("idx").cast("int") + 1).as("pred_lang"),
        col("lang"),
        (element_at(langs, col("idx").cast("int") + 1) === col("lang")).cast("long").as("hit"))
      .orderBy("doc_id")
  }

  val textLangidSql: String =
    """WITH tok AS (
      | SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents
      |), idx AS (
      | SELECT doc_id, lang, CAST((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) % 5 AS BIGINT) AS idx FROM tok
      |), counts AS (
      | SELECT doc_id, lang, idx, count(*) AS cnt FROM idx GROUP BY 1, 2, 3
      |), top AS (
      | SELECT doc_id, lang, idx, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, idx) AS rn FROM counts
      |)
      |SELECT doc_id,
      | (['de','en','es','fr','zh'])[CAST(idx AS INT)+1] AS pred_lang,
      | lang,
      | CAST((['de','en','es','fr','zh'])[CAST(idx AS INT)+1] = lang AS BIGINT) AS hit
      |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // --- text_langid_nulls --------------------------------------------------
  // The same langid core over a corpus where a deterministic slice
  // (doc_id % 50 == 0) has NULL text — the shape documentsJsonl produces
  // for records missing the field. The parquet corpus carries no NULL
  // text, so without this entry the isNotNull guards are only spec-
  // covered; here BOTH engines must agree that NULL-text docs vanish
  // (Spark: the filter; DuckDB: unnest(NULL array) emits no row), proving
  // engine parity on the NULL path at oracle level.
  def textLangidNulls(spark: SparkSession, d: String): DataFrame =
    langidOf(Tables.documents(spark, d).withColumn("text",
      when(col("doc_id") % 50 === 0, lit(null).cast("string"))
        .otherwise(col("text"))))

  val textLangidNullsSql: String =
    """WITH dn AS (
      | SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN NULL ELSE text END AS text, lang FROM documents
      |), tok AS (
      | SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM dn
      |), idx AS (
      | SELECT doc_id, lang, CAST((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) % 5 AS BIGINT) AS idx FROM tok
      |), counts AS (
      | SELECT doc_id, lang, idx, count(*) AS cnt FROM idx GROUP BY 1, 2, 3
      |), top AS (
      | SELECT doc_id, lang, idx, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, idx) AS rn FROM counts
      |)
      |SELECT doc_id,
      | (['de','en','es','fr','zh'])[CAST(idx AS INT)+1] AS pred_lang,
      | lang,
      | CAST((['de','en','es','fr','zh'])[CAST(idx AS INT)+1] = lang AS BIGINT) AS hit
      |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // --- text_fingerprint ---------------------------------------------------
  // Min-k-of-shingle-hashes (k=3) document fingerprint: the 3 smallest md5s
  // of distinct word-3-shingles, concatenated.
  // The fingerprint is a pure function of one document, so with the native
  // shingle_set expression the whole operator is a map — no explode, no
  // distinct exchange, no aggregate (the r3 formulation paid a corpus-wide
  // distinct + a collect_list shuffle for the same bytes). Only the
  // deterministic output sort remains.
  def textFingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), expr("shingle_set(text)").as("ss"))
      .filter(col("ss").isNotNull)
      .select(col("doc_id"),
        expr("array_join(slice(sort_array(transform(ss, s -> md5(s))), 1, 3), '')").as("fp"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest([w[CAST(i AS INT)+1]||' '||w[CAST(i AS INT)+2]||' '||w[CAST(i AS INT)+3] FOR i IN range(0, greatest(len(w)-2, 0))]) AS s
      |  FROM w WHERE len(w) >= 3)),
      |h AS (SELECT doc_id, md5(s) AS h FROM sh),
      |r AS (SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM h)
      |SELECT doc_id, string_agg(h, '' ORDER BY h) AS fp
      |FROM r WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- select_quality_tiers -------------------------------------------------
  // CCNet-style quality tiering: per language, split the corpus into
  // head / middle / tail TERCILES of the shared quality score — the
  // canonical "keep head, sample middle, drop tail" curation partition.
  // Cut derivation is sort-free (the select_token_budget decomposition
  // applied to terciles): the corpus collapses to a (lang, iq) histogram
  // in ONE map-side-combinable groupBy (iq lives on the integer ScoreScale
  // lattice, so the histogram is bounded by the score lattice, not by
  // corpus size), cumulative counts over that report table pick the
  // DISCRETE cut values at ranks ceil(n/3) and ceil(2n/3) under iq DESC,
  // and tier assignment is a broadcast |langs|-row join + pure map.
  // Tiers are VALUE-based (every doc with the same score lands in the
  // same tier — tie-order-free, so both engines agree by construction);
  // reported sizes therefore straddle n/3 at ties, which is the honest
  // number. share = one division of exact BIGINTs.
  def selectQualityTiers(spark: SparkSession, d: String): DataFrame =
    selectQualityTiersFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[selectQualityTiers]] (docs needs doc_id, lang,
    * n_chars, text) — exposed so the randomized decomposition spec can pin
    * the lattice-histogram cut derivation against a sort-based brute force
    * on constructed corpora. */
  def selectQualityTiersFrom(docs: DataFrame): DataFrame = {
    val scored = scoredDocs(docs, col("doc_id"), col("lang"), col("n_chars"))
    val hist = scored.groupBy(col("lang"), col("iq")).agg(count(lit(1)).as("c"))
    val wDesc = Window.partitionBy("lang").orderBy(col("iq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("lang")
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wDesc))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("r1", expr("(n + 2) div 3"))
      .withColumn("r2", expr("(2 * n + 2) div 3"))
      .groupBy(col("lang")).agg(
        max(when(col("cum") - col("c") < col("r1") && col("r1") <= col("cum"),
          col("iq"))).as("c1"),
        max(when(col("cum") - col("c") < col("r2") && col("r2") <= col("cum"),
          col("iq"))).as("c2"),
        max(col("n")).as("nl"))
    scored.join(cuts, Seq("lang"))
      .withColumn("tier", when(col("iq") >= col("c1"), lit("head"))
        .when(col("iq") >= col("c2"), lit("middle")).otherwise(lit("tail")))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        max(col("nl")).as("nl"))
      .select(col("lang"), col("tier"), col("n_docs"), col("n_chars"),
        (col("n_docs").cast("double") / col("nl").cast("double")).as("share"))
      .orderBy("lang", "tier")
  }

  val selectQualityTiersSql: String =
    s"""WITH m AS (SELECT doc_id, lang, n_chars,
       |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       |s AS (SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS nw,
       |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn FROM m),
       |q AS (SELECT doc_id, lang, n_chars, ($ScoreScale * stopn) // nw AS iq FROM s),
       |h AS (SELECT lang, iq, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1, 2),
       |k AS (SELECT lang, iq, c,
       |  sum(c) OVER (PARTITION BY lang ORDER BY iq DESC ROWS UNBOUNDED PRECEDING) AS cum,
       |  sum(c) OVER (PARTITION BY lang) AS n FROM h),
       |cuts AS (SELECT lang,
       |  max(CASE WHEN cum - c < (n + 2)//3 AND (n + 2)//3 <= cum THEN iq END) AS c1,
       |  max(CASE WHEN cum - c < (2*n + 2)//3 AND (2*n + 2)//3 <= cum THEN iq END) AS c2,
       |  max(n) AS nl FROM k GROUP BY 1),
       |t AS (SELECT q.lang AS lang,
       |  CASE WHEN iq >= c1 THEN 'head' WHEN iq >= c2 THEN 'middle' ELSE 'tail' END AS tier,
       |  n_chars, nl FROM q JOIN cuts ON q.lang = cuts.lang)
       |SELECT lang, tier, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_chars) AS BIGINT) AS n_chars,
       | CAST(count(*) AS DOUBLE)/CAST(max(nl) AS DOUBLE) AS share
       |FROM t GROUP BY 1, 2 ORDER BY lang, tier""".stripMargin

  // --- text_quality_ks ----------------------------------------------------
  // Exact two-sample Kolmogorov–Smirnov distance between per-source
  // quality-score distributions — the "did this source's quality profile
  // shift / do these two crawls match?" screen a curation pipeline runs
  // before reusing a mixing recipe. The KS statistic sup|F_a − F_b| is
  // computed EXACTLY on the integer lattice: ks_x = max over the score
  // grid of |cum_a·n_b − cum_b·n_a| (cross-multiplied empirical CDFs —
  // zero doubles in the sup; ks_ppm = (10⁶·ks_x) div (n_a·n_b) is the
  // one lattice division). Decomposition: the corpus collapses to a
  // (source, iq) histogram in ONE map-side-combinable groupBy; the score
  // grid is bounded by the (stopword, token-count) lattice (459 values at
  // sf0.1), NEVER by corpus rows, so grid×sources, the per-source CDF
  // windows, and the 190-pair join all run on report-sized tables. The
  // grid broadcast is lattice-BOUNDED (audited in the allowlist).
  def textQualityKs(spark: SparkSession, d: String): DataFrame =
    textQualityKsFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[textQualityKs]] (docs needs doc_id, source,
    * text) — exposed so the randomized decomposition spec can pin the
    * grid/cross-multiplied-CDF sup against a direct per-pair brute force
    * on constructed corpora (score ties, single-doc sources, disjoint
    * supports). */
  def textQualityKsFrom(docs: DataFrame): DataFrame = {
    val scored = scoredDocs(docs, col("doc_id"), col("source"))
    val hist = scored.groupBy(col("source"), col("iq")).agg(count(lit(1)).as("c"))
    val grid = hist.select(col("iq")).distinct()
    val srcN = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("source").orderBy("iq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = srcN.crossJoin(broadcast(grid))
      .join(hist, Seq("source", "iq"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(w))
    val a = cum.select(col("source").as("source_a"), col("iq"),
      col("cum").as("cum_a"), col("n").as("n_a"))
    val b = cum.select(col("source").as("source_b"), col("iq"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("iq")).filter(col("source_a") < col("source_b"))
      .withColumn("d", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("d")).as("ks_x"))
      .withColumn("ks_ppm", expr("(1000000 * ks_x) div (n_a * n_b)"))
      .orderBy("source_a", "source_b")
  }

  val textQualityKsSql: String =
    s"""WITH m AS (SELECT doc_id, source,
       |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       |q AS (SELECT source,
       |  ($ScoreScale * CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT))
       |    // CAST(len(w) AS BIGINT) AS iq FROM m),
       |h AS (SELECT source, iq, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1, 2),
       |grid AS (SELECT DISTINCT iq FROM h),
       |sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
       |f AS (SELECT sn.source, sn.n, grid.iq, COALESCE(h.c, 0) AS c
       | FROM sn CROSS JOIN grid LEFT JOIN h ON h.source = sn.source AND h.iq = grid.iq),
       |cm AS (SELECT source, n, iq,
       |  CAST(sum(c) OVER (PARTITION BY source ORDER BY iq ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       | FROM f)
       |SELECT a.source AS source_a, b.source AS source_b,
       | CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b,
       | CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT) AS ks_x,
       | CAST((1000000 * CAST(max(abs(a.cum * b.n - b.cum * a.n)) AS BIGINT))
       |   // (CAST(max(a.n) AS BIGINT) * CAST(max(b.n) AS BIGINT)) AS BIGINT) AS ks_ppm
       |FROM cm a JOIN cm b ON a.iq = b.iq AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // --- doc_ngram_novelty --------------------------------------------------
  // Per-document n-gram NOVELTY under ingestion order (doc_id): the
  // fraction of a document's distinct 3-word shingles whose corpus-wide
  // FIRST occurrence is this document — the marginal-information curve a
  // curation pipeline reads to decide when a crawl source has gone stale
  // (novelty decaying to 0 means later documents only repeat earlier
  // shingles). Shape (r15 replan of the r14 #6 key-width fix, which
  // measured a wash — the md5 projection cost what the narrower keys
  // saved): the join-back was never needed. Every distinct shingle has
  // exactly ONE owner (min doc_id), so a doc's novel count is simply the
  // number of owner rows naming it — groupBy(shingle).min(doc_id) then
  // groupBy(owner).count(), both map-side combinable — and its total
  // distinct-shingle count is size(shingle_set(text)), computed in the
  // scan with no exchange at all. ONE gram-keyed shuffle total (half the
  // dedup_substring budget) and only a doc-keyed left join of two
  // one-row-per-doc sides remains; the 16-byte unhex(md5)
  // gram key keeps that one exchange narrow (collision bound: the
  // documented 128-bit negligible-by-construction argument — only
  // counts survive, never gram text). Every document is reported,
  // shingle-free docs with n_shingles = 0 and NULL novelty (one
  // division of exact BIGINTs otherwise).
  def docNgramNovelty(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val novel = docs
      .select(col("doc_id"), expr("shingle_set(text)").as("ss"))
      .filter(col("ss").isNotNull)
      .select(col("doc_id"), explode(col("ss")).as("sraw"))
      .select(col("doc_id"), unhex(md5(col("sraw"))).as("s"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    docs
      .select(col("doc_id"),
        coalesce(expr("size(shingle_set(text))"), lit(0)).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0L,
          coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  val docNgramNoveltySql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest([w[CAST(i AS INT)+1]||' '||w[CAST(i AS INT)+2]||' '||w[CAST(i AS INT)+3] FOR i IN range(0, greatest(len(w)-2, 0))]) AS s
      |  FROM w WHERE len(w) >= 3)),
      |own AS (SELECT s, min(doc_id) AS owner FROM sh GROUP BY 1),
      |per AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN owner = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      | FROM sh JOIN own USING (s) GROUP BY 1)
      |SELECT d.doc_id,
      | COALESCE(n_shingles, 0) AS n_shingles,
      | COALESCE(n_novel, 0) AS n_novel,
      | CASE WHEN COALESCE(n_shingles, 0) > 0
      |      THEN CAST(n_novel AS DOUBLE)/CAST(n_shingles AS DOUBLE) END AS novelty
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --- text_gopher_rules --------------------------------------------------
  // The MassiveText/Gopher rule-based quality filter (Rae et al. 2021,
  // §A.1.1) as per-document boolean flags: word-count bounds [50, 100k],
  // mean word length in [3, 10], ≥ 2 stop words (the repo-wide {'the','a'}
  // list), ≥ 80% of words containing an alphabetic character, and
  // symbol-to-word ratio ('#' or '...') ≤ 0.1. Every rule is an EXACT
  // integer comparison (mean-length and ratio bounds cross-multiplied onto
  // the integer lattice: 3·nw ≤ Σlen ≤ 10·nw, 10·nsym ≤ nw), so the row is
  // hash-portable with no doubles at all. PURE MAP — all six flags compute
  // in the scan's project list from one tokenization; no explode, no
  // shuffle, embarrassingly parallel at any corpus size.
  def textGopherRules(spark: SparkSession, d: String): DataFrame =
    textGopherRulesFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[textGopherRules]] (docs needs doc_id, text) —
    * exposed so the randomized spec can pin every rule at its exact
    * integer boundary (nw = 49/50, Σlen = 3·nw and 10·nw, stopn = 1/2,
    * the 80% alphabetic edge, the 0.1 symbol-ratio edge). */
  def textGopherRulesFrom(docs: DataFrame): DataFrame = {
    // all five rule inputs from the fused gate_stats kernel (the
    // HOF/regexp formulations are the oracle + spec reference)
    docs
      .select(col("doc_id"), expr("gate_stats(text)").as("gs"))
      .select(col("doc_id"), col("gs").getItem(0).as("nw"),
        col("gs").getItem(1).as("sl"), col("gs").getItem(2).as("stopn"),
        col("gs").getItem(5).as("alphan"), col("gs").getItem(6).as("symn"))
      .select(col("doc_id"),
        col("nw").as("n_words"),
        (col("nw") >= 50L && col("nw") <= 100000L).cast("long").as("r_words"),
        (lit(3L) * col("nw") <= col("sl") && col("sl") <= lit(10L) * col("nw"))
          .cast("long").as("r_avg_len"),
        (col("stopn") >= 2L).cast("long").as("r_stop"),
        (lit(5L) * col("alphan") >= lit(4L) * col("nw")).cast("long").as("r_alpha"),
        (lit(10L) * col("symn") <= col("nw")).cast("long").as("r_symbol"))
      .withColumn("pass",
        (col("r_words") === 1L && col("r_avg_len") === 1L && col("r_stop") === 1L &&
          col("r_alpha") === 1L && col("r_symbol") === 1L).cast("long"))
      .orderBy("doc_id")
  }

  val textGopherRulesSql: String =
    """WITH m AS (SELECT doc_id, text,
      |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |s AS (SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS nw,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sl,
      |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn,
      |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alphan,
      |  CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS symn
      | FROM m),
      |f AS (SELECT doc_id, nw AS n_words,
      |  CAST(nw >= 50 AND nw <= 100000 AS BIGINT) AS r_words,
      |  CAST(3*nw <= sl AND sl <= 10*nw AS BIGINT) AS r_avg_len,
      |  CAST(stopn >= 2 AS BIGINT) AS r_stop,
      |  CAST(5*alphan >= 4*nw AS BIGINT) AS r_alpha,
      |  CAST(10*symn <= nw AS BIGINT) AS r_symbol
      | FROM s)
      |SELECT doc_id, n_words, r_words, r_avg_len, r_stop, r_alpha, r_symbol,
      | CAST(r_words = 1 AND r_avg_len = 1 AND r_stop = 1 AND r_alpha = 1
      |      AND r_symbol = 1 AS BIGINT) AS pass
      |FROM f ORDER BY doc_id""".stripMargin

  // --- select_dsir --------------------------------------------------------
  // Data Selection via Importance Resampling (Xie et al. 2023) on the
  // integer lattice: hashed-unigram features (md5 head → one of DsirBuckets
  // buckets), a per-bucket importance score s_b = (DsirScale·(tgt_b+1)) div
  // (raw_b+1) comparing the target slice (lang = 'en') against the raw
  // corpus, and a per-document weight Σ_b n_db·s_b. The published method
  // sums log-ratios of smoothed bucket probabilities; this is the same
  // estimator with the ratio held on the integer lattice so the weight is
  // an exact BIGINT — order-free under any partitioning, hash-verifiable,
  // and monotone in the same direction (docs whose tokens concentrate in
  // target-heavy buckets score high). Shape (r14 verdict #9): the per-doc
  // bucket-count VECTOR forms in the scan projection via the
  // dsir_bucket_counts kernel — the r14 plan exploded every token
  // occurrence into a per-(doc, lang, bucket) groupBy and shipped ~64
  // rows per doc through an exchange. The global bucket table is now ONE
  // fully map-side-combinable 2·DsirBuckets-sum aggregate (a single
  // reduce row — the scalar contract bounds the collect), the score
  // vector is literal-injected, and the per-doc weight/token count are
  // dot_i64 / aggregate() folds in a second scan — zero corpus-row
  // exchanges anywhere. Nothing grows with corpus size but the scans.
  // Storage contract: construction is EAGER for the one-row global
  // aggregate (trained-state injection must collect at call time — the
  // centroid/codebook precedent); nothing is checkpointed.
  def selectDsir(spark: SparkSession, d: String): DataFrame = {
    def vectorized(src: DataFrame) = src
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        expr(s"dsir_bucket_counts(text, $DsirBuckets)").as("v"))
    val per = vectorized(Tables.documents(spark, d))
    val sums = (0 until DsirBuckets.toInt).flatMap { i =>
      Seq(sum(element_at(col("v"), i + 1)).as(s"raw_$i"),
        sum(when(col("lang") === "en", element_at(col("v"), i + 1))
          .otherwise(0L)).as(s"tgt_$i"))
    }
    val row = per.agg(sums.head, sums.tail: _*).collect()(0)
    val s = (0 until DsirBuckets.toInt).map { i =>
      val raw = Option(row.getAs[java.lang.Long](s"raw_$i")).map(_.toLong).getOrElse(0L)
      val tgt = Option(row.getAs[java.lang.Long](s"tgt_$i")).map(_.toLong).getOrElse(0L)
      (DsirScale * (tgt + 1L)) / (raw + 1L)
    }
    per.select(col("doc_id"),
        expr("aggregate(v, 0L, (a, x) -> a + x)").as("n_tokens"),
        expr(s"dot_i64(v, array(${s.mkString("L, ")}L))").as("weight"))
      .select(col("doc_id"), col("n_tokens"), col("weight"),
        expr("weight div n_tokens").as("w_per_tok"))
      .orderBy("doc_id")
  }

  val selectDsirSql: String =
    s"""WITH tok AS (SELECT doc_id, lang,
       |  unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents),
       |bk AS (SELECT doc_id, lang,
       |  CAST(((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16 +
       |    strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) % $DsirBuckets AS BIGINT) AS b
       | FROM tok),
       |per AS (SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
       | FROM bk GROUP BY 1, 2, 3),
       |gb AS (SELECT b, CAST(sum(c) AS BIGINT) AS raw_c,
       |  CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_c
       | FROM per GROUP BY 1),
       |sc AS (SELECT b, ($DsirScale * (tgt_c + 1)) // (raw_c + 1) AS s FROM gb)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       | CAST(sum(c * s) AS BIGINT) AS weight,
       | CAST(CAST(sum(c * s) AS BIGINT) // CAST(sum(c) AS BIGINT) AS BIGINT) AS w_per_tok
       |FROM per JOIN sc USING (b) GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --- text_char_diversity ------------------------------------------------
  // Character-level diversity via the COLLISION index (Rényi-2): per doc,
  // the number of distinct characters and Σ c_i² over per-character counts
  // — the exact-integer core of collision entropy −ln Σ p_i², a standard
  // gibberish/repetitiveness signal (low diversity = high collision mass).
  // A Shannon entropy would need per-engine ln() and an order-dependent
  // double sum; the collision index is pure BIGINT arithmetic, so the row
  // is hash-portable. simpson_ppm = (10⁶·Σc²) div n² stays on the lattice.
  // PURE MAP: the native char_collision kernel counts in ONE pass over the
  // string in the scan's project list — no explode, no shuffle; the corpus
  // cost is one linear scan at any size. (The composable HOF formulation —
  // slice(split(text,''),1,length(text)) re-filtered once per distinct
  // char — is what NativeKernelSpec pins the kernel against; it measured
  // 4.7s exec at sf0.1 through interpreted lambdas vs ~0.2s native.)
  def textCharDiversity(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), expr("char_collision(text)").as("cc"))
      .select(col("doc_id"),
        element_at(col("cc"), 1).as("n_chars_calc"),
        element_at(col("cc"), 2).as("n_distinct_chars"),
        element_at(col("cc"), 3).as("collision_x"))
      .withColumn("simpson_ppm",
        expr("(1000000 * collision_x) div (n_chars_calc * n_chars_calc)"))
      .orderBy("doc_id")

  val textCharDiversitySql: String =
    """WITH c AS (SELECT doc_id,
      |  [substr(text, CAST(i AS INT) + 1, 1) FOR i IN range(0, length(text))] AS cs
      | FROM documents),
      |d AS (SELECT doc_id, cs, list_distinct(cs) AS dc FROM c),
      |e AS (SELECT doc_id,
      |  CAST(len(cs) AS BIGINT) AS n_chars_calc,
      |  CAST(len(dc) AS BIGINT) AS n_distinct_chars,
      |  CAST(list_sum(list_transform(dc,
      |    ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT) *
      |          len(list_filter(cs, x -> x = ch)))) AS BIGINT) AS collision_x
      | FROM d)
      |SELECT doc_id, n_chars_calc, n_distinct_chars, collision_x,
      | CAST((1000000 * collision_x) // (n_chars_calc * n_chars_calc) AS BIGINT) AS simpson_ppm
      |FROM e ORDER BY doc_id""".stripMargin

  // --- text_top_terms -----------------------------------------------------
  // TF-IDF-ranked top-3 terms per document. The score is (tf·N)/df computed
  // as ONE division of exact integers — deterministic and bit-identical in
  // any engine (a log-based idf would hinge on libm rounding and could not
  // be hash-verified). Scale: tf is a map-side-combinable groupBy per doc;
  // df is a groupBy per term (hot "stopword" terms are exactly the
  // high-df/low-score ones, and AQE splits those reducers); N is one scalar
  // broadcast; the final top-k is a per-doc window over that doc's terms.
  def textTopTerms(spark: SparkSession, d: String): DataFrame = {
    // per-doc tf from the term_counts kernel in the scan projection: the
    // exploded rows are ALREADY one per (doc, term), so the old
    // explode → groupBy(doc_id, t) corpus-token shuffle disappears and df
    // map-side-combines straight to vocabulary-size partials (r14; the
    // explode+groupBy formulation is the oracle + spec reference)
    val tf = Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr("term_counts(text)")).as("e"))
      .select(col("doc_id"), col("e.t").as("t"), col("e.c").as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, d).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tf.join(df, Seq("t")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("t").as("term"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score")
      .orderBy("doc_id", "rank")
  }

  val textTopTermsSql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (SELECT doc_id, t AS term, CAST(tf * n AS DOUBLE) / df AS score
      |      FROM tf JOIN df USING (t) CROSS JOIN n),
      |r AS (SELECT doc_id, term, score,
      |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
      |      FROM s)
      |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // --- text_quality_auc ---------------------------------------------------
  // Rank-based AUC of the curation quality score against a weak label —
  // the eval a selection recipe runs BEFORE trusting its score: does the
  // stopword-share score actually separate English documents (whose
  // stopwords the score counts) from the rest? AUC computes as the exact
  // Mann–Whitney U-statistic with tie correction, decomposed over the
  // SCORE-BUCKET table exactly like select_token_budget's prefix sum:
  // per-bucket (n_pos, n_neg) is one combinable groupBy (≤ score-lattice
  // keys, never corpus rows), concordant pairs are np·cum_neg_below via
  // one window over that REPORT-sized table, ties contribute np·nn, and
  //   u2 = 2·#concordant + #ties,  auc = u2 / (2·P·N)
  // — all exact integers until the ONE final division, so both engines
  // agree bitwise. No pair join anywhere: the O(P·N) pair space collapses
  // through the bucket decomposition.
  def textQualityAuc(spark: SparkSession, d: String): DataFrame =
    textQualityAucFrom(Tables.documents(spark, d))

  /** DataFrame-in variant for library callers / specs: `docs` needs
    * (lang, text). */
  def textQualityAucFrom(docs: DataFrame): DataFrame = {
    // NULL-safe label: a NULL lang counts as a NEGATIVE (the SQL CASE's
    // behavior) rather than vanishing from the statistic (what a bare
    // three-valued === would do under sum)
    val q = scoredDocs(docs,
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .select("pos", "iq")
    val buckets = q.groupBy("iq")
      .agg(sum(col("pos")).as("np"), sum(lit(1L) - col("pos")).as("nn"))
    val wBelow = Window.orderBy("iq")
      .rowsBetween(Window.unboundedPreceding, -1)
    buckets
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(wBelow), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * col("cum_nn") * 2L + col("np") * col("nn")).as("u2"))
      .withColumn("auc",
        // single-class corpus -> AUC is undefined; say so with an explicit
        // NULL on both engines instead of a divide-by-zero artifact
        when(col("n_pos") * col("n_neg") > 0L,
          col("u2").cast("double") / (col("n_pos") * col("n_neg") * 2L)))
      .select("n_pos", "n_neg", "u2", "auc")
  }

  val textQualityAucSql: String =
    s"""WITH m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       |s AS (SELECT pos, CAST(len(w) AS BIGINT) AS nw,
       |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn FROM m),
       |q AS (SELECT pos, ($ScoreScale * stopn) // nw AS iq FROM s),
       |b AS (SELECT iq, CAST(sum(pos) AS BIGINT) AS np, CAST(sum(1 - pos) AS BIGINT) AS nn
       |      FROM q GROUP BY 1),
       |c AS (SELECT iq, np, nn,
       |  coalesce(sum(nn) OVER (ORDER BY iq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
       |  FROM b)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
       | CAST(sum(2*np*cum_nn + np*nn) AS BIGINT) AS u2,
       | CASE WHEN sum(np) * sum(nn) > 0
       |   THEN CAST(sum(2*np*cum_nn + np*nn) AS DOUBLE) / (sum(np) * sum(nn) * 2) END AS auc
       |FROM c""".stripMargin

  // --- select_pareto ------------------------------------------------------
  // 2-D skyline selection for curation: keep every document NOT dominated
  // in (quality score, token count) — doc e dominates d when e is ≥ on
  // both axes and strictly better on at least one. The skyline is the
  // classic "no doc is better on both counts" frontier a recipe reads
  // when quality and length trade off.
  //
  // Scale shape: the O(n²) dominance test decomposes over the integer
  // SCORE-BUCKET table (select_token_budget's pattern) — per-bucket
  // max token count is one combinable groupBy, "best length strictly
  // above my score" is a suffix max over the report-sized bucket table
  // (allowlisted global window), and each doc joins its bucket's two
  // scalars: d survives iff above_max < nw_d (no higher-score doc is at
  // least as long) AND bucket_max ≤ nw_d (no same-score doc is strictly
  // longer). Equal points both survive (neither dominates). No pair
  // join, no corpus sort.
  def selectPareto(spark: SparkSession, d: String): DataFrame = {
    val m = scoredDocs(Tables.documents(spark, d), col("doc_id"))
    val buckets = m.groupBy("iq").agg(max(col("nw")).as("bmax"))
    val wAbove = Window.orderBy(desc("iq")).rowsBetween(Window.unboundedPreceding, -1)
    // no-higher-bucket sentinel is -1, safely inside BIGINT in both
    // engines (nw >= 1 for every scored doc, so -1 < nw always holds —
    // the top bucket passes the above-check unconditionally; an
    // interpolated Long.MinValue forced DuckDB through a silent HUGEINT
    // promotion, ADVICE r11)
    val dims = buckets.withColumn("amax",
      coalesce(max(col("bmax")).over(wAbove), lit(-1L)))
    m.join(dims, Seq("iq"))
      .filter(col("amax") < col("nw") && col("bmax") <= col("nw"))
      .select("doc_id", "iq", "nw")
      .orderBy("doc_id")
  }

  val selectParetoSql: String =
    s"""WITH m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw,
       |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents)),
       |q AS (SELECT doc_id, nw, ($ScoreScale * stopn) // nw AS iq FROM m),
       |b AS (SELECT iq, max(nw) AS bmax FROM q GROUP BY 1),
       |dims AS (SELECT iq, bmax,
       |  coalesce(max(bmax) OVER (ORDER BY iq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           -1) AS amax
       |  FROM b)
       |SELECT doc_id, q.iq, nw
       |FROM q JOIN dims ON q.iq = dims.iq
       |WHERE amax < nw AND bmax <= nw
       |ORDER BY doc_id""".stripMargin

  // --- text_boilerplate ---------------------------------------------------
  // Corpus-level boilerplate detection — the template-stripping signal every
  // crawl-cleaning pipeline computes (shared headers/footers/nav text shows
  // up as n-grams with abnormally high document frequency). A shingle is
  // boilerplate iff its document frequency exceeds BOTH an absolute floor
  // (df > 2 — excludes the degenerate tiny-corpus case) and a relative 1%
  // rule (df·100 > N, exact integer compare — no float threshold to drift
  // between engines). Output: per-doc shingle count, boilerplate-shingle
  // count, and ratio (single final division — bit-identical IEEE in both
  // engines).
  // Scale: the shingle df groupBy and the join back to per-doc shingles
  // share one exchange on `s` (identical subtree); hot shingles are exactly
  // the boilerplate ones and AQE splits those reducers; the per-doc
  // aggregate is map-side combinable; N is one broadcast scalar.
  def textBoilerplate(spark: SparkSession, d: String): DataFrame = {
    // per-doc distinct shingles via the native shingle_set expression —
    // map-side dedup, no corpus-wide distinct exchange
    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), expr("shingle_set(text)").as("ss"))
      .filter(col("ss").isNotNull)
      .select(col("doc_id"), explode(col("ss")).as("s"))
    val n = Tables.documents(spark, d).agg(count(lit(1)).as("n"))
    // The boilerplate set is SMALL BY CONSTRUCTION at any corpus size:
    // each qualifying shingle has df > N/100, and per-doc-distinct df sums
    // to at most (shingles per doc)·N, so at most 100·avg_shingles_per_doc
    // shingles can qualify — corpus-size-independent, but it DOES scale
    // with document length (ADVICE r10). So NO forced broadcast hint: the
    // boiler side is a shuffle-stage output whose runtime size AQE
    // observes, and AQE converts the join to broadcast exactly when the
    // set is actually small (the normal case — measured equal-or-faster
    // than the r10 forced hint) while a pathological long-document corpus
    // degrades to the shuffled join instead of blowing the driver. Same
    // stance as ds_apply_filter: never pin a data-dependent build side.
    val boiler = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") > 2 && col("df") * 100 > col("n"))
      .select(col("s"), lit(1L).as("b"))
    sh.join(boiler, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("b"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio", col("n_boiler").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  val textBoilerplateSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest([w[CAST(i AS INT)+1]||' '||w[CAST(i AS INT)+2]||' '||w[CAST(i AS INT)+3] FOR i IN range(0, greatest(len(w)-2, 0))]) AS s
      |  FROM w WHERE len(w) >= 3)),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df > 2 AND df*100 > n THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST(sum(CASE WHEN df > 2 AND df*100 > n THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS boiler_ratio
      |FROM sh JOIN df USING (s) CROSS JOIN n
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- doc_split ----------------------------------------------------------
  // Deterministic train/val/test assignment — the reproducibility primitive
  // every training pipeline needs: membership must be a pure function of
  // the example's identity (never of partitioning, sampling order, or a
  // seed file), so reruns, incremental ingests, and different engines all
  // agree. The hash bucket is the first two hex chars of md5(doc_id) —
  // 256 buckets, split 80/10/10 at integer thresholds 204/230. Pure map;
  // no shuffle at all (the output sort is for the deterministic dump).
  def docSplit(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 204, "train")
          .when(col("bucket") < 230, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  val docSplitSql: String =
    """WITH b AS (SELECT doc_id,
      |  CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  // --- text_repetition ----------------------------------------------------
  // Within-document repetition signals (the Gopher/C4-style quality rules
  // that catch templated or looping text): duplicate-word ratio plus the
  // count and coverage ratio of the most frequent word bigram and trigram.
  // Only the top COUNT is output (never the winning n-gram itself), so ties
  // need no tie-break and both engines agree exactly; every ratio is one
  // final division of exact integers.
  // Scale: the n-gram frequency groupBy is map-side combinable and the
  // per-doc max is a second tiny combinable aggregate; only (doc_id, gram)
  // pairs shuffle, and the heaviest key load is bounded by document length.
  // PURE MAP via the native `top_ngram_counts` expression — the top counts
  // never leave their row, so the two corpus-sized (doc, gram) shuffles the
  // composable formulation pays (kept below for the bitwise-equality spec)
  // disappear; at 100 TB the operator reduces to a scan.
  def textRepetition(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), words.as("w"), expr("top_ngram_counts(text)").as("tc"))
      .select(col("doc_id"), size(col("w")).cast("long").as("nw"),
        size(array_distinct(col("w"))).cast("long").as("ndw"),
        col("tc").getItem(0).as("top2"), col("tc").getItem(1).as("top3"))
      .select(col("doc_id"), col("nw").as("n_words"),
        ((col("nw") - col("ndw")).cast("double") / col("nw")).as("dup_word_ratio"),
        col("top2").as("top_bigram_n"),
        when(col("nw") > 1, col("top2").cast("double") / (col("nw") - 1))
          .otherwise(0.0).as("top_bigram_ratio"),
        col("top3").as("top_trigram_n"),
        when(col("nw") > 2, col("top3").cast("double") / (col("nw") - 2))
          .otherwise(0.0).as("top_trigram_ratio"))
      .orderBy("doc_id")

  /** The explode/groupBy/max formulation of the top-n-gram counts — what
    * the oracle mirrors and what NativeKernelSpec proves the native
    * expression equal to, per doc, on adversarial input. Returns
    * (doc_id, top_bigram_n, top_trigram_n) with 0 for too-short docs.
    */
  private[graft] def topNgramComposable(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), words.as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("nw"))
    def topGram(k: Int, alias: String): DataFrame =
      base.filter(col("nw") >= k)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(w) - $k), i -> " +
            (1 to k).map(j => s"element_at(w, i + $j)").mkString("concat_ws(' ', ", ", ", ")") +
            ")")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as(alias))
    base.select("doc_id")
      .join(topGram(2, "top_bigram_n"), Seq("doc_id"), "left")
      .join(topGram(3, "top_trigram_n"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("top_trigram_n"), lit(0L)).as("top_trigram_n"))
  }

  val textRepetitionSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      |b AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS ndw FROM w),
      |bg AS (SELECT doc_id, unnest([w[CAST(i AS INT)+1]||' '||w[CAST(i AS INT)+2] FOR i IN range(0, greatest(len(w)-1, 0))]) AS g
      |       FROM w WHERE len(w) >= 2),
      |bt AS (SELECT doc_id, max(c) AS top2 FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
      |tg AS (SELECT doc_id, unnest([w[CAST(i AS INT)+1]||' '||w[CAST(i AS INT)+2]||' '||w[CAST(i AS INT)+3] FOR i IN range(0, greatest(len(w)-2, 0))]) AS g
      |       FROM w WHERE len(w) >= 3),
      |tt AS (SELECT doc_id, max(c) AS top3 FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2) GROUP BY 1)
      |SELECT b.doc_id, CAST(nw AS BIGINT) AS n_words,
      |  CAST(nw - ndw AS DOUBLE) / nw AS dup_word_ratio,
      |  CAST(coalesce(top2, 0) AS BIGINT) AS top_bigram_n,
      |  CASE WHEN nw > 1 THEN CAST(coalesce(top2, 0) AS DOUBLE) / (nw - 1) ELSE 0.0 END AS top_bigram_ratio,
      |  CAST(coalesce(top3, 0) AS BIGINT) AS top_trigram_n,
      |  CASE WHEN nw > 2 THEN CAST(coalesce(top3, 0) AS DOUBLE) / (nw - 2) ELSE 0.0 END AS top_trigram_ratio
      |FROM b LEFT JOIN bt ON b.doc_id = bt.doc_id LEFT JOIN tt ON b.doc_id = tt.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // --- text_pii -----------------------------------------------------------
  // PII surface scan — counts of email / IPv4 / SSN-form / phone-form
  // matches per document plus an any-hit flag, the filtering signal a
  // training-data pipeline runs before redaction. Patterns stick to syntax
  // with identical semantics in Java regex and RE2 (no backrefs, no
  // lookaround), so both engines count the same non-overlapping matches.
  // The synthetic corpus is digit-free (verified), so the corpus-level
  // oracle run exercises the all-zeros path; `TextAnalysisSpec` proves the
  // positive path on synthetic documents through the same code.
  // Scale: pure map over the scan, no shuffle at all.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val PhoneRe = "\\d{3}[- ]\\d{3}[- ]\\d{4}"

  def textPii(spark: SparkSession, d: String): DataFrame =
    textPiiFrom(Tables.documents(spark, d))

  /** Every PII pattern needs a digit or an '@' (email requires '@'; the
    * ipv4/ssn/phone forms require digits), so ONE cheap character-class
    * scan decides whether the four heavy Java-regex passes can match at
    * all — the standard production prefilter before expensive regex work
    * (Java's NFA engine is ~an order of magnitude slower than RE2-style
    * engines on these patterns; the `when` compiles to a per-row branch,
    * so clean documents — the overwhelming majority of a real corpus —
    * never enter them). NULL text stays NULL on every output, exactly as
    * the unguarded expressions behaved.
    */
  // Strictly NECESSARY condition for any of the four patterns (so guarding
  // on it cannot change a count): email requires '@'; each digit pattern
  // requires two digits separated by at most one of [-. ] — ipv4 has
  // "digit '.' digit" at every octet boundary, ssn/phone have "\d\d"
  // inside \d{3}. The old "[0-9@]" guard let any lone digit trigger all
  // four heavy Java-regex passes — at sf1 the replica corpus's "_3" token
  // suffixes made that every document (text_pii 5.1s); two-digit
  // proximity is what the patterns actually need, and a real corpus's
  // isolated digits (years, counts) skip it too.
  private val PiiCandidate = "@|[0-9][-. ]?[0-9]"

  /** DataFrame-in variant: `docs` needs (doc_id, text). */
  def textPiiFrom(docs: DataFrame): DataFrame = {
    val cand = col("text").rlike(PiiCandidate)
    def n(re: String) =
      when(cand, size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long"))
        .otherwise(when(col("text").isNotNull, 0L))
    docs.select(
      col("doc_id"),
      n(EmailRe).as("n_email"),
      n(Ipv4Re).as("n_ipv4"),
      n(SsnRe).as("n_ssn"),
      n(PhoneRe).as("n_phone"))
      .withColumn("has_pii",
        (col("n_email") + col("n_ipv4") + col("n_ssn") + col("n_phone")) > 0)
      .orderBy("doc_id")
  }

  val textPiiSql: String =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       | CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
       | CAST(len(regexp_extract_all(text, '$SsnRe')) AS BIGINT) AS n_ssn,
       | CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phone,
       | len(regexp_extract_all(text, '$EmailRe')) + len(regexp_extract_all(text, '$Ipv4Re'))
       |   + len(regexp_extract_all(text, '$SsnRe')) + len(regexp_extract_all(text, '$PhoneRe')) > 0 AS has_pii
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- text_pii_redact ----------------------------------------------------
  // The redaction TRANSFORM next to the text_pii scan — the step a training
  // pipeline actually ships: every email/IPv4/SSN/phone match replaced by a
  // typed placeholder, plus the applied-redaction count. Replacement order
  // is fixed (email, ipv4, ssn, phone) and counts are computed on the
  // ORIGINAL text, so both engines perform the identical global
  // non-overlapping left-to-right replacements and the redacted strings
  // agree byte-for-byte (patterns are the Java-regex/RE2-identical set from
  // text_pii). The corpus-level oracle exercises the no-op path (corpus is
  // digit-free); tools/check_pii_parity.py proves the positive path on
  // synthetic PII docs in BOTH engines. PURE MAP over the scan.
  def textPiiRedact(spark: SparkSession, d: String): DataFrame =
    textPiiRedactFrom(Tables.documents(spark, d))

  /** DataFrame-in variant: `docs` needs (doc_id, text). Same `[0-9@]`
    * candidate prefilter as textPiiFrom: a document with no digit and no
    * '@' cannot match any pattern, so it skips all eight regex passes and
    * passes through unchanged with count 0 — identical output, and the
    * common clean-document path costs one character-class scan.
    */
  def textPiiRedactFrom(docs: DataFrame): DataFrame = {
    val cand = col("text").rlike(PiiCandidate)
    docs.select(
      col("doc_id"),
      when(cand,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("text"),
          lit(EmailRe), lit("[EMAIL]")), lit(Ipv4Re), lit("[IPV4]")),
          lit(SsnRe), lit("[SSN]")), lit(PhoneRe), lit("[PHONE]")))
        .otherwise(col("text")).as("redacted"),
      when(cand,
        (size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          + size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
          + size(regexp_extract_all(col("text"), lit(SsnRe), lit(0)))
          + size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))))
          .cast("long"))
        .otherwise(when(col("text").isNotNull, 0L)).as("n_redacted"))
      .orderBy("doc_id")
  }

  val textPiiRedactSql: String =
    s"""SELECT doc_id,
       | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |   '$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IPV4]', 'g'),
       |   '$SsnRe', '[SSN]', 'g'), '$PhoneRe', '[PHONE]', 'g') AS redacted,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) + len(regexp_extract_all(text, '$Ipv4Re'))
       |   + len(regexp_extract_all(text, '$SsnRe')) + len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_redacted
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- doc_length_histogram -----------------------------------------------
  // Log2-bucketed token-count histogram — the length panel on every dataset
  // card, and the input to context-window budget decisions. bucket =
  // floor(log2(n_words)) computed EXACTLY as the binary-string length minus
  // one (bin() of a BIGINT in both engines) — no float log anywhere, so a
  // doc can never straddle a bucket edge differently per engine. One
  // map-side-combinable groupBy over ≤64 keys: the full length curve of a
  // 100 TB corpus moves a few KB of partials per partition.
  def docLengthHistogram(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(size(words).cast("long").as("nw"))
      .filter(col("nw") >= 1)
      .select((length(bin(col("nw"))) - 1).cast("long").as("bucket"), col("nw"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("total_tokens"))
      .withColumn("lo", expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
      .withColumn("hi", expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1) - 1"))
      .select("bucket", "lo", "hi", "n_docs", "total_tokens")
      .orderBy("bucket")

  val docLengthHistogramSql: String =
    """WITH t AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw FROM documents),
      |b AS (SELECT CAST(length(bin(nw)) - 1 AS BIGINT) AS bucket, nw FROM t WHERE nw >= 1)
      |SELECT bucket,
      | CAST(CAST(1 AS BIGINT) << CAST(bucket AS INT) AS BIGINT) AS lo,
      | CAST((CAST(1 AS BIGINT) << (CAST(bucket AS INT) + 1)) - 1 AS BIGINT) AS hi,
      | count(*) AS n_docs,
      | CAST(sum(nw) AS BIGINT) AS total_tokens
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // --- doc_pack -----------------------------------------------------------
  // Sequence packing — concatenate-then-chunk assignment of documents into
  // fixed token-budget bins (what an LLM pre-training pipeline does to fill
  // context windows): within each source, documents in doc_id order are
  // laid end-to-end and cut every 256 whitespace tokens. Output per doc:
  // its bin, its offset inside the bin, and whether it straddles a bin
  // boundary. Assignment is a pure function of (source, doc_id order,
  // token counts) — reproducible across engines and reruns.
  // Scale: the per-source running token sum DECOMPOSES over (source,
  // doc_id-range bucket) groups (RangeBuckets): bucket-local prefix sums,
  // a bucket census whose exclusive prefix hands each bucket its token
  // carry-in, start_off = carry + local prefix − own tokens. Integer
  // div/mod only. The windowed stream is checkpointed (census + join-back
  // both read it) without a repartition: the window's own exchange
  // partitions it.
  private val PackBudget = 256

  def docPack(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), size(words).cast("long").as("n_tokens"))
    val lw = Window.partitionBy("source", "b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = RangeBuckets.assign(base, "source", "doc_id")
      .withColumn("lsum", sum(col("n_tokens")).over(lw))
      .localCheckpoint(false)
    val census = local.groupBy("source", "b").agg(sum(col("n_tokens")).as("sb"))
      .withColumn("off", RangeBuckets.offset(col("sb"), "source"))
      .select("source", "b", "off")
    local.join(census, Seq("source", "b"))
      .withColumn("start_off", col("off") + col("lsum") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_off div $PackBudget").as("bin_id"),
        (col("start_off") % PackBudget).as("bin_offset"),
        (expr(s"(start_off + n_tokens - 1) div $PackBudget") >
          expr(s"start_off div $PackBudget")).as("spans_boundary"))
      .orderBy("doc_id")
  }

  val docPackSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, source, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_off FROM t)
       |SELECT doc_id, source, n_tokens,
       |  start_off // $PackBudget AS bin_id,
       |  start_off % $PackBudget AS bin_offset,
       |  (start_off + n_tokens - 1) // $PackBudget > start_off // $PackBudget AS spans_boundary
       |FROM c ORDER BY doc_id""".stripMargin

  // --- doc_chunks ---------------------------------------------------------
  // Overlapping-window chunking — the RAG/embedding-prep primitive: split
  // each document into 128-token windows with stride 96 (32-token overlap
  // so no sentence is orphaned at a boundary). Emits (doc_id, chunk_idx,
  // start_tok, end_tok, n_tokens); chunk boundaries are a pure function of
  // the token count, so chunk identity is reproducible across reruns and
  // engines (the doc_split property, extended to sub-document units).
  // Scale: pure map + explode, zero shuffle; output is ~nw/96 rows per doc.
  private val ChunkLen = 128
  private val ChunkStride = 96

  def docChunks(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), size(words).cast("long").as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), col("nw"),
        posexplode(expr(s"sequence(0L, nw - 1, $ChunkStride)")).as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok"),
        least(col("start_tok") + ChunkLen, col("nw")).as("end_tok"))
      .withColumn("n_tokens", col("end_tok") - col("start_tok"))
      .orderBy("doc_id", "chunk_idx")

  val docChunksSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nw FROM documents),
       |c AS (SELECT doc_id, nw, CAST(unnest(range(0, nw, $ChunkStride)) AS BIGINT) AS start_tok
       |      FROM t WHERE nw > 0)
       |SELECT doc_id, start_tok // $ChunkStride AS chunk_idx, start_tok,
       |  least(start_tok + $ChunkLen, nw) AS end_tok,
       |  least(start_tok + $ChunkLen, nw) - start_tok AS n_tokens
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --- corpus_stats -------------------------------------------------------
  // One-row corpus report — the numbers a dataset card leads with: document
  // count, total whitespace tokens, vocabulary size, mean document length,
  // type-token ratio. Both divisions are single IEEE ops on exact integers.
  // Scale: ONE explode pass; total is a plain count and vocab a distinct
  // count, both partial-aggregable (Spark plans countDistinct as a
  // two-stage expand-aggregate — the shuffle carries distinct words once,
  // not occurrences).
  def corpusStats(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val tok = docs.select(col("doc_id"), explode(words).as("t"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tok.agg(count(lit(1)).as("total_tokens"), countDistinct(col("t")).as("vocab_size"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        (col("total_tokens").cast("double") / col("n_docs")).as("avg_doc_tokens"),
        (col("vocab_size").cast("double") / col("total_tokens")).as("type_token_ratio"))
  }

  val corpusStatsSql: String =
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
      |a AS (SELECT count(*) AS total_tokens, count(DISTINCT t) AS vocab_size FROM tok),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT n_docs, total_tokens, vocab_size,
      |  CAST(total_tokens AS DOUBLE) / n_docs AS avg_doc_tokens,
      |  CAST(vocab_size AS DOUBLE) / total_tokens AS type_token_ratio
      |FROM a CROSS JOIN n""".stripMargin

  // --- doc_mixture --------------------------------------------------------
  // Data mixing — the other reproducibility primitive an LLM pipeline
  // needs next to doc_split: sample each SOURCE at its own rate (the
  // "mixture weights" of a training recipe), with membership a pure
  // function of document identity. A doc is kept iff its md5 bucket
  // (256 buckets, same construction as doc_split) falls under its
  // source's integer threshold: src0..src9 at 192/256 (75%), others at
  // 64/256 (25%). Zero shuffles — a broadcast of the 20-row rate table
  // against a pure map; reruns, incremental ingests, and both engines
  // keep exactly the same documents.
  private val MixtureHighSources: Set[String] = (0 until 10).map(i => s"src$i").toSet
  private val MixtureHighThresh = 192 // of 256
  private val MixtureLowThresh = 64

  def docMixture(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long").as("bucket"))
      .withColumn("threshold",
        when(col("source").isin(MixtureHighSources.toSeq: _*), lit(MixtureHighThresh.toLong))
          .otherwise(lit(MixtureLowThresh.toLong)))
      .filter(col("bucket") < col("threshold"))
      .select("doc_id", "source", "bucket", "threshold")
      .orderBy("doc_id")

  val docMixtureSql: String = {
    val highList = MixtureHighSources.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""WITH b AS (SELECT doc_id, source,
       |  CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
       |  FROM documents),
       |t AS (SELECT doc_id, source, bucket,
       |  CASE WHEN source IN ($highList) THEN $MixtureHighThresh ELSE $MixtureLowThresh END AS threshold
       |  FROM b)
       |SELECT doc_id, source, bucket, CAST(threshold AS BIGINT) AS threshold
       |FROM t WHERE bucket < threshold ORDER BY doc_id""".stripMargin
  }

  // --- text_quality_gate --------------------------------------------------
  // C4/Gopher-style composite document filter: each heuristic is its own
  // 0/1 column so a pipeline can audit WHICH rule rejected a document, and
  // `pass` is their conjunction. All thresholds are integer
  // cross-multiplications (3·nw ≤ Σlen, 5·top ≤ nw, 10·sym ≤ chars) — no
  // float ratio ever materializes, so both engines agree bit-for-bit.
  // PURE MAP over the scan (higher-order functions only, no explode/
  // shuffle); the top-token count is O(distinct·len) per doc, bounded by
  // document size, not corpus size.
  def textQualityGate(spark: SparkSession, d: String): DataFrame = {
    // NULL-text docs are DROPPED, matching text_langid's convention: with a
    // NULL array every flag column and `pass` would be NULL — a row that
    // matches neither pass=1 nor pass=0 downstream. The parquet corpus has
    // no NULL text, but documentsJsonl reads missing fields as NULL.
    // all five signals from the fused gate_stats kernel in one scan-side
    // pass (the composable HOF formulations survive as the oracle +
    // NativeKernelSpec's element-for-element equality check) — the HOF
    // form measured 6.1s at sf1 vs ~2s for kernel-free text peers
    val base = Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("gate_stats(text)").as("gs"),
        length(col("text")).cast("long").as("nchars"))
      .select(col("doc_id"),
        col("gs").getItem(0).as("nw"),
        col("gs").getItem(1).as("sumlen"),
        col("gs").getItem(2).as("stopn"),
        col("gs").getItem(3).as("topn"),
        col("gs").getItem(7).as("nsym"),
        col("nchars"))
    val rMinWords = col("nw") >= 20
    val rWordLen = col("sumlen") >= col("nw") * 3 && col("sumlen") <= col("nw") * 10
    val rStopword = col("stopn") >= 1
    val rRepetition = col("topn") * 5 <= col("nw")
    val rSymbols = col("nsym") * 10 <= col("nchars")
    base.select(col("doc_id"),
      rMinWords.cast("long").as("r_min_words"),
      rWordLen.cast("long").as("r_word_len"),
      rStopword.cast("long").as("r_stopword"),
      rRepetition.cast("long").as("r_repetition"),
      rSymbols.cast("long").as("r_symbols"),
      (rMinWords && rWordLen && rStopword && rRepetition && rSymbols)
        .cast("long").as("pass"))
      .orderBy("doc_id")
  }

  val textQualityGateSql: String =
    """WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w FROM documents WHERE text IS NOT NULL),
      |m AS (SELECT doc_id, text, len(w) AS nw,
      |  list_sum(list_transform(w, x -> length(x))) AS sumlen,
      |  len(list_filter(w, x -> x IN ('the', 'a'))) AS stopn,
      |  list_max(list_transform(list_distinct(w), t -> len(list_filter(w, x -> x = t)))) AS topn,
      |  len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS nsym
      | FROM w)
      |SELECT doc_id,
      | CAST(nw >= 20 AS BIGINT) AS r_min_words,
      | CAST(sumlen >= 3*nw AND sumlen <= 10*nw AS BIGINT) AS r_word_len,
      | CAST(stopn >= 1 AS BIGINT) AS r_stopword,
      | CAST(topn * 5 <= nw AS BIGINT) AS r_repetition,
      | CAST(nsym * 10 <= length(text) AS BIGINT) AS r_symbols,
      | CAST(nw >= 20 AND sumlen >= 3*nw AND sumlen <= 10*nw AND stopn >= 1
      |      AND topn * 5 <= nw AND nsym * 10 <= length(text) AS BIGINT) AS pass
      |FROM m ORDER BY doc_id""".stripMargin

  // --- text_decontaminate -------------------------------------------------
  // Benchmark decontamination: flag every corpus document sharing a token
  // 4-gram with the "eval set" (here the deterministic doc_id % 100 == 0
  // slice, standing in for the benchmark suite). This is the standard
  // n-gram-overlap decontamination pass every LLM training pipeline runs
  // before training; 4-grams (not the usual 8-13) because the synthetic
  // corpus draws from a tiny vocabulary.
  // Scale shape: NO forced broadcast anywhere — the eval side's size is a
  // property of the caller's data, not of this operator, so the join
  // strategy is left to AQE, which broadcasts a genuinely benchmark-sized
  // (MBs) eval-gram set from its OBSERVED runtime size and falls back to
  // a shuffle join if a caller hands it something corpus-proportional
  // (r6 force-broadcast the eval grams, which died by construction at
  // 100 TB on the slice instantiation below). The per-doc count exchange
  // carries only hit rows (sparse by construction) and is map-side
  // combinable. Grams are deduped INSIDE each doc's row (array_distinct
  // before the explode), so n_hits counts distinct contaminated grams.
  private val ContamN = 4
  private val EvalIdMod = 100

  private def contamGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words.as("w"))
      .filter(size(col("w")) >= ContamN)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(w) - ${ContamN - 1}), i -> concat_ws(' ', slice(w, i, $ContamN))))")).as("s"))

  /** General form — the production contract: `evalDocs` is an EXTERNAL
    * benchmark suite (load it with `Tables.documentsJsonl` or any
    * `documents`-shaped frame), not something derived from the corpus.
    * Returns (doc_id, n_hits) for corpus docs sharing ≥1 distinct token
    * 4-gram with any eval doc. */
  def decontaminateAgainst(corpus: DataFrame, evalDocs: DataFrame): DataFrame =
    contamGrams(corpus)
      .join(contamGrams(evalDocs).select("s").distinct(), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")

  /** Oracle instantiation: the deterministic doc_id % 100 == 0 slice
    * stands in for the benchmark suite (the driver's DuckDB oracle can
    * only see the parquet tables). Being a corpus slice it is exactly the
    * input that must NOT carry a broadcast hint — see the scale-shape
    * note above. */
  def textDecontaminate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    decontaminateAgainst(
      docs.filter(col("doc_id") % EvalIdMod =!= 0),
      docs.filter(col("doc_id") % EvalIdMod === 0))
  }

  val textDecontaminateSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+${ContamN - 1}], ' ') FOR i IN range(1, len(w) - ${ContamN - 2})])) AS s
       |      FROM w WHERE len(w) >= $ContamN),
       |ev AS (SELECT DISTINCT s FROM g WHERE doc_id % $EvalIdMod = 0)
       |SELECT g.doc_id, count(*) AS n_hits FROM g JOIN ev USING (s)
       |WHERE g.doc_id % $EvalIdMod <> 0 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- doc_source_stats ---------------------------------------------------
  // Per-source dataset card (the groupBy-source twin of the one-row
  // corpus_stats): doc count, token mass, char extents, language spread —
  // the table a data-mixing decision reads. One map-side-combinable
  // groupBy; countDistinct(lang) plans as Spark's two-stage expand
  // aggregate, shuffling (source, lang) pairs once, not occurrences. The
  // single division happens once per source row, after aggregation.
  def docSourceStats(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("source"), col("lang"), col("n_chars"), size(words).cast("long").as("nw"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .withColumn("avg_doc_tokens", col("total_tokens").cast("double") / col("n_docs"))
      .orderBy("source")

  val docSourceStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      | CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE) / count(*) AS avg_doc_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- select_token_budget ------------------------------------------------
  // Data selection under a token budget — the step that turns quality
  // scores into a training set: rank documents by an integer quality score
  // (stopword density per 100k tokens; ties by doc_id) and keep the prefix
  // whose running token total stays within the budget. nw ≥ 1 for every
  // doc, so the running total is strictly increasing and "cum ≤ budget" IS
  // a prefix — no skip-over ambiguity.
  //
  // Scale shape: the oracle's single global window (ORDER BY score, no
  // partition) would funnel the corpus through ONE partition, so the Spark
  // formulation decomposes the prefix sum the way a distributed scan does:
  // (1) per-score-bucket token totals — a map-side-combinable groupBy over
  // ≤100,001 keys; (2) the budget threshold found by a cumulative window
  // over that BUCKET table (bounded by score resolution, never corpus
  // size); (3) docs join their bucket's cumulative offsets (AQE broadcasts
  // the bounded bucket table) — INTERIOR buckets (cumw ≤ budget) emit
  // through the join alone with no per-doc state, and ONLY the single
  // BOUNDARY bucket (cum_before < budget < cumw) runs the doc_id-ordered
  // window that settles where the prefix cuts. The two formulations are
  // provably equal because the global order is exactly (score DESC,
  // doc_id): bucket cum-before + within-bucket running = global running.
  //
  // The per-doc running total is deliberately NOT an output column: a
  // running total is inherently per-row sequential state, so any
  // formulation that emits it must run a doc-level window over EVERY kept
  // bucket — on an integer score with few distinct values that is a
  // skewed-key window over most of the corpus, exactly what this
  // decomposition exists to avoid. The boundary decision needs the running
  // total only inside the one boundary bucket, where it is computed over
  // that bucket's rows and discarded. (Total budget spent, if a caller
  // wants it, is sum(nw) over the — budget-bounded — selection.)
  private val TokenBudget = 15000L
  // (ScoreScale — the score lattice this selection buckets on — is
  // declared at the top of the object for oracle-val init order)

  def selectTokenBudget(spark: SparkSession, d: String): DataFrame =
    selectTokenBudgetWith(spark, d, TokenBudget)

  /** Budget-parameterized form — the library entry point (the oracle entry
    * pins budget = [[TokenBudget]]); also lets the spec exercise the
    * boundary bucket at sf0.001, where the default budget exceeds the
    * whole corpus. */
  private[graft] def selectTokenBudgetWith(spark: SparkSession, d: String, budget: Long): DataFrame =
    tokenBudgetSelect(scoredDocs(Tables.documents(spark, d), col("doc_id")), budget)

  /** The bucket-decomposed budget selection on any scored relation —
    * `m` needs (doc_id, nw, iq); shared with [[pipelineCurate]].
    *
    * Interior buckets pass through the broadcast join with zero per-doc
    * state; the one boundary bucket — a bounded slice: its kept prefix is
    * ≤ budget rows (nw ≥ 1) — alone pays a window, leaving NO corpus-sized
    * sort or skewable exchange anywhere in the plan. The result is
    * deliberately unordered (a selection is a SET; forcing a total order
    * on a 100 TB selection would reintroduce the global sort this
    * decomposition removes, and the (iq desc, doc_id) order is fully
    * reconstructible from the output columns). The price is that `m` is
    * probed by two join branches instead of one (three scans total with
    * the bucket aggregate); scans are the linear, partitioned cost and
    * the right side of that trade at scale. */
  private def tokenBudgetSelect(m: DataFrame, budget: Long): DataFrame = {
    val wBucket = Window.orderBy(desc("iq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = m.groupBy("iq").agg(sum(col("nw")).as("bw"))
      .withColumn("cumw", sum(col("bw")).over(wBucket))
      .withColumn("cum_before", col("cumw") - col("bw"))
      .filter(col("cum_before") < budget)
    // one broadcast join against the full candidate-bucket table; the two
    // branches filter AFTER it, so the identical scan⋈broadcast subtree
    // shares a single reused BroadcastExchange
    val joined = m.join(buckets.select("iq", "cum_before", "cumw"), Seq("iq"))
    val interior = joined.filter(col("cumw") <= budget)
      .select("doc_id", "iq", "nw")
    val wDoc = Window.partitionBy("iq").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(col("cumw") > budget)
      .withColumn("cum", col("cum_before") + sum(col("nw")).over(wDoc))
      .filter(col("cum") <= budget)
      .select("doc_id", "iq", "nw")
    interior.unionByName(boundary)
  }

  // --- pipeline_embed_curate ------------------------------------------------
  // Cross-signal curation: the per-source audit of combining the TEXT
  // quality gate (C4/Gopher heuristics over documents.text) with the
  // SEMANTIC keep verdict (dedup_semantic over the embeddings table,
  // joined on doc_id = vec_id). A document survives iff its text passes
  // AND — when it has an embedding — the min-id semantic rule keeps it;
  // unembedded documents default to semantic-keep (the honest default: no
  // evidence is not a drop reason). Scale shape: both inputs are existing
  // audited plans (pure-map gate; cell-bounded semantic verdicts); this
  // operator adds two doc_id-keyed left joins and a ≤|sources| groupBy —
  // the multi-signal curation join every production pipeline runs once
  // text and embedding passes land in the same lake.
  def pipelineEmbedCurate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("source"))
    val gate = textQualityGate(spark, d).select(col("doc_id"), col("pass"))
    val sem = Dedup.dedupSemantic(spark, d)
      .select(col("vec_id").as("doc_id"), col("keep").as("sem_keep"))
    docs.join(gate, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("pass"), lit(0L))).as("n_text_pass"),
        count(col("sem_keep")).as("n_embedded"),
        sum(when(col("sem_keep") === 0L, 1L).otherwise(0L)).as("n_sem_drop"),
        sum(when(coalesce(col("pass"), lit(0L)) === 1L &&
          coalesce(col("sem_keep"), lit(1L)) === 1L, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  val pipelineEmbedCurateSql: String =
    s"""WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents WHERE text IS NOT NULL),
      |m AS (SELECT doc_id, text, len(w) AS nw,
      |  list_sum(list_transform(w, x -> length(x))) AS sumlen,
      |  len(list_filter(w, x -> x IN ('the', 'a'))) AS stopn,
      |  list_max(list_transform(list_distinct(w), t -> len(list_filter(w, x -> x = t)))) AS topn,
      |  len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS nsym
      | FROM w),
      |g AS (SELECT doc_id,
      |  CAST(nw >= 20 AND sumlen >= 3*nw AND sumlen <= 10*nw AND stopn >= 1
      |       AND topn * 5 <= nw AND nsym * 10 <= length(text) AS BIGINT) AS pass
      | FROM m),
      |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |c AS (SELECT vec_id - 100 AS cid, v AS cv FROM e WHERE vec_id >= 100 AND vec_id < 116),
      |asg AS (SELECT vec_id, v, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY
      |  list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> v[CAST(k AS INT)]*cv[CAST(k AS INT)])), (acc, x) -> acc + x) /
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> v[CAST(k AS INT)]*v[CAST(k AS INT)])), (acc, x) -> acc + x) *
      |       list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> cv[CAST(k AS INT)]*cv[CAST(k AS INT)])), (acc, x) -> acc + x)) DESC, cid) AS arn
      |  FROM e CROSS JOIN c),
      |cell AS (SELECT vec_id, v, cid FROM asg WHERE arn = 1),
      |nbr AS (SELECT a.vec_id AS id, CAST(count(*) AS BIGINT) AS n_dup_of
      |        FROM cell a JOIN cell b ON a.cid = b.cid AND b.vec_id < a.vec_id
      |        WHERE list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> a.v[CAST(k AS INT)]*b.v[CAST(k AS INT)])), (acc, x) -> acc + x) /
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> a.v[CAST(k AS INT)]*a.v[CAST(k AS INT)])), (acc, x) -> acc + x) *
      |       list_reduce(list_prepend(0.0, list_transform(range(1, 65), k -> b.v[CAST(k AS INT)]*b.v[CAST(k AS INT)])), (acc, x) -> acc + x)) >= 0.3
      |        GROUP BY 1),
      |sem AS (SELECT cell.vec_id AS doc_id,
      |  CAST(coalesce(n_dup_of, 0) = 0 AS BIGINT) AS sem_keep
      | FROM cell LEFT JOIN nbr ON nbr.id = cell.vec_id)
      |SELECT d.source,
      | CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(coalesce(pass, 0)) AS BIGINT) AS n_text_pass,
      | CAST(count(sem_keep) AS BIGINT) AS n_embedded,
      | CAST(sum(CASE WHEN sem_keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_drop,
      | CAST(sum(CASE WHEN coalesce(pass, 0) = 1 AND coalesce(sem_keep, 1) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents d
      |LEFT JOIN g ON g.doc_id = d.doc_id
      |LEFT JOIN sem ON sem.doc_id = d.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- pipeline_curate ----------------------------------------------------
  // The end-to-end curation job a training run actually submits — dedup →
  // quality gate → budget selection COMPOSED as one declarative plan, no
  // materialization between stages (the reason a user of this library can
  // replace three separate jobs with one): normalized exact dedup keeps
  // each content's min doc_id; the C4/Gopher gate conjunction filters the
  // canonicals; the survivors rank into the token budget via the same
  // bucket-decomposed prefix sum as select_token_budget. Catalyst sees the
  // whole pipeline: the gate's filters push into the scan that feeds the
  // dedup groupBy, and each stage's shuffle reuses the previous stage's
  // co-partitioning where keys align.
  def pipelineCurate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).filter(col("text").isNotNull)
    // Every per-doc metric (content hash + the five gate signals) is a pure
    // function of one document, so ALL of them compute in the scan's
    // project list and the text never leaves its split: the only
    // corpus-sized shuffle in the whole pipeline carries the ~60-byte
    // metric row, not KB documents. Dedup is then a min-over-hash window
    // on that slim relation (a groupBy + semi join back would hash the
    // corpus a second time for the probe side — a corpus-sized canonical
    // list is not broadcastable at 100 TB). Metrics for the dropped
    // duplicates are wasted compute proportional to duplicate density —
    // orders of magnitude cheaper than shuffling text bytes.
    val wH = Window.partitionBy("h")
    val gated = docs
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"),
        // all five gate signals from the fused gate_stats kernel — one
        // scan-side pass next to the dedup hash (oracle + spec keep the
        // composable formulations)
        expr("gate_stats(text)").as("gs"),
        length(col("text")).cast("long").as("nchars"))
      .select(col("doc_id"), col("h"), col("nchars"),
        col("gs").getItem(0).as("nw"), col("gs").getItem(1).as("sumlen"),
        col("gs").getItem(2).as("stopn"), col("gs").getItem(3).as("topn"),
        col("gs").getItem(7).as("nsym"))
      .withColumn("mn", min(col("doc_id")).over(wH))
      .filter(col("doc_id") === col("mn"))
      .filter(col("nw") >= 20 &&
        col("sumlen") >= col("nw") * 3 && col("sumlen") <= col("nw") * 10 &&
        col("stopn") >= 1 &&
        col("topn") * 5 <= col("nw") &&
        col("nsym") * 10 <= col("nchars"))
      .select(col("doc_id"), col("nw"),
        expr(s"($ScoreScale * stopn) div nw").as("iq"))
    tokenBudgetSelect(gated, TokenBudget)
  }

  /** Shared oracle CTE chain for the curation pipeline — dedup → gate →
    * scored `m` → running-total `c`. `pipeline_curate` selects the kept
    * prefix from `c`; `pipeline_export` carries the same prefix on into
    * training order and bins (one chain, so the two oracles cannot drift).
    */
  private val CurateCte: String =
    s"""WITH canon AS (SELECT min(doc_id) AS doc_id
       |  FROM documents WHERE text IS NOT NULL
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
       |g AS (SELECT d.doc_id, regexp_split_to_array(trim(text), '\\s+') AS w, text
       |  FROM documents d JOIN canon USING (doc_id)),
       |m0 AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw,
       |  list_sum(list_transform(w, x -> length(x))) AS sumlen,
       |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn,
       |  list_max(list_transform(list_distinct(w), t -> len(list_filter(w, x -> x = t)))) AS topn,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS nsym,
       |  length(text) AS nchars
       | FROM g),
       |m AS (SELECT doc_id, nw, CAST($ScoreScale * stopn // nw AS BIGINT) AS iq
       | FROM m0
       | WHERE nw >= 20 AND sumlen >= 3*nw AND sumlen <= 10*nw AND stopn >= 1
       |   AND topn * 5 <= nw AND nsym * 10 <= nchars),
       |c AS (SELECT doc_id, iq, nw,
       |      sum(nw) OVER (ORDER BY iq DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM m)""".stripMargin

  val pipelineCurateSql: String = CurateCte +
    s"""
       |SELECT doc_id, iq, nw
       |FROM c WHERE cum <= $TokenBudget""".stripMargin

  // --- pipeline_export ------------------------------------------------------
  // The capstone a real 100 TB curation run SHIPS: not a report but the
  // WRITTEN training-ready corpus. pipeline_curate's kept set joins back to
  // its text, lands in the deterministic training order (doc_shuffle's
  // 256-bucket decomposition of the global seeded-md5 rank — row AND token
  // offsets from the same bucket digest), packs into 256-token bins
  // (doc_pack's arithmetic over the decomposed prefix sum), and
  // `Sinks.writeTrainingCorpus` materializes it as source-partitioned,
  // pos-contiguous, pos-sorted parquet. The REGISTERED entry then reads the
  // real written files back and emits the per-source manifest (doc/token/
  // bin counts, pos extents, an exact integer content checksum), so the
  // oracle row verifies the whole write→read round trip against DuckDB
  // recomputing the same manifest from the raw tables: if the export
  // dropped, duplicated, or corrupted one document, the checksum or counts
  // split. Scale shape: every stage is the already-audited decomposition
  // it reuses (density-bounded dedup, pure-map gate, ≤lattice bucket
  // windows, range-exchange write); the manifest is a |sources|-key
  // combinable groupBy over the files.
  private val ExportShards = 8

  /** The curated corpus as one composed PLAN — (pos, doc_id, source,
    * n_tokens, bin_id, bin_off, text): what `Sinks.writeTrainingCorpus`
    * materializes. Library callers compose it directly; the registered
    * entry goes through the written files.
    */
  private[graft] def trainingCorpus(spark: SparkSession, d: String): DataFrame = {
    val kept = pipelineCurate(spark, d).select("doc_id", "nw")
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("text"))
    // global training order + global token offsets from ONE 256-bucket
    // digest (doc_shuffle's decomposition, carrying sum(nw) next to the
    // row count): bucket = first hex byte of the seeded sort key, so
    // bucket boundaries ARE order boundaries and cum-before(bucket) +
    // within-bucket running = global running, for rows and tokens alike
    val m = kept.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"), col("nw"),
        md5(concat(lit(ShuffleSeed), lit("|"), col("doc_id").cast("string"))).as("sk"))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = m.groupBy("bucket")
      .agg(count(lit(1)).as("bn"), sum(col("nw")).as("bw"))
      .withColumn("roff", sum(col("bn")).over(wBucket) - col("bn"))
      .withColumn("toff", sum(col("bw")).over(wBucket) - col("bw"))
    val wDoc = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    val wDocRun = wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.join(offsets.select("bucket", "roff", "toff"), Seq("bucket"))
      .withColumn("pos", (col("roff") + row_number().over(wDoc)).cast("long"))
      .withColumn("start_off",
        col("toff") + sum(col("nw")).over(wDocRun) - col("nw"))
      .select(col("pos"), col("doc_id"), col("source"),
        col("nw").as("n_tokens"),
        expr(s"start_off div $PackBudget").as("bin_id"),
        (col("start_off") % PackBudget).as("bin_off"),
        col("text"))
  }

  def pipelineExport(spark: SparkSession, d: String): DataFrame = {
    // written once per (session, corpus) — bench passes and later
    // queries read the real persisted files, the deployment's read cost
    val path = Memo.layout(spark, d, "export") {
      val p = Memo.layoutDir(spark, d, "export")
      graft.sources.Sinks.writeTrainingCorpus(trainingCorpus(spark, d), p, ExportShards)
      p
    }
    spark.read.parquet(path)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("bin_id")).as("n_bins"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("checksum"))
      .orderBy("source")
  }

  val pipelineExportSql: String = CurateCte +
    s""",
       |kept AS (SELECT doc_id, nw FROM c WHERE cum <= $TokenBudget),
       |sh AS (SELECT k.doc_id, k.nw, d.source, d.text,
       |  md5('$ShuffleSeed|' || CAST(k.doc_id AS VARCHAR)) AS sk
       | FROM kept k JOIN documents d USING (doc_id)),
       |o AS (SELECT source, text, nw,
       |  CAST(row_number() OVER (ORDER BY sk, doc_id) AS BIGINT) AS pos,
       |  CAST(sum(nw) OVER (ORDER BY sk, doc_id ROWS UNBOUNDED PRECEDING) - nw AS BIGINT) AS start_off
       | FROM sh)
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(nw) AS BIGINT) AS total_tokens,
       | CAST(count(DISTINCT start_off // $PackBudget) AS BIGINT) AS n_bins,
       | min(pos) AS first_pos, max(pos) AS last_pos,
       | CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT) AS checksum
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  val selectTokenBudgetSql: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS BIGINT) AS nw,
       |  CAST($ScoreScale * len(list_filter(regexp_split_to_array(trim(text),'\\s+'), x -> x IN ('the','a')))
       |       // len(regexp_split_to_array(trim(text),'\\s+')) AS BIGINT) AS iq
       |  FROM documents),
       |c AS (SELECT doc_id, iq, nw,
       |      sum(nw) OVER (ORDER BY iq DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT doc_id, iq, nw
       |FROM c WHERE cum <= $TokenBudget""".stripMargin

  // --- sample_bottomk -----------------------------------------------------
  // Deterministic uniform sample via bottom-k order statistics: the k
  // documents with the smallest md5(seed|doc_id) — the reproducible
  // "give me 100 random docs" every dataset card and eyeball-QA pass
  // needs, and (because min-k sets merge by union+truncate) the sampling
  // primitive that composes across 100 TB of partitions: each partition
  // offers its local bottom-k, the driver keeps the global k — Spark
  // plans exactly that (TakeOrderedAndProject), a per-partition top-k +
  // k·partitions merge, never a global sort shuffle. The final rank
  // window orders K rows, not the corpus.
  private val SampleK = 100

  def sampleBottomk(spark: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(spark, d)
      .select(col("doc_id"),
        md5(concat(lit(ShuffleSeed), lit("|"), col("doc_id").cast("string"))).as("sk"))
      .orderBy("sk").limit(SampleK)
    m.withColumn("rank", row_number().over(Window.orderBy("sk")).cast("long"))
      .select("rank", "doc_id", "sk")
      .orderBy("rank")
  }

  val sampleBottomkSql: String =
    s"""WITH m AS (SELECT doc_id, md5('$ShuffleSeed|' || CAST(doc_id AS VARCHAR)) AS sk
       |  FROM documents ORDER BY sk LIMIT $SampleK)
       |SELECT CAST(row_number() OVER (ORDER BY sk) AS BIGINT) AS rank, doc_id, sk
       |FROM m ORDER BY rank""".stripMargin

  // --- doc_shuffle --------------------------------------------------------
  // Deterministic corpus shuffle — the reproducible global training order
  // every run needs (epoch seed in the key: change the seed, get a fresh
  // but equally reproducible permutation). Order = md5(seed|doc_id), a
  // pure function of identity; position = the doc's rank in that order.
  // Scale shape: the oracle's global row_number() (ORDER BY one
  // expression, no partition) would funnel the corpus through ONE
  // partition, so the Spark side decomposes the global rank exactly like
  // select_token_budget decomposes its prefix sum: the first hex byte
  // partitions the order into 256 uniform buckets (md5 is the sort key,
  // so bucket boundaries ARE order boundaries); per-bucket counts give
  // each bucket's global offset via a 256-row cumulative window, and a
  // per-bucket row_number settles the position within. Both formulations
  // are provably equal because the global order is exactly (bucket, key).
  def docShuffle(spark: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(spark, d)
      .select(col("doc_id"),
        md5(concat(lit(ShuffleSeed), lit("|"), col("doc_id").cast("string"))).as("sk"))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val wBucket = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = m.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("off", sum(col("bn")).over(wBucket) - col("bn"))
    val wDoc = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    m.join(offsets.select("bucket", "off"), Seq("bucket"))
      .withColumn("pos", (col("off") + row_number().over(wDoc)).cast("long"))
      .select("pos", "doc_id", "sk")
      .orderBy("pos")
  }

  val docShuffleSql: String =
    s"""WITH m AS (SELECT doc_id, md5('$ShuffleSeed|' || CAST(doc_id AS VARCHAR)) AS sk
       |  FROM documents)
       |SELECT CAST(row_number() OVER (ORDER BY sk, doc_id) AS BIGINT) AS pos, doc_id, sk
       |FROM m ORDER BY pos""".stripMargin

  // --- doc_interleave -----------------------------------------------------
  // Source-interleaved training order: round-robin across sources (round r
  // = the r-th doc of every source that still has one, sources in
  // lexicographic order within a round), docs shuffled within their source
  // by the same seeded md5 key as doc_shuffle. This is the data-ORDER
  // side of mixture curation: doc_mixture decides how much of each source,
  // interleaving decides how the mix is laid out so a sequential trainer
  // never sees a long single-source run (loss spikes at source
  // boundaries). Scale shape: the per-source rank DECOMPOSES over
  // (source, shuffle-key-prefix bucket) groups (r15, the bounded-window
  // audit) — the md5 key's first byte gives 256 buckets that are
  // non-decreasing along the (sk, doc_id) order, so bucket-local
  // row_numbers plus a census of bucket counts (exclusive prefix = rank
  // offset) reassemble the exact per-source rank with no per-source
  // corpus window; then a cross join against the |sources|-row count dim
  // makes the global ordinal ARITHMETIC —
  //   ord(r, s) = Σ_{s'} min(c_{s'}, r−1) + |{s' ≤ s : c_{s'} ≥ r}|
  // — an exact-integer sum over |sources| broadcast rows per doc, so no
  // global sort or single-partition window anywhere at any corpus size.
  // The bucketed ranked stream takes a lazy localCheckpoint (census +
  // join-back both consume it); blocks pin on first action until the
  // caller unpersists the RDD or the session ends.
  def docInterleave(spark: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        md5(concat(lit(ShuffleSeed), lit("|"), col("doc_id").cast("string"))).as("sk"))
    val lw = Window.partitionBy("source", "b").orderBy("sk", "doc_id")
    val local = m
      .withColumn("b", expr("conv(substring(sk, 1, 2), 16, 10)").cast("long"))
      .withColumn("li", row_number().over(lw).cast("long"))
      .localCheckpoint(false)
    val cw = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val census = local.groupBy("source", "b").agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(sum(col("cb")).over(cw), lit(0L)))
      .select("source", "b", "off")
    val ranked = local.join(census, Seq("source", "b"))
      .withColumn("r", col("off") + col("li"))
    val counts = m.groupBy(col("source").as("s2")).agg(count(lit(1)).as("c2"))
    ranked.crossJoin(counts)
      .groupBy("doc_id", "source", "r")
      .agg((sum(least(col("c2"), col("r") - 1L)) +
        sum(when(col("s2") <= col("source") && col("c2") >= col("r"), 1L).otherwise(0L)))
        .as("ord"))
      .select(col("ord"), col("doc_id"), col("source"), col("r").as("round"))
      .orderBy("ord")
  }

  val docInterleaveSql: String =
    s"""WITH m AS (SELECT doc_id, source,
       |  md5('$ShuffleSeed|' || CAST(doc_id AS VARCHAR)) AS sk FROM documents),
       |rk AS (SELECT doc_id, source,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS BIGINT) AS r
       | FROM m),
       |c AS (SELECT source AS s2, CAST(count(*) AS BIGINT) AS c2 FROM m GROUP BY 1)
       |SELECT CAST(sum(least(c2, r - 1)) +
       |  sum(CASE WHEN s2 <= source AND c2 >= r THEN 1 ELSE 0 END) AS BIGINT) AS ord,
       | doc_id, source, r AS round
       |FROM rk CROSS JOIN c
       |GROUP BY doc_id, source, r
       |ORDER BY ord""".stripMargin

  // --- select_stratified --------------------------------------------------
  // Stratified data selection: the top-K documents per source by the same
  // integer quality score select_token_budget ranks on (ties by doc_id) —
  // the per-stratum curation step a mixture recipe runs BEFORE doc_mixture
  // samples across strata (a global top-K would let one high-quality
  // source crowd out every other stratum).
  // Scale shape: a bucket-local top-K prune runs first — every global
  // top-K row of a source is necessarily within the top-K of its own
  // (source, doc_id-hash bucket) for ANY partition into buckets, so the
  // corpus pays only |sources| × Buckets LOCAL sorts and at most
  // K × Buckets candidates per source reach the final per-source rank
  // window (the firstActions idiom; audited in ExplainDump's
  // BoundedWindowAllowed). A skewed stratum bounds a
  // bucket-local sort, never a whole-source task.
  private val StratK = 20

  def selectStratified(spark: SparkSession, d: String): DataFrame = {
    val m = scoredDocs(Tables.documents(spark, d), col("doc_id"), col("source"))
    val lw = Window.partitionBy("source", "b").orderBy(desc("iq"), col("doc_id"))
    val w = Window.partitionBy("source").orderBy(desc("iq"), col("doc_id"))
    m.withColumn("b", pmod(col("doc_id"), lit(RangeBuckets.Buckets)))
      .withColumn("lr", row_number().over(lw))
      .filter(col("lr") <= StratK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= StratK)
      .select("source", "rank", "doc_id", "iq", "nw")
      .orderBy("source", "rank")
  }

  val selectStratifiedSql: String =
    s"""WITH m AS (SELECT doc_id, source,
       |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS BIGINT) AS nw,
       |  CAST($ScoreScale * len(list_filter(regexp_split_to_array(trim(text),'\\s+'), x -> x IN ('the','a')))
       |       // len(regexp_split_to_array(trim(text),'\\s+')) AS BIGINT) AS iq
       |  FROM documents),
       |r AS (SELECT source, doc_id, iq, nw,
       |      CAST(row_number() OVER (PARTITION BY source ORDER BY iq DESC, doc_id) AS BIGINT) AS rank
       |      FROM m)
       |SELECT source, rank, doc_id, iq, nw
       |FROM r WHERE rank <= $StratK ORDER BY source, rank""".stripMargin

  // --- text_rarity --------------------------------------------------------
  // Per-document vocabulary-rarity profile: how many of a doc's DISTINCT
  // terms are rare (document frequency < 1% of the corpus) plus the mean
  // document frequency — the "niche content" signal a data-mixing recipe
  // reads next to quality scores (rare-vocab docs carry information common
  // docs don't). Same df-join shape as text_top_terms: distinct (doc, term)
  // rows are one explode, df is a combinable per-term groupBy (AQE splits
  // the hot stopword reducers), N is a one-row broadcast, and the rarity
  // threshold df·100 < N is an integer cross-multiply; the only division is
  // mean_df = sum_df / n_terms of identical exact integers.
  def textRarity(spark: SparkSession, d: String): DataFrame = {
    val terms = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(split(trim(col("text")), "\\s+"))).as("t"))
    val df = terms.groupBy("t").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, d).filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n"))
    terms.join(df, Seq("t")).crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("df") * 100 < col("n"), 1L).otherwise(0L)).as("n_rare"),
        (sum(col("df")).cast("double") / count(lit(1))).as("mean_df"))
      .orderBy("doc_id")
  }

  val textRaritySql: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |terms AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM d),
      |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM d)
      |SELECT doc_id,
      | CAST(count(*) AS BIGINT) AS n_terms,
      | CAST(sum(CASE WHEN df*100 < n THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      | CAST(CAST(sum(df) AS BIGINT) AS DOUBLE)/count(*) AS mean_df
      |FROM terms JOIN df USING (t), n
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- text_keywords ------------------------------------------------------
  // Per-doc keyword extraction — the TF-IDF labeling primitive behind doc
  // tagging / topic routing: each document's top-3 terms by tf/df (term
  // frequency over document frequency; N is constant per corpus, so the
  // ordering equals tf·N/df — "TF-IDF without the log", chosen because
  // ln() is not guaranteed bit-identical across engines while ONE division
  // of exact integer counts is). Tie order (score, term) is total, so both
  // engines pick identical keywords. Scale: the (doc, term, tf) table and
  // the df aggregate share one exchange on the term (identical subtree —
  // the text_top_terms shape); the top-3 window partitions by doc_id; hot
  // boilerplate terms are AQE-split.
  private val KeywordsK = 3

  def textKeywords(spark: SparkSession, d: String): DataFrame = {
    // scan-side per-doc tf via the term_counts kernel — see textTopTerms
    val tf = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(col("doc_id"), explode(expr("term_counts(text)")).as("e"))
      .select(col("doc_id"), col("e.t").as("t"), col("e.c").as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("t"))
    tf.join(df, Seq("t"))
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KeywordsK)
      .select(col("doc_id"), col("rank"), col("t").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  val textKeywordsSql: String =
    s"""WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
       |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |s AS (SELECT doc_id, t, tf, df, CAST(tf AS DOUBLE)/df AS score,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE)/df DESC, t) AS BIGINT) AS rank
       | FROM tf JOIN df USING (t))
       |SELECT doc_id, rank, t AS term, tf, df, score
       |FROM s WHERE rank <= $KeywordsK ORDER BY doc_id, rank""".stripMargin

  // --- corpus_snapshot_diff -----------------------------------------------
  // Dataset-versioning audit — the "what changed between crawl snapshots"
  // report every managed training corpus needs before retraining: diff an
  // OLD snapshot (doc_id % 10 != 0, the dedup_incremental split) against
  // the CURRENT corpus by content hash. One full-outer join on doc_id
  // (hashes travel, payloads never do — the mm_shard_manifest rule), then
  // per-source counts of added / removed / changed / unchanged. At scale
  // both sides are manifests of (doc_id, sha256) — the join hashes on
  // doc_id once and the report lands on |sources|·4 keys. In production
  // the old side is the previous snapshot's persisted manifest, not a
  // re-scan; the shape is identical.
  def corpusSnapshotDiff(spark: SparkSession, d: String): DataFrame = {
    val cur = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        sha2(expr("encode(text, 'UTF-8')"), 256).as("h"))
    // synthetic previous snapshot exercising ALL FOUR arms: docs with
    // doc_id % 10 == 0 are missing from it (→ added now), every 7th doc's
    // old content hash differs (→ changed, a re-crawled page), and a
    // tombstone id band beyond the corpus exists only in the old snapshot
    // (→ removed). Everything else is unchanged.
    val old = cur.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("o_id"),
        when(col("doc_id") % 7 === 0, sha2(concat(lit("stale|"), col("h")), 256))
          .otherwise(col("h")).as("o_h"))
      .unionAll(cur.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000L).as("o_id"),
          sha2(concat(lit("gone|"), col("h")), 256).as("o_h")))
    cur.join(old, col("doc_id") === col("o_id"), "full_outer")
      .select(
        coalesce(col("source"), lit("(removed)")).as("source"),
        when(col("o_id").isNull, "added")
          .when(col("doc_id").isNull, "removed")
          .when(col("h") === col("o_h"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")
  }

  val corpusSnapshotDiffSql: String =
    """WITH cur AS (SELECT doc_id, source, sha256(text) AS h FROM documents),
      |old AS (
      | SELECT doc_id AS o_id,
      |  CASE WHEN doc_id % 7 = 0 THEN sha256('stale|' || h) ELSE h END AS o_h
      | FROM cur WHERE doc_id % 10 != 0
      | UNION ALL
      | SELECT doc_id + 1000000 AS o_id, sha256('gone|' || h) AS o_h
      | FROM cur WHERE doc_id % 97 = 0)
      |SELECT coalesce(source, '(removed)') AS source,
      | CASE WHEN o_id IS NULL THEN 'added'
      |      WHEN doc_id IS NULL THEN 'removed'
      |      WHEN h = o_h THEN 'unchanged'
      |      ELSE 'changed' END AS status,
      | CAST(count(*) AS BIGINT) AS n_docs
      |FROM cur FULL OUTER JOIN old ON doc_id = o_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- text_winnow --------------------------------------------------------
  // Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
  // MOSS algorithm): hash every k-gram (k=4 tokens), then keep the MINIMUM
  // hash of each sliding window of w=8 consecutive gram hashes. The
  // guarantee: any shared run of w+k-1 tokens between two documents yields
  // at least one shared fingerprint, while only ~2/(w+1) of grams are
  // kept — the position-robust sampled fingerprint set plagiarism and
  // near-dup detectors index. Per doc we report gram/window/fingerprint
  // counts and the selection density. Entirely a PURE MAP (higher-order
  // functions in the scan's project list — grams, window minima, and the
  // distinct count never leave the row), so the operator is zero-shuffle
  // and scales embarrassingly; a downstream index would explode only the
  // ~|grams|·2/(w+1) selected hashes.
  private val WinnowK = 4
  private val WinnowW = 8

  def textWinnow(spark: SparkSession, d: String): DataFrame =
    textWinnowFrom(Tables.documents(spark, d))

  /** Per-doc SELECTED winnowing hashes (the fingerprint multiset before
    * counting) — the indexable unit; also the surface the guarantee spec
    * checks (shared w+k-1-token run ⇒ shared fingerprint). */
  def winnowSelected(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        expr(s"""CASE WHEN size(w) >= $WinnowK
                 THEN transform(sequence(1, size(w) - ${WinnowK - 1}),
                                i -> md5(concat_ws(' ', slice(w, i, $WinnowK))))
                 ELSE CAST(array() AS ARRAY<STRING>) END""").as("g"))
      .select(col("doc_id"), size(col("g")).as("n_grams"),
        expr(s"""CASE WHEN size(g) >= $WinnowW
                 THEN transform(sequence(1, size(g) - ${WinnowW - 1}),
                                j -> array_min(slice(g, j, $WinnowW)))
                 ELSE CAST(array() AS ARRAY<STRING>) END""").as("sel"))

  /** The report path runs the native `winnow_stats` kernel — one fused
    * buffer pass per document instead of [[winnowSelected]]'s three
    * interpreted higher-order-function arrays (grams, window minima,
    * distinct) with their O(n·w) `slice` copies. [[winnowSelected]] stays
    * as the indexable fingerprint surface and the bitwise cross-check
    * (NativeKernelSpec asserts kernel == composable per document). */
  def textWinnowFrom(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("winnow_stats(text)").as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_grams"),
        col("st").getItem(1).as("n_windows"),
        col("st").getItem(2).as("n_fp"))
      .withColumn("density",
        when(col("n_windows") > 0,
          col("n_fp").cast("double") / col("n_windows").cast("double")))
      .orderBy("doc_id")

  val textWinnowSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |           FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(w) >= $WinnowK
       |    THEN [md5(array_to_string(w[CAST(i AS INT):CAST(i + ${WinnowK - 1} AS INT)], ' '))
       |          FOR i IN range(1, len(w) - ${WinnowK - 2})]
       |    ELSE [] END AS g FROM w),
       |s AS (SELECT doc_id, len(g) AS n_grams,
       |  CASE WHEN len(g) >= $WinnowW
       |    THEN [list_min(g[CAST(j AS INT):CAST(j + ${WinnowW - 1} AS INT)])
       |          FOR j IN range(1, len(g) - ${WinnowW - 2})]
       |    ELSE [] END AS sel FROM g)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       | CAST(len(sel) AS BIGINT) AS n_windows,
       | CAST(len(list_distinct(sel)) AS BIGINT) AS n_fp,
       | CASE WHEN len(sel) > 0
       |   THEN CAST(len(list_distinct(sel)) AS DOUBLE)/CAST(len(sel) AS DOUBLE) END AS density
       |FROM s ORDER BY doc_id""".stripMargin

  // --- text_zipf ----------------------------------------------------------
  // Zipf's-law profile of the corpus: the top-50 terms with rank,
  // frequency, and the rank·frequency product (Zipf predicts it is
  // ~constant) — the sanity panel a corpus card shows to catch a
  // template-polluted or synthetic vocabulary (natural text follows the
  // law; boilerplate spikes break it). Scale shape: term frequencies are
  // ONE map-side-combinable groupBy; the top-50 is orderBy+limit, which
  // Spark plans as TakeOrderedAndProject (per-partition top-k + driver
  // merge of k·partitions rows — the vocabulary-sized table is never
  // globally sorted); the rank window runs over the 50-row result only.
  // Integer-only output.
  private val ZipfTopK = 50

  def textZipf(spark: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("freq"))
    tf.orderBy(desc("freq"), asc("t")).limit(ZipfTopK)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("freq"), asc("t"))).cast("long"))
      .select(col("rank"), col("t").as("term"), col("freq"),
        (col("rank") * col("freq")).as("rf"))
      .orderBy("rank")
  }

  val textZipfSql: String =
    s"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |             FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT t, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
       |r AS (SELECT t, freq,
       |  row_number() OVER (ORDER BY freq DESC, t) AS rank FROM tf)
       |SELECT CAST(rank AS BIGINT) AS rank, t AS term, freq,
       | CAST(rank * freq AS BIGINT) AS rf
       |FROM r WHERE rank <= $ZipfTopK ORDER BY rank""".stripMargin

  // --- text_bpe_pairs -----------------------------------------------------
  // One BPE-training count step (Sennrich et al. 2016): the corpus-wide
  // frequency of every adjacent character pair WITHIN words (pairs never
  // cross a word boundary — the end-of-word marker convention), top 20 by
  // count. This is the inner loop of tokenizer training: the argmax pair
  // is the next merge. Scale shape: the per-doc pair list is built by
  // codegen'd higher-order functions in the scan (one flatten-transform —
  // work is linear in corpus chars, the floor for any tokenizer), and the
  // groupBy lands on ≤ |alphabet|² keys, so the shuffle is constant-size
  // per partition (map-side partial aggregation) no matter the corpus.
  // Top-20 is a total order (count desc, pair asc) → deterministic; Spark
  // plans TakeOrderedAndProject (per-partition top-k, never a global sort).
  private val BpeTopK = 20

  def textBpePairs(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(explode(expr(
        "flatten(transform(filter(split(trim(text), '\\\\s+'), w -> length(w) >= 2), " +
          "w -> transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(BpeTopK)

  val textBpePairsSql: String =
    s"""WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |           FROM documents WHERE text IS NOT NULL),
       |p AS (SELECT unnest([substr(w, i, 2) FOR i IN range(1, len(w))]) AS pair
       |      FROM w WHERE len(w) >= 2)
       |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
       |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT $BpeTopK""".stripMargin

  // --- text_bpe_encode ----------------------------------------------------
  // Train and APPLY an iterated-BPE merge list (r14, verdict #5 — the
  // r13 version applied ONE single-level char-pair table; real BPE
  // applies merges iteratively by priority, building multi-character
  // tokens): BpeRounds rounds of (count adjacent-token pairs on the
  // CURRENT tokenization of the word-frequency table, merge the top pair
  // everywhere — Sennrich et al. 2016), then report per source the BPE
  // token mass next to the whitespace mass — the compression audit
  // (chars/token, BPE-tokens/word on the ppm lattice) a tokenizer change
  // is judged by. Training runs on the DISTINCT-WORD frequency table
  // (|vocab| rows, the classic BPE training corpus compression), one tiny
  // top-1 job per round; the learned ordered list is literal-injected
  // into the bpe_token_count kernel (trained resident state, the
  // centroid/codebook contract), so the encode is ONE codegen'd scan
  // projection — work linear in corpus chars, the tokenizer floor —
  // feeding one map-side-combinable |sources|-key groupBy; nothing
  // corpus-proportional shuffles. The oracle re-derives the training
  // rounds as generated SQL: each round picks its top pair and applies it
  // with the run-parity kept/prevkept window formulation (a position is
  // merged iff its distance to the last non-matching position is odd,
  // then positions consumed by a merge drop via lag(kept) — the standard
  // leftmost-first greedy pass, with no bound on word length). Exactness:
  // pure integer counts + ppm floor divisions, byte-order pair
  // tie-breaks in both engines.
  def textBpeEncode(spark: SparkSession, d: String): DataFrame =
    bpeCounted(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("bpe_per_word_ppm", expr("bpe_tokens * 1000000 div ws_tokens"))
      .withColumn("chars_per_bpe_ppm", expr("n_chars * 1000000 div bpe_tokens"))
      .orderBy("source")

  /** Training rounds for the iterated merge list (and the unroll depth of
    * the generated oracle SQL). */
  private val BpeRounds = 16

  /** Deterministic training-vocabulary cap: the merge loop runs on the
    * top-BpeTrainVocab words by (count DESC, word ASC) — the standard BPE
    * trainer shape (word-frequency dict in memory, corpus never rescanned
    * per round). The synthetic corpora have ≤ ~10³ distinct words; the
    * generated oracle re-derives training UNCAPPED, which is equivalent
    * while |vocab| ≤ the cap. */
  private val BpeTrainVocab = 65536

  /** The trained ORDERED merge list: BpeRounds rounds of top-1 pair
    * selection on the re-merged stream, each entry `"l r"` (space-joined —
    * tokens cannot contain whitespace). The corpus-proportional work is
    * ONE distributed word-frequency aggregation (map-side combinable;
    * the TakeOrdered cap bounds the collect — the centroid/codebook
    * contract); the R-round merge loop then runs driver-side on the
    * in-memory word-frequency dict, exactly how production BPE trainers
    * split the work (a first cut ran each round as its own Spark job on
    * the ≤310-row vocab table and paid ~0.4s of pure job overhead ×
    * 16 rounds). Per-round application reuses BpeKernel.applyMerge — the
    * SAME pass the encode kernel runs, so train and encode cannot
    * diverge. Tie-breaks are (count DESC, pair ASC) in UTF-8 BYTE order
    * (Spark's UTF8 comparator = DuckDB's binary collation). Stops early
    * if the vocabulary runs out of adjacent pairs. */
  private[graft] def bpeTrainedMerges(spark: SparkSession, d: String): Seq[String] = {
    val wf = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(explode(words).as("w")).filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(BpeTrainVocab)
      .collect()
    // the generated oracle trains UNCAPPED; if the corpus vocabulary ever
    // reaches the cap the two engines would silently learn different merge
    // lists (and sf1-scale runs have no oracle compare to catch it) — fail
    // loudly instead (r14 advice)
    require(wf.length < BpeTrainVocab,
      s"BPE training vocabulary hit the BpeTrainVocab=$BpeTrainVocab cap — " +
        "the capped merge list may diverge from an uncapped trainer; raise " +
        "the cap or re-derive the oracle with the same cap")
    val toks = wf.map(r => graft.functions.BpeKernel.charTokens(r.getString(0)))
    val cnts = wf.map(_.getAs[Long]("cnt"))
    def byteLt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    val merges = scala.collection.mutable.ArrayBuffer[String]()
    var exhausted = false
    while (merges.length < BpeRounds && !exhausted) {
      val counts = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < toks.length) {
        val t = toks(i); val c = cnts(i)
        var j = 0
        while (j + 1 < t.length) {
          counts.merge(t(j) + " " + t(j + 1), c, (a, b) => a + b)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestP: String = null; var bestC = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue > bestC ||
            (e.getValue == bestC && byteLt(e.getKey, bestP))) {
            bestP = e.getKey; bestC = e.getValue
          }
        }
        merges += bestP
        val sp = bestP.indexOf(' ')
        val (l, r) = (bestP.substring(0, sp), bestP.substring(sp + 1))
        i = 0
        while (i < toks.length) {
          toks(i) = graft.functions.BpeKernel.applyMerge(toks(i), l, r)
          i += 1
        }
      }
    }
    merges.toSeq
  }

  /** Per-doc BPE vs whitespace token counts — the projection the report
    * rolls up, exposed so the spec can drive [[tokenBudgetSelect]] on BPE
    * counts (the budget a real pipeline allocates). */
  private[graft] def bpeCounted(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(words).cast("long").as("ws_tokens"),
        call_function("bpe_token_count", col("text"),
          typedLit(bpeTrainedMerges(spark, d))).as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))

  /** select_token_budget's selection run on BPE token counts: same bucket
    * decomposition, nw = the kernel's per-doc BPE count — spec'd to be the
    * exact maximal (iq desc, doc_id) prefix under the BPE budget. */
  private[graft] def selectTokenBudgetBpe(spark: SparkSession, d: String, budget: Long): DataFrame = {
    val iq = scoredDocs(Tables.documents(spark, d).filter(col("text").isNotNull),
      col("doc_id")).select("doc_id", "iq")
    tokenBudgetSelect(
      bpeCounted(spark, d).select(col("doc_id"), col("bpe_tokens").as("nw"))
        .join(iq, Seq("doc_id")),
      budget)
  }

  /** Generated oracle: the BpeRounds training rounds unrolled as a chain
    * of single-consumer, LAMBDA-FREE relational CTEs. Each round: unnest
    * the tokenization with positions, form each position's adjacent pair
    * (lead over (w, i)), weight pairs by word count with a
    * partition-by-pair window, pick the round's pair as min-of-struct
    * (−weight, pair) over all rows (no pair left → NULL → a no-op round,
    * matching Spark's early stop), mark leftmost-first non-overlapping
    * matches with the run-parity rule (kept iff the distance to the last
    * non-match is odd), drop consumed positions via lag(kept), and
    * regroup with list(tok ORDER BY i). Why this shape: both the
    * multi-row MATERIALIZED-CTE formulation and a single-row
    * list-lambda formulation returned DIFFERENT merge lists run to run
    * on DuckDB 1.0 at threads>1 (lambda-captured columns and shared CTE
    * materialization both race); every construct here is a plain window
    * or order-pinned aggregate, measured deterministic across repeated
    * runs at full thread count. */
  val textBpeEncodeSql: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""t$r AS (
         | SELECT w, min(cnt) AS cnt, list(tok ORDER BY i) AS tk FROM (
         |  SELECT w, cnt, i, CASE WHEN kept THEN tok || nxt ELSE tok END AS tok
         |  FROM (
         |   SELECT *, coalesce(lag(kept) OVER (PARTITION BY w ORDER BY i), false) AS prevkept
         |   FROM (
         |    SELECT *, matched AND (i - coalesce(max(CASE WHEN NOT matched THEN i END)
         |        OVER (PARTITION BY w ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) % 2 = 1 AS kept
         |    FROM (
         |     SELECT *, pair IS NOT NULL AND pair = (min(CASE WHEN pair IS NOT NULL
         |         THEN struct_pack(nc := -pw, p := pair) END) OVER ()).p AS matched
         |     FROM (
         |      SELECT *, sum(CASE WHEN pair IS NOT NULL THEN cnt END) OVER (PARTITION BY pair) AS pw
         |      FROM (
         |       SELECT w, cnt, i, tok, lead(tok) OVER (PARTITION BY w ORDER BY i) AS nxt,
         |              tok || ' ' || lead(tok) OVER (PARTITION BY w ORDER BY i) AS pair
         |       FROM (SELECT w, cnt, unnest(tk) AS tok,
         |                    unnest(range(1, len(tk) + 1)) AS i FROM t${r - 1})))))
         |  ) WHERE NOT prevkept)
         | GROUP BY w)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |wd AS (SELECT doc_id, source, CAST(len(text) AS BIGINT) AS n_chars,
       |        regexp_split_to_array(trim(text), '\\s+') AS ws
       |       FROM documents WHERE text IS NOT NULL),
       |wf AS (SELECT w, count(*) AS cnt
       |       FROM (SELECT unnest(ws) AS w FROM wd) WHERE len(w) >= 2 GROUP BY 1),
       |t0 AS (SELECT w, min(cnt) AS cnt, list(substr(w, i, 1) ORDER BY i) AS tk
       |       FROM (SELECT w, cnt, unnest(range(1, len(w) + 1)) AS i FROM wf) GROUP BY w),
       |$rounds,
       |bt AS (SELECT w, CAST(len(tk) AS BIGINT) AS bt FROM t$BpeRounds),
       |wpd AS (SELECT doc_id, source, n_chars, CAST(len(ws) AS BIGINT) AS nws,
       |        unnest(ws) AS w FROM wd),
       |tok AS (SELECT doc_id, source, n_chars, nws,
       |        coalesce(bt.bt, CAST(len(w) AS BIGINT)) AS bt
       |        FROM wpd LEFT JOIN bt USING (w)),
       |pd AS (SELECT doc_id, source, min(n_chars) AS n_chars, min(nws) AS ws_tokens,
       |       CAST(sum(bt) AS BIGINT) AS bpe_tokens
       |       FROM tok GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       | CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       | CAST(sum(n_chars) AS BIGINT) AS n_chars,
       | CAST(sum(bpe_tokens) AS BIGINT) * 1000000 // CAST(sum(ws_tokens) AS BIGINT) AS bpe_per_word_ppm,
       | CAST(sum(n_chars) AS BIGINT) * 1000000 // CAST(sum(bpe_tokens) AS BIGINT) AS chars_per_bpe_ppm
       |FROM pd GROUP BY 1 ORDER BY source""".stripMargin
  }

  // --- select_rebalance ---------------------------------------------------
  // Mixture rebalancing with rates derived from the DATA (unlike
  // doc_mixture's a-priori rates): given integer target weights per source
  // (here 3:1 for the doc_mixture high/low split), the per-source keep
  // rate is min(1, N·w_s / (W·c_s)) — downsample over-represented sources
  // toward the target mixture. The rate never materializes as a float:
  // membership is the integer cross-multiply bucket·W·c_s < 256·N·w_s over
  // the same 256-bucket md5 identity hash doc_mixture uses (bucket ≤ 255
  // makes the inequality vacuously true exactly when the unclamped rate
  // ≥ 1, so min(1,·) is built in). Scale shape: the source-count dim is
  // |sources| rows (AQE broadcasts it), selection is a pure map, and the
  // report is a |sources|-key groupBy — nothing corpus-proportional moves.
  private val RebalanceWeightHigh = 3L
  private val RebalanceWeightLow = 1L

  def selectRebalance(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("source"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long").as("bucket"))
    val dim = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        when(col("source").isin(MixtureHighSources.toSeq: _*), lit(RebalanceWeightHigh))
          .otherwise(lit(RebalanceWeightLow)))
      .crossJoin(docs.groupBy().agg(count(lit(1)).as("n_total")))
    val dimTot = dim.crossJoin(
      dim.agg(sum("weight").as("w_total")).select("w_total"))
    val selected = docs.join(dimTot, "source")
      .filter(col("bucket") * col("w_total") * col("n_docs") <
        lit(256L) * col("n_total") * col("weight"))
      .groupBy("source").agg(count(lit(1)).as("n_selected"))
    dimTot.join(selected, Seq("source"), "left")
      .select(col("source"), col("weight"), col("n_docs"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
      .orderBy("source")
  }

  val selectRebalanceSql: String = {
    val highList = MixtureHighSources.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""WITH b AS (SELECT doc_id, source,
       |  CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket
       |  FROM documents),
       |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(CASE WHEN source IN ($highList) THEN $RebalanceWeightHigh
       |       ELSE $RebalanceWeightLow END AS BIGINT) AS weight
       |  FROM b GROUP BY 1),
       |t AS (SELECT (SELECT sum(n_docs) FROM c) AS n_total,
       |             (SELECT sum(weight) FROM c) AS w_total),
       |s AS (SELECT b.source, CAST(count(*) AS BIGINT) AS n_sel
       |      FROM b JOIN c ON b.source = c.source CROSS JOIN t
       |      WHERE b.bucket * t.w_total * c.n_docs < 256 * t.n_total * c.weight
       |      GROUP BY 1)
       |SELECT c.source, c.weight, c.n_docs,
       |       CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_selected
       |FROM c LEFT JOIN s ON c.source = s.source ORDER BY c.source""".stripMargin
  }

  // --- select_temperature -------------------------------------------------
  // Temperature-scaled source mixture (the data-mixing knob in multilingual
  // / multi-source training runs; T=2 i.e. α=1/2 here): sampling share
  // ∝ p^α upweights low-resource sources. Per-source sizes are exact
  // integer sums; the only irrational step is sqrt (correctly-rounded IEEE
  // in both engines, and sqrt(n_chars) ∝ sqrt(p) so no pre-division), and
  // the normalizer folds the |sources| weights in ASCENDING SORTED order —
  // Spark `aggregate(array_sort(...))` == DuckDB `list_reduce(list_sort)`,
  // the proven cosine-oracle parity pattern — so shares are bit-identical
  // without depending on either engine's internal aggregate order.
  // Scale: corpus → ONE combinable groupBy onto |sources| keys; everything
  // after runs on the report-sized table (the 1-row total cross-join is a
  // broadcast of two doubles).
  def selectTemperature(spark: SparkSession, d: String): DataFrame = {
    val srcs = Tables.documents(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w", sqrt(col("n_chars").cast("double")))
    val tot = srcs.agg(
      sum(col("n_chars")).as("tot_chars"),
      expr("aggregate(array_sort(collect_list(w)), 0d, (a, x) -> a + x)").as("tot_w"))
    srcs.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_chars"),
        (col("n_chars").cast("double") / col("tot_chars").cast("double")).as("p"),
        (col("w") / col("tot_w")).as("share"))
      .orderBy("source")
  }

  val selectTemperatureSql: String =
    """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents GROUP BY 1),
      |w AS (SELECT source, n_docs, n_chars, sqrt(CAST(n_chars AS DOUBLE)) AS w FROM s),
      |t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot_chars,
      |  list_reduce(list_prepend(0.0, list_sort(list(w))), (a, x) -> a + x) AS tot_w FROM w)
      |SELECT source, n_docs, n_chars,
      | CAST(n_chars AS DOUBLE)/CAST(tot_chars AS DOUBLE) AS p,
      | w/tot_w AS share
      |FROM w, t ORDER BY source""".stripMargin

  // --- select_kfold -------------------------------------------------------
  // Deterministic k-fold assignment (train/validation splits without a
  // global shuffle): fold = first 16 bits of the seeded md5 of doc_id,
  // mod k — a pure map any executor computes independently, the same
  // content-free hash-split contract as doc_shuffle, so folds are stable
  // across runs, cluster sizes, and partitionings (and a doc's fold never
  // changes when the corpus grows — the property random splits lack).
  // Report: per-fold doc/char counts, the balance fingerprint an ablation
  // pipeline checks before training on k−1 folds.
  private val KFolds = 5

  def selectKfold(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("n_chars"),
        (conv(substring(md5(concat(lit(ShuffleSeed), lit("|"),
          col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("long") % KFolds).as("fold"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("fold")

  val selectKfoldSql: String =
    s"""SELECT CAST(CAST('0x' || substr(md5('$ShuffleSeed|' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % $KFolds AS BIGINT) AS fold,
       | CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- text_langid_confusion ---------------------------------------------------
  // Language-ID confusion matrix — the eval report every langid stage
  // ships with (text_langid emits the per-doc verdicts; this is the
  // (true, predicted) rollup a pipeline reads before trusting the
  // classifier on a new crawl, using the ground-truth `lang` the corpus
  // carries): per (lang, pred_lang) cell, count and row-share ppm
  // (n·10⁶ div the true-language total — diagonal cells ARE per-language
  // recall). Exactness: pure integer counts + ppm division. Scale shape:
  // the per-doc argmax is text_langid's scan projection (no explode, no
  // window); ONE combinable groupBy to the ≤ 25-cell matrix, the row
  // totals derive from the matrix itself (report-sized window), never a
  // second corpus pass.
  def textLangidConfusion(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang")
    langidOf(Tables.documents(spark, d))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum(col("n")).over(w))
      .withColumn("share_ppm", expr("n * 1000000 div n_lang"))
      .orderBy("lang", "pred_lang")
  }

  val textLangidConfusionSql: String =
    """WITH tok AS (
      | SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents
      |), idx AS (
      | SELECT doc_id, lang, CAST((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) % 5 AS BIGINT) AS idx FROM tok
      |), counts AS (
      | SELECT doc_id, lang, idx, count(*) AS cnt FROM idx GROUP BY 1, 2, 3
      |), top AS (
      | SELECT doc_id, lang, idx, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, idx) AS rn FROM counts
      |), cell AS (
      | SELECT lang, (['de','en','es','fr','zh'])[CAST(idx AS INT)+1] AS pred_lang,
      |  count(*) AS n
      | FROM top WHERE rn = 1 GROUP BY 1, 2
      |)
      |SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
      | CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
      | CAST(n AS BIGINT) * 1000000 // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
      |FROM cell ORDER BY lang, pred_lang""".stripMargin

  // --- text_dup_ngram_frac ----------------------------------------------------
  // Duplicated-5-gram occupancy per document (the OTHER Gopher repetition
  // rule — text_repetition measures how much the single TOP n-gram covers,
  // this measures how much of the doc is ANY repeated n-gram: the
  // loop/boilerplate signal that fires even when no single gram dominates):
  // dup_occ = occurrences belonging to 5-grams appearing ≥ 2 times in the
  // doc = n_occ − singletons, reported as exact ppm. Scale shape: the
  // standard LM-counting job — explode 5-grams into ONE combinable
  // (doc, gram) groupBy (hot grams split by AQE), then a per-doc
  // combinable rollup; no joins, per-doc report out. Only docs with ≥ 5
  // tokens have grams (shorter docs are excluded, matching the grams = 0
  // degenerate case in both engines).
  def textDupNgramFrac(spark: SparkSession, d: String): DataFrame =
    textDupNgramFracFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[textDupNgramFrac]] (`docs` needs doc_id,
    * text) — exposed so the randomized spec can pin the fused kernel
    * against a per-doc sliding-window brute force on constructed
    * looped/repeating corpora. All three counters are a pure function of
    * one document, so they come from the `gram_dup_stats` kernel in the
    * scan's project list — ZERO exchanges (the explode→(doc, gram)
    * shuffle→rollup plan this replaces paid the whole gram stream
    * through a shuffle to group by a key that started with doc_id;
    * sf1: 2.3s → kernel ~0.3s). */
  def textDupNgramFracFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("gram_dup_stats(text)").as("gd"))
      .filter(col("gd").isNotNull) // < 5 tokens or null text: no grams
      .select(col("doc_id"),
        col("gd").getItem(0).as("n_grams"),
        col("gd").getItem(1).as("dup_occ"),
        col("gd").getItem(2).as("dup_distinct"))
      .withColumn("dup_ppm", expr("dup_occ * 1000000 div n_grams"))
      .orderBy("doc_id")

  val textDupNgramFracSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      | FROM documents),
      |g AS (SELECT doc_id,
      |  unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
      |          FOR i IN range(1, len(w)-3)]) AS g
      | FROM w WHERE len(w) >= 5),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      | CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occ,
      | CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_distinct,
      | CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) * 1000000
      |   // CAST(sum(c) AS BIGINT) AS dup_ppm
      |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --- text_blocklist -------------------------------------------------------
  // Token-blocklist screen (the lexicon stage every curation pipeline runs
  // before any model-based filter — C4 dropped pages on the LDNOOBW word
  // list; this is that mechanic on a fixed literal list): per source, docs
  // with ≥1 blocklisted token, total hit tokens, and hit density — the
  // report that decides whether a source needs page-level review. Distinct
  // from text_pii's regex surface scan: membership of EXACT whitespace
  // tokens against a literal IN-list, the shape that stays a codegen'd
  // scan predicate at any list size (a regex alternation over thousands of
  // terms would not). Exactness: pure integer counts + ppm divisions.
  // Scale shape: one scan projection (filter over the token array) + ONE
  // map-side-combinable groupBy on source; report = |sources| rows.
  private val Blocklist = Seq("dup", "slow", "error", "drop")

  def textBlocklist(spark: SparkSession, d: String): DataFrame = {
    val inList = Blocklist.map(t => s"'$t'").mkString(", ")
    // NULL-text guard (the documentsJsonl hazard langidOf documents):
    // size(split(NULL)) is -1 in Spark but NULL-skipped by DuckDB's sum —
    // both engines drop null-text rows explicitly so the token sums agree.
    Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(words).cast("long").as("n_tokens"),
        size(expr(s"filter(split(trim(text), '\\\\s+'), x -> x IN ($inList))"))
          .cast("long").as("n_hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_blocked"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_hits")).as("n_hits"))
      .withColumn("blocked_ppm", expr("n_blocked * 1000000 div n_docs"))
      .withColumn("hit_ppm", expr("n_hits * 1000000 div n_tokens"))
      .orderBy("source")
  }

  val textBlocklistSql: String = {
    val inList = Blocklist.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT source,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |  len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> x IN ($inList))) AS n_hits
       | FROM documents WHERE text IS NOT NULL)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       | CAST(sum(n_hits) AS BIGINT) AS n_hits,
       | CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS blocked_ppm,
       | CAST(sum(n_hits) AS BIGINT) * 1000000 // CAST(sum(n_tokens) AS BIGINT) AS hit_ppm
       |FROM t GROUP BY 1 ORDER BY source""".stripMargin
  }

  // --- text_bigram_lm -----------------------------------------------------
  // Corpus-trained bigram-MLE fluency score per document — the exact-
  // integer core of the perplexity filter CCNet (Wenzek et al. 2020)
  // applies with a KenLM: for each in-doc bigram (w₁,w₂), the MLE
  // transition probability c(w₁w₂)/c(w₁) lands on the ppm lattice as
  // (10⁶·c₂) div c₁ — corpus counts are exact BIGINTs, so every per-doc
  // sum is order-free and the avg is one floor division (low avg = the
  // doc's transitions are rare in this corpus = boilerplate-free
  // gibberish; high = fluent/templated). Scale shape: bigram extraction
  // is a per-doc window (lag over token position — per-doc data, never
  // cross-doc); the unigram and bigram COUNT tables are the standard LM
  // counting job (combinable groupBys bounded by vocabulary, not corpus
  // rows; AQE splits the hot stopword reducers); scoring re-joins on
  // those keys and the per-doc rollup is map-side combinable.
  def textBigramLm(spark: SparkSession, d: String): DataFrame =
    textBigramLmFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[textBigramLm]] (docs needs doc_id, text) —
    * exposed so the randomized spec can pin the count-join decomposition
    * against a direct per-doc recount on constructed corpora (repeated
    * bigrams, single-token docs, cross-doc count sharing). */
  def textBigramLmFrom(docs: DataFrame): DataFrame = {
    // Per-doc bigram COUNTS form in the scan projection via the
    // bigram_counts kernel (r14 verdict #5): the exploded stream is one
    // row per (doc, DISTINCT pair) — not one per occurrence — so the
    // corpus bigram-count table map-side-combines from pre-counted
    // partials and the score join ships the per-doc multiplicity as the
    // weight column `c` instead of repeated rows (the r14 plan paid the
    // 7.5M-occurrence pair stream through the c2 shuffle AND the score
    // join, twice — the HOF branch re-evaluated per consumer). The
    // occurrence-level rollup is recovered exactly by weighting: per-doc
    // n_bigrams = Σc and ppm_sum = Σ c·ppm, integer-exact since ppm is a
    // function of the (wp, w) key alone.
    val bc = docs.select(col("doc_id"), explode(expr("bigram_counts(text)")).as("b"))
      .select(col("doc_id"), col("b.wp").as("wp"), col("b.w").as("w"), col("b.c").as("c"))
    val c1 = docs.select(explode(expr("term_counts(text)")).as("e"))
      .groupBy(col("e.t").as("wp")).agg(sum(col("e.c")).as("c1"))
    val c2 = bc.groupBy("wp", "w").agg(sum(col("c")).as("c2"))
    bc.join(c2, Seq("wp", "w")).join(c1, Seq("wp"))
      .select(col("doc_id"), col("c"), expr("(1000000 * c2) div c1").as("ppm"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), sum(col("ppm") * col("c")).as("ppm_sum"))
      .withColumn("lm_ppm", expr("ppm_sum div n_bigrams"))
      .orderBy("doc_id")
  }

  val textBigramLmSql: String =
    """WITH m AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM m),
      |bg AS (SELECT doc_id,
      |  unnest([struct_pack(wp := ws[CAST(i AS INT)], w := ws[CAST(i AS INT)+1])
      |          FOR i IN range(1, len(ws))]) AS b
      | FROM m WHERE len(ws) >= 2),
      |pairs AS (SELECT doc_id, b.wp AS wp, b.w AS w FROM bg),
      |c1 AS (SELECT w AS wp, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
      |c2 AS (SELECT wp, w, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY 1, 2),
      |sc AS (SELECT doc_id, (1000000 * c2.c2) // c1.c1 AS ppm
      |       FROM pairs JOIN c2 USING (wp, w) JOIN c1 USING (wp))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      | CAST(sum(ppm) AS BIGINT) AS ppm_sum,
      | CAST(sum(ppm) // count(*) AS BIGINT) AS lm_ppm
      |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --- text_quality_lift --------------------------------------------------
  // Decile gains/lift table for the shared quality score — the companion
  // report to text_quality_auc's single number: rank the corpus by score,
  // cut into ten VALUE-based deciles, and read per-decile positive purity,
  // cumulative capture, and lift (the "how much of the good data do the
  // top-k deciles hold" curve a curation recipe is actually tuned on).
  // Same bucket decomposition as the AUC: the corpus collapses to the
  // (iq, n, n_pos) score-lattice histogram in ONE combinable groupBy;
  // decile assignment is VALUE-based — a bucket's decile is that of its
  // FIRST element under iq DESC, dec = (cum_before·10) div n + 1 — so
  // score ties never straddle engines; everything after runs on the
  // report-sized histogram (lattice-bounded global windows, audited in
  // ExplainDump's allowlist). capture/lift are exact-integer ppm:
  // lift_ppm = (10⁶·np·N) div (n_dec·P).
  def textQualityLift(spark: SparkSession, d: String): DataFrame =
    textQualityLiftFrom(Tables.documents(spark, d))

  /** DataFrame-in core for [[textQualityLift]] (docs needs lang, text) —
    * exposed so the randomized spec can pin the histogram decile cut
    * against a direct sort-based brute force on constructed corpora
    * (ties straddling decile edges, single-score corpora). */
  def textQualityLiftFrom(docs: DataFrame): DataFrame = {
    val q = scoredDocs(docs,
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val hist = q.groupBy("iq")
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("np"))
    val wDesc = Window.orderBy(col("iq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = hist
      .withColumn("cumb", coalesce(sum(col("c")).over(wDesc), lit(0L)))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("p", sum(col("np")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("decile", expr("(cumb * 10) div n + 1"))
      .groupBy("decile")
      .agg(sum(col("c")).as("n_docs"), sum(col("np")).as("n_pos"),
        max(col("n")).as("n"), max(col("p")).as("p"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec.withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("capture_ppm",
        when(col("p") > 0L, expr("(1000000 * cum_pos) div p")))
      .withColumn("lift_ppm",
        when(col("p") > 0L, expr("(1000000 * n_pos * n) div (n_docs * p)")))
      .select("decile", "n_docs", "n_pos", "cum_pos", "capture_ppm", "lift_ppm")
      .orderBy("decile")
  }

  val textQualityLiftSql: String =
    s"""WITH m AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |  regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       |s AS (SELECT pos, CAST(len(w) AS BIGINT) AS nw,
       |  CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS BIGINT) AS stopn FROM m),
       |q AS (SELECT pos, ($ScoreScale * stopn) // nw AS iq FROM s),
       |h AS (SELECT iq, CAST(count(*) AS BIGINT) AS c, CAST(sum(pos) AS BIGINT) AS np
       |      FROM q GROUP BY 1),
       |k AS (SELECT iq, c, np,
       |  coalesce(sum(c) OVER (ORDER BY iq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
       |  sum(c) OVER () AS n, sum(np) OVER () AS p FROM h),
       |d AS (SELECT CAST((cumb * 10) // n + 1 AS BIGINT) AS decile,
       |  CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(max(n) AS BIGINT) AS n, CAST(max(p) AS BIGINT) AS p
       | FROM k GROUP BY 1),
       |e AS (SELECT decile, n_docs, n_pos,
       |  CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
       |  n, p FROM d)
       |SELECT decile, n_docs, n_pos, cum_pos,
       | CASE WHEN p > 0 THEN CAST((1000000 * cum_pos) // p AS BIGINT) END AS capture_ppm,
       | CASE WHEN p > 0 THEN CAST((1000000 * n_pos * n) // (n_docs * p) AS BIGINT) END AS lift_ppm
       |FROM e ORDER BY decile""".stripMargin

  // --- select_epochs ------------------------------------------------------
  // Data-constrained epoch allocation (Muennighoff et al. 2023, "Scaling
  // Data-Constrained Language Models": repeating data up to ~4 epochs is
  // near-free): given a token budget of EpochBudgetX× the corpus and a
  // UNIFORM per-source target share, each source's repeat factor is
  // epochs = min(MaxEpochs, ceil(target/T_s)), its contribution
  // min(target, T_s·epochs), and the residual deficit is what the recipe
  // must re-source. All quantities are exact-BIGINT lattice arithmetic
  // (ceil as (a+b-1) div b). Scale shape: per-source token totals are ONE
  // map-side-combinable groupBy; the budget scalar and the ≤|sources|-row
  // allocation math run on the report table — nothing downstream of the
  // single corpus scan grows with corpus size.
  private val EpochBudgetX = 2L
  private val MaxEpochs = 4L

  def selectEpochs(spark: SparkSession, d: String): DataFrame = {
    // Same NULL-text guard as textBlocklist: Spark's size(split(NULL)) = -1
    // would corrupt n_tokens while DuckDB sum() silently skips the NULL.
    val perSrc = Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("source"), size(words).cast("long").as("nw"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"),
      count(lit(1)).as("n_src"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("target", expr(s"($EpochBudgetX * t) div n_src"))
      .withColumn("epochs", least(lit(MaxEpochs),
        expr("(target + n_tokens - 1) div n_tokens")))
      .withColumn("alloc_tokens", least(col("target"),
        col("n_tokens") * col("epochs")))
      .withColumn("deficit", col("target") - col("alloc_tokens"))
      .select("source", "n_docs", "n_tokens", "target", "epochs",
        "alloc_tokens", "deficit")
      .orderBy("source")
  }

  val selectEpochsSql: String =
    s"""WITH m AS (SELECT source,
       |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS nw
       | FROM documents WHERE text IS NOT NULL),
       |ps AS (SELECT source, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens
       |       FROM m GROUP BY 1),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, count(*) AS n_src FROM ps),
       |a AS (SELECT source, n_docs, n_tokens,
       |  ($EpochBudgetX * t) // n_src AS target,
       |  least($MaxEpochs, ((($EpochBudgetX * t) // n_src) + n_tokens - 1) // n_tokens) AS epochs
       | FROM ps CROSS JOIN t)
       |SELECT source, n_docs, n_tokens, CAST(target AS BIGINT) AS target,
       | CAST(epochs AS BIGINT) AS epochs,
       | CAST(least(target, n_tokens * epochs) AS BIGINT) AS alloc_tokens,
       | CAST(target - least(target, n_tokens * epochs) AS BIGINT) AS deficit
       |FROM a ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_blocklist" -> textBlocklist,
    "text_dup_ngram_frac" -> textDupNgramFrac,
    "text_langid_confusion" -> textLangidConfusion,
    "text_bigram_lm" -> textBigramLm,
    "text_quality_lift" -> textQualityLift,
    "select_epochs" -> selectEpochs,
    "doc_ngram_novelty" -> docNgramNovelty,
    "text_gopher_rules" -> textGopherRules,
    "text_quality_ks" -> textQualityKs,
    "select_dsir" -> selectDsir,
    "text_char_diversity" -> textCharDiversity,
    "select_quality_tiers" -> selectQualityTiers,
    "select_temperature" -> selectTemperature,
    "select_kfold" -> selectKfold,
    "text_bpe_pairs" -> textBpePairs,
    "text_bpe_encode" -> textBpeEncode,
    "select_rebalance" -> selectRebalance,
    "text_zipf" -> textZipf,
    "text_winnow" -> textWinnow,
    "text_keywords" -> textKeywords,
    "corpus_snapshot_diff" -> corpusSnapshotDiff,
    "text_rarity" -> textRarity,
    "sample_bottomk" -> sampleBottomk,
    "pipeline_curate" -> pipelineCurate,
    "pipeline_export" -> pipelineExport,
    "pipeline_embed_curate" -> pipelineEmbedCurate,
    "doc_shuffle" -> docShuffle,
    "doc_interleave" -> docInterleave,
    "select_stratified" -> selectStratified,
    "select_token_budget" -> selectTokenBudget,
    "text_quality_auc" -> textQualityAuc,
    "select_pareto" -> selectPareto,
    "text_quality_gate" -> textQualityGate,
    "text_decontaminate" -> textDecontaminate,
    "doc_source_stats" -> docSourceStats,
    "doc_mixture" -> docMixture,
    "corpus_stats" -> corpusStats,
    "doc_chunks" -> docChunks,
    "doc_pack" -> docPack,
    "text_repetition" -> textRepetition,
    "text_pii" -> textPii,
    "text_pii_redact" -> textPiiRedact,
    "doc_length_histogram" -> docLengthHistogram,
    "doc_split" -> docSplit,
    "text_boilerplate" -> textBoilerplate,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_langid_nulls" -> textLangidNulls,
    "text_fingerprint" -> textFingerprint,
    "text_top_terms" -> textTopTerms)

  val oracle: Map[String, String] = Map(
    "text_blocklist" -> textBlocklistSql,
    "text_dup_ngram_frac" -> textDupNgramFracSql,
    "text_langid_confusion" -> textLangidConfusionSql,
    "text_bigram_lm" -> textBigramLmSql,
    "text_quality_lift" -> textQualityLiftSql,
    "select_epochs" -> selectEpochsSql,
    "doc_ngram_novelty" -> docNgramNoveltySql,
    "text_gopher_rules" -> textGopherRulesSql,
    "text_quality_ks" -> textQualityKsSql,
    "select_dsir" -> selectDsirSql,
    "text_char_diversity" -> textCharDiversitySql,
    "select_quality_tiers" -> selectQualityTiersSql,
    "select_temperature" -> selectTemperatureSql,
    "select_kfold" -> selectKfoldSql,
    "text_bpe_pairs" -> textBpePairsSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "select_rebalance" -> selectRebalanceSql,
    "text_zipf" -> textZipfSql,
    "text_winnow" -> textWinnowSql,
    "text_keywords" -> textKeywordsSql,
    "corpus_snapshot_diff" -> corpusSnapshotDiffSql,
    "text_rarity" -> textRaritySql,
    "sample_bottomk" -> sampleBottomkSql,
    "pipeline_curate" -> pipelineCurateSql,
    "pipeline_export" -> pipelineExportSql,
    "pipeline_embed_curate" -> pipelineEmbedCurateSql,
    "doc_shuffle" -> docShuffleSql,
    "doc_interleave" -> docInterleaveSql,
    "select_stratified" -> selectStratifiedSql,
    "select_token_budget" -> selectTokenBudgetSql,
    "text_quality_auc" -> textQualityAucSql,
    "select_pareto" -> selectParetoSql,
    "text_quality_gate" -> textQualityGateSql,
    "text_decontaminate" -> textDecontaminateSql,
    "doc_source_stats" -> docSourceStatsSql,
    "doc_mixture" -> docMixtureSql,
    "corpus_stats" -> corpusStatsSql,
    "doc_chunks" -> docChunksSql,
    "doc_pack" -> docPackSql,
    "text_repetition" -> textRepetitionSql,
    "text_pii" -> textPiiSql,
    "text_pii_redact" -> textPiiRedactSql,
    "doc_length_histogram" -> docLengthHistogramSql,
    "doc_split" -> docSplitSql,
    "text_boilerplate" -> textBoilerplateSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangidSql,
    "text_langid_nulls" -> textLangidNullsSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_top_terms" -> textTopTermsSql)
}
