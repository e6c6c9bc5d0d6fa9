package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Graph, Sketches, TextAnalysis}
import org.apache.spark.sql.functions.timestamp_seconds

/** Randomized brute-force checks for the round-12 decompositions — the
  * r11 pattern (seeded corpora, exact equality, no epsilon) applied to the
  * three subtlest new reductions:
  *  - select_quality_tiers' sort-free lattice-histogram tercile cuts vs a
  *    direct sort-based rank derivation,
  *  - q_bitmap_intersect's combinable bit_or masks vs per-user fold,
  *  - sketch_hll_intersection's inclusion–exclusion estimate vs an
  *    in-process register simulation (md5 replicated exactly).
  * Seeds are fixed so failures reproduce.
  */
class RandomizedDecompositionSpec extends SparkSpec {
  /** `body(atScale)` at the default leaf-byte gate, where these small
    * series take the plain per-compound window, and at gate 0, where they
    * take the census and boundary-context decompositions. */
  private def atBothGates(body: Boolean => Unit): Unit =
    Seq(false, true).foreach { atScale =>
      if (atScale) spark.conf.set("spark.graft.memoSide.minLeafBytes", "0")
      try body(atScale) finally spark.conf.unset("spark.graft.memoSide.minLeafBytes")
    }

  /** Whether `df` reads a checkpointed stream: the decomposed branch. */
  private def decomposed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  /** Aggregates in `plan` that compute a per-key span (a min named tmin). */
  private def spanAggregates(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Min}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists {
        case al: Alias => al.name == "tmin" && al.child.exists {
          case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[Min]
          case _ => false
        }
        case _ => false
      } => a
    }.size
  }

  /** Explicit-N repartition exchanges in `plan`. */
  private def repartitions(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.size
  }

  test("randomized: quality-tier cuts equal the sort-based derivation on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val langs = (0 until 1 + rnd.nextInt(3)).map(i => s"l$i")
      // text with k stop tokens out of n → iq = 100000·k div n exactly
      val docs = langs.flatMap { lang =>
        (0 until 1 + rnd.nextInt(40)).map { i =>
          val n = 1 + rnd.nextInt(12)
          val k = rnd.nextInt(n + 1)
          val text = (Seq.fill(k)("the") ++ Seq.fill(n - k)("x")).mkString(" ")
          (langs.indexOf(lang) * 1000L + i, lang, text.length.toLong, text)
        }
      }
      val got = TextAnalysis.selectQualityTiersFrom(
          docs.toDF("doc_id", "lang", "n_chars", "text"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Double]("share"))))
        .toMap
      val expected = docs.groupBy(_._2).flatMap { case (lang, g) =>
        val scores = g.map { case (_, _, _, t) =>
          val w = t.split(" ")
          100000L * w.count(_ == "the") / w.length
        }
        val n = g.size.toLong
        val desc = scores.sorted(Ordering[Long].reverse)
        val c1 = desc(((n + 2) / 3 - 1).toInt)
        val c2 = desc(((2 * n + 2) / 3 - 1).toInt)
        g.zip(scores).groupBy { case (_, iq) =>
          if (iq >= c1) "head" else if (iq >= c2) "middle" else "tail"
        }.map { case (tier, t) =>
          (lang, tier) ->
            ((t.size.toLong, t.map(_._1._3).sum, t.size.toDouble / n))
        }
      }
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: bitmap-intersect masks equal the per-user fold on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val types = Seq("view", "purchase", "click")
      val ev = (0 until 30 + rnd.nextInt(120)).map { i =>
        (i.toLong, 1L + rnd.nextInt(15),
          types(rnd.nextInt(types.length)), rnd.nextInt(72) * 3600L + rnd.nextInt(3600))
      }
      val df = ev.toDF("event_id", "user_id", "event_type", "sec")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("sec")).as("ts"))
      val got = Analytics.qBitmapIntersectFrom(df).collect()
        .map(r => r.getAs[Long]("n_hours_both") ->
          ((r.getAs[Long]("n_users"), r.getAs[Long]("n_users_overlapping")))).toMap
      val masks = ev.filter(e => e._3 == "view" || e._3 == "purchase")
        .groupBy(_._2).view.mapValues { g =>
          val ma = g.filter(_._3 == "view").map(e => 1L << ((e._4 / 3600) % 24)).fold(0L)(_ | _)
          val mb = g.filter(_._3 == "purchase").map(e => 1L << ((e._4 / 3600) % 24)).fold(0L)(_ | _)
          (ma, mb)
        }.toMap
      val expected = masks.values
        .groupBy { case (ma, mb) => java.lang.Long.bitCount(ma & mb).toLong }
        .view.mapValues(g => (g.size.toLong, g.count { case (ma, mb) => (ma & mb) != 0L }.toLong))
        .toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: quality-KS sup equals the per-pair brute force on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val srcs = (0 until 2 + rnd.nextInt(4)).map(i => s"s$i")
      // score ties across sources are the interesting case: draw from a
      // tiny (k, n) lattice so collisions are dense
      val docs = srcs.flatMap { src =>
        (0 until 1 + rnd.nextInt(30)).map { i =>
          val n = 1 + rnd.nextInt(5)
          val k = rnd.nextInt(n + 1)
          val text = (Seq.fill(k)("the") ++ Seq.fill(n - k)("x")).mkString(" ")
          (srcs.indexOf(src) * 1000L + i, src, text)
        }
      }
      val got = TextAnalysis.textQualityKsFrom(docs.toDF("doc_id", "source", "text"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
            r.getAs[Long]("ks_x"), r.getAs[Long]("ks_ppm")))).toMap
      val scores = docs.groupBy(_._2).view.mapValues(_.map { case (_, _, t) =>
        val w = t.split(" ")
        100000L * w.count(_ == "the") / w.length
      }).toMap
      val grid = scores.values.flatten.toSeq.distinct.sorted
      val expected = (for (Seq(a, b) <- srcs.sorted.combinations(2)) yield {
        val (na, nb) = (scores(a).size.toLong, scores(b).size.toLong)
        val ks = grid.map { x =>
          math.abs(scores(a).count(_ <= x) * nb - scores(b).count(_ <= x) * na)
        }.max
        (a, b) -> ((na, nb, ks, 1000000L * ks / (na * nb)))
      }).toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: cluster-balanced selection equals the per-cell sort on 10 seeded corpora") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val dim = 4 + rnd.nextInt(5)
      val nCents = 2 + rnd.nextInt(15)
      val cents = Seq.fill(nCents)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
      // cells below AND above the quota of 8: cluster sizes 1..40
      val vecs = (0 until 5 + rnd.nextInt(120)).map { i =>
        (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
      }
      val got = graft.operators.Similarity
        .selectClusterBalancedFrom(vecs.toDF("vec_id", "v"), cents)
        .collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("rank")) ->
          ((r.getAs[Long]("vec_id"), r.getAs[Long]("n_cell")))).toMap
      // brute force: same cosine fold, argmax with smaller-cid tie, md5
      // order, take 8
      def cos(a: Seq[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < b.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / math.sqrt(na * nb)
      }
      val assign = vecs.map { case (id, v) =>
        id -> (cents.zipWithIndex.map { case (c, ci) => (cos(v, c), -ci) }.max._2 * -1).toLong
      }
      val expected = assign.groupBy(_._2).flatMap { case (cid, members) =>
        val ordered = members.map(_._1).sortBy(id => (md5hex(id.toString), id))
        ordered.take(8).zipWithIndex.map { case (id, i) =>
          (cid, (i + 1).toLong) -> ((id, members.size.toLong))
        }
      }
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: window-funnel depth equals the greedy recompute under ts collisions") {
    import spark.implicits._
    val winSec = 14400L
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val types = Seq("view", "click", "purchase")
      // coarse hour lattice over ~5 window-widths: dense exact-collision
      // and exact-window-edge (tc == t1 + W) cases by construction
      val ev = (0 until 40 + rnd.nextInt(160)).map { i =>
        (i.toLong, 1L + rnd.nextInt(8),
          types(rnd.nextInt(3)), rnd.nextInt(20).toLong * 3600L)
      }
      val df = ev.toDF("event_id", "user_id", "event_type", "sec")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("sec")).as("ts"))
      val got = Analytics.qWindowFunnelFrom(df).collect()
        .map(r => r.getAs[Long]("depth") -> r.getAs[Long]("n_users")).toMap
      val expected = ev.groupBy(_._2).flatMap { case (_, es) =>
        def of(t: String) = es.filter(_._3 == t).map(_._4).sorted
        val (views, clicks, purchases) = (of("view"), of("click"), of("purchase"))
        val perAnchor = views.distinct.map { t1 =>
          clicks.find(tc => tc > t1 && tc <= t1 + winSec) match {
            case None => 1L
            case Some(t2) =>
              if (purchases.exists(tp => tp > t2 && tp <= t1 + winSec)) 3L else 2L
          }
        }
        if (perAnchor.isEmpty) None else Some(perAnchor.max)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: gopher-rule flags are exact at every integer boundary") {
    import spark.implicits._
    // pool chosen to strike each boundary: 'the'/'a' (stop + short),
    // '###'/'...' (symbols, no letters), '1234' (no letters), long words
    // for the mean-length edges
    val pool = Seq("the", "a", "x", "abcd", "1234", "###", "...",
      "abcdefghij", "abcdefghijklmno")
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed)
      val docs = (0 until 30).map { i =>
        // straddle the 50-word bound tightly
        val n = 45 + rnd.nextInt(10)
        (i.toLong, Seq.fill(n)(pool(rnd.nextInt(pool.length))).mkString(" "))
      }
      val got = TextAnalysis.textGopherRulesFrom(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          Seq("n_words", "r_words", "r_avg_len", "r_stop", "r_alpha", "r_symbol", "pass")
            .map(c => r.getAs[Long](c))).toMap
      docs.foreach { case (id, t) =>
        val w = t.split(" ")
        val nw = w.length.toLong
        val sl = w.map(_.length.toLong).sum
        val rw = if (nw >= 50 && nw <= 100000) 1L else 0L
        val rl = if (3 * nw <= sl && sl <= 10 * nw) 1L else 0L
        val rs = if (w.count(x => x == "the" || x == "a") >= 2) 1L else 0L
        val ra = if (5L * w.count(_.exists(_.isLetter)) >= 4L * nw) 1L else 0L
        val sym = "#|\\.\\.\\.".r.findAllIn(t).size.toLong
        val ry = if (10L * sym <= nw) 1L else 0L
        val pass = rw & rl & rs & ra & ry
        assert(got(id) === Seq(nw, rw, rl, rs, ra, ry, pass), s"seed=$seed doc=$id")
      }
    }
  }

  test("randomized: hll intersection equals the register simulation on 5 seeded corpora") {
    import spark.implicits._
    val M = 64
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def estOf(m: Map[Long, Long]): Double = {
      val sumScaled = m.values.map(mj => 1L << (55 - mj).toInt).sum +
        (M - m.size).toLong * (1L << 55)
      val raw = 0.709 * M * M * math.pow(2.0, 55) / sumScaled.toDouble
      val v = M - m.size
      val est = if (raw <= 2.5 * M && v > 0) M.toDouble * math.log(M.toDouble / v) else raw
      math.floor(est * 1e6 + 0.5) / 1e6
    }
    (1 to 5).foreach { seed =>
      val rnd = new Random(seed)
      val types = (0 until 2 + rnd.nextInt(2)).map(i => s"t$i")
      val ev = types.flatMap { t =>
        (0 until 5 + rnd.nextInt(60)).map(_ => (1L + rnd.nextInt(200), t))
      }
      val got = Sketches.sketchHllIntersectionFrom(ev.toDF("user_id", "event_type"))
        .collect()
      // simulate the registers exactly: h = first 60 bits of md5(user)
      val regs = ev.distinct.groupBy(_._2).view.mapValues { g =>
        g.map(_._1).distinct.map { u =>
          val h = java.lang.Long.parseLong(md5hex(u.toString).take(15), 16)
          val idx = h % M
          val rest = h / M
          val rho = if (rest == 0) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
          (idx, rho)
        }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      }.toMap
      val exact = ev.distinct.groupBy(_._1).values.flatMap { g =>
        val ts = g.map(_._2).distinct.sorted
        for (i <- ts.indices; j <- i + 1 until ts.length) yield (ts(i), ts(j))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got.length === types.sorted.combinations(2).size)
      got.foreach { r =>
        val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
        val merged = (regs(a).keySet ++ regs(b).keySet).map { i =>
          i -> math.max(regs(a).getOrElse(i, 0L), regs(b).getOrElse(i, 0L))
        }.toMap
        val expected = math.floor(
          (estOf(regs(a)) + estOf(regs(b)) - estOf(merged)) * 1e6 + 0.5) / 1e6
        assert(r.getAs[Double]("inter_est") === expected, s"seed=$seed pair=($a,$b)")
        assert(r.getAs[Long]("n_exact") === exact.getOrElse((a, b), 0L), s"seed=$seed")
      }
    }
  }
  test("randomized: attribution struct-max equals the direct latest-touch scan on 10 seeded streams") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 100)
      val types = Seq("view", "click", "purchase", "error")
      // coarse second grid forces timestamp collisions → the tid tie-break
      val ev = (0 until 40 + rnd.nextInt(160)).map { i =>
        (i.toLong, 1L + rnd.nextInt(8),
          types(rnd.nextInt(types.length)),
          rnd.nextInt(30) * 3600L + rnd.nextInt(5) * 1800L,
          rnd.nextInt(10000) / 100.0)
      }
      val df = ev.toDF("event_id", "user_id", "event_type", "sec", "value")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("sec")).as("ts"), col("value"))
      val got = Analytics.qAttributionFrom(df).collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n_conv"), r.getAs[Double]("revenue"))))
        .toMap
      val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
      val expected = ev.filter(_._3 == "purchase").map { p =>
        val cands = touches.filter(t => t._2 == p._2 && t._4 < p._4 && t._4 >= p._4 - 14400L)
        val touch =
          if (cands.isEmpty) "direct"
          else cands.maxBy(t => (t._4, t._1))._3
        (touch, math.round(p._5 * 100))
      }.groupBy(_._1).view
        .mapValues(g => (g.size.toLong, g.map(_._2).sum / 100.0)).toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: link-pred wedge decomposition equals the pairwise brute force on 10 seeded graphs") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 200)
      val n = 6 + rnd.nextInt(8)
      val all = (for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong))
      val edges = rnd.shuffle(all.toVector).take(n + rnd.nextInt(2 * n))
      // random orientation exercises the least/greatest canonicalization
      val vp = edges.map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
      val got = Graph.graphLinkPredFrom(vp.toDF("da", "db")).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("cn"),
          r.getAs[Long]("ra_x"), r.getAs[Long]("is_edge")))
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      val expected = (for {
        a <- 0L until n.toLong; b <- a + 1 until n.toLong
        cns = adj.getOrElse(a, Set.empty[Long]) & adj.getOrElse(b, Set.empty[Long])
        if cns.nonEmpty
      } yield (a, b, cns.size.toLong, cns.toSeq.map(z => 1000000L / deg(z)).sum,
        if (adj.getOrElse(a, Set.empty[Long]).contains(b)) 1L else 0L))
        .sortBy { case (a, b, cn, ra, _) => (-ra, -cn, a, b) }
        .take(20)
      assert(got.toSeq === expected, s"seed=$seed")
    }
  }

  test("randomized: bigram-LM count join equals the per-doc recount on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 300)
      val vocab = Seq("a", "b", "c", "d")
      val docs = (0 until 10 + rnd.nextInt(30)).map { i =>
        val len = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val got = TextAnalysis.textBigramLmFrom(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("ppm_sum"), r.getAs[Long]("lm_ppm"))))
        .toMap
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val c1 = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val c2 = toks.flatMap { case (_, ws) => ws.zip(ws.drop(1)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = toks.flatMap { case (id, ws) =>
        val bgs = ws.zip(ws.drop(1))
        if (bgs.isEmpty) None
        else {
          val ppms = bgs.map(bg => 1000000L * c2(bg) / c1(bg._1))
          Some(id -> ((bgs.size.toLong, ppms.sum, ppms.sum / bgs.size)))
        }
      }.toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("randomized: lift-table histogram deciles equal the sort-based derivation on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 400)
      val langs = Seq("en", "fr", "de")
      val docs = (0 until 15 + rnd.nextInt(60)).map { i =>
        val nTok = 1 + rnd.nextInt(10)
        val k = rnd.nextInt(nTok + 1)
        val text = (Seq.fill(k)("the") ++ Seq.fill(nTok - k)("x")).mkString(" ")
        (i.toLong, langs(rnd.nextInt(langs.length)), text)
      }
      val got = TextAnalysis.textQualityLiftFrom(docs.toDF("doc_id", "lang", "text"))
        .collect()
        .map(r => r.getAs[Long]("decile") -> ((r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_pos"), r.getAs[Long]("cum_pos"),
          if (r.isNullAt(4)) None else Some(r.getAs[Long]("capture_ppm")),
          if (r.isNullAt(5)) None else Some(r.getAs[Long]("lift_ppm")))))
        .toMap
      val scored = docs.map { case (_, lang, t) =>
        val w = t.split(" ")
        val iq = 100000L * w.count(_ == "the") / w.length
        (iq, if (lang == "en") 1L else 0L)
      }
      val nAll = scored.size.toLong
      val pAll = scored.map(_._2).sum
      // value-based decile: bucket's decile = that of its first element
      // under iq DESC (= count of strictly-greater scores · 10 div n + 1)
      val byIq = scored.groupBy(_._1)
      val decOf = byIq.keys.map { iq =>
        iq -> (scored.count(_._1 > iq).toLong * 10 / nAll + 1)
      }.toMap
      val perDec = byIq.toSeq.groupBy { case (iq, _) => decOf(iq) }.view
        .mapValues { g =>
          val rows = g.flatMap(_._2)
          (rows.size.toLong, rows.map(_._2).sum)
        }.toMap
      val expected = perDec.toSeq.sortBy(_._1).foldLeft(
        (0L, Map.empty[Long, (Long, Long, Long, Option[Long], Option[Long])])) {
        case ((cum, acc), (dec, (nd, np))) =>
          val c = cum + np
          val cap = if (pAll > 0) Some(1000000L * c / pAll) else None
          val lift = if (pAll > 0) Some(1000000L * np * nAll / (nd * pAll)) else None
          (c, acc + (dec -> ((nd, np, c, cap, lift))))
      }._2
      assert(got === expected, s"seed=$seed")
    }
  }
  test("randomized: CUSUM closed form equals the sequential max-fold on 10 seeded series") {
    import spark.implicits._
    atBothGates { atScale => (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 500)
      val compounds = Seq("co", "ch4")
      // step-change series: baseline then a shifted regime → real alarms
      val rows = compounds.flatMap { c =>
        val base = 100 + rnd.nextInt(50)
        val shift = rnd.nextInt(80) - 40
        (0 until 20 + rnd.nextInt(60)).map { i =>
          val lvl = if (i > 30) base + shift else base
          (compounds.indexOf(c) * 1000L + i, c, i * 60L,
            (lvl * 100 + rnd.nextInt(400) - 200) / 100.0)
        }
      }
      val df = rows.toDF("event_id", "compound", "sec", "value")
        .select(col("event_id"), col("compound"),
          timestamp_seconds(col("sec")).as("cts"), col("value"))
      val cusum = graft.operators.Selection.dsCusumFrom(df, "event_id")
      assert(decomposed(cusum) === atScale, s"seed=$seed atScale=$atScale")
      val got = cusum.collect()
        .map(r => (r.getString(0), r.getAs[Long]("event_id"), r.getString(2)) ->
          ((r.getAs[Long]("s"), r.getAs[Long]("h")))).toMap
      val expected = rows.groupBy(_._2).flatMap { case (c, g) =>
        val ordered = g.sortBy(e => (e._3, e._1))
        val vc = ordered.map(e => math.round(e._4 * 100))
        val n = vc.size.toLong
        val t = Math.floorDiv(vc.sum, n)
        val madx = Math.floorDiv(vc.map(v => math.abs(v - t)).sum, n)
        val k = Math.floorDiv(madx, 2)
        val h = madx * 4
        // the direct sequential recurrence the closed form must equal
        val sh = vc.scanLeft(0L)((s, v) => math.max(0L, s + (v - t - k))).drop(1)
        val sl = vc.scanLeft(0L)((s, v) => math.max(0L, s + (t - k - v))).drop(1)
        ordered.zipWithIndex.flatMap { case (e, i) =>
          Seq(("high", sh(i)), ("low", sl(i))).collect {
            case (side, s) if s > h => (c, e._1, side) -> ((s, h))
          }
        }
      }
      assert(got === expected, s"seed=$seed atScale=$atScale")
    }}
  }

  test("randomized: SPC run rules equal the direct sequential scan on 10 seeded series") {
    import spark.implicits._
    atBothGates { atScale => (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 700)
      val compounds = Seq("co2", "ch4", "o3")
      val rows = compounds.flatMap { c =>
        // piecewise level shifts + sustained strict ramps force real
        // rule-2/3 runs; values live on the cents lattice so round() is
        // exact
        var lvl = 500L
        var rampLeft = 0
        (0 until 30 + rnd.nextInt(120)).map { i =>
          if (rampLeft == 0 && rnd.nextInt(10) == 0) rampLeft = 8 + rnd.nextInt(5)
          if (rampLeft == 0 && rnd.nextInt(12) == 0) lvl += (rnd.nextInt(7) - 3) * 400L
          val cents =
            if (rampLeft > 0) { rampLeft -= 1; lvl += 1 + rnd.nextInt(3); lvl }
            else lvl + rnd.nextInt(9) - 4
          (compounds.indexOf(c) * 1000L + i, c, i * 60L, cents / 100.0)
        }
      }
      val df = rows.toDF("event_id", "compound", "sec", "value")
        .select(col("event_id"), col("compound"),
          timestamp_seconds(col("sec")).as("cts"), col("value"))
      val spc = graft.operators.Selection.dsSpcRulesFrom(df, "event_id")
      assert(decomposed(spc) === atScale, s"seed=$seed atScale=$atScale")
      val got = spc.collect()
        .map(r => r.getString(0) -> ((r.getAs[Long]("n_points"),
          r.getAs[Long]("n_rule1"), r.getAs[Long]("n_rule2"),
          r.getAs[Long]("n_rule3")))).toMap
      val expected = rows.groupBy(_._2).map { case (c, g) =>
        val vc = g.sortBy(e => (e._3, e._1)).map(e => math.round(e._4 * 100))
        val n = vc.size
        val t = Math.floorDiv(vc.sum, n.toLong)
        val madx = Math.floorDiv(vc.map(v => math.abs(v - t)).sum, n.toLong)
        val sides = vc.map(v => if (v > t) 1L else if (v < t) -1L else 0L)
        val mv = 0L +: vc.sliding(2).map { case Seq(a, b) =>
          if (b > a) 1L else if (b < a) -1L else 0L }.toSeq
        val r1 = vc.count(v => math.abs(v - t) > 3 * madx).toLong
        val r2 = (7 until n).count(i =>
          math.abs(sides.slice(i - 7, i + 1).sum) == 8).toLong
        val r3 = (6 until n).count(i =>
          math.abs(mv.slice(i - 5, i + 1).sum) == 6).toLong
        c -> ((n.toLong, r1, r2, r3))
      }
      assert(got === expected, s"seed=$seed atScale=$atScale")
      // the ramps must actually fire rule 3 somewhere across the board
      assert(expected.values.map(_._4).sum > 0, s"seed=$seed produced no rule-3 runs")
    }}
  }

  test("randomized: gated lag and ROWS operators return the plain window's rows when decomposed, on 10 seeded series") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 900)
      def value(): Double =
        (if (rnd.nextInt(12) == 0) 90000 else 10000 + rnd.nextInt(3000)) / 100.0
      // span 256·c − 1 seconds puts bucket edges between seconds m·c − 1
      // and m·c; equal timestamps pile up on both sides of some edges and
      // most buckets stay empty
      val c = 1 + rnd.nextInt(3)
      val edges = Seq.fill(6 + rnd.nextInt(10))(1 + rnd.nextInt(255))
      val edge = Seq(0L, 256L * c - 1) ++ edges.flatMap { m =>
        Seq.fill(1 + rnd.nextInt(3))(m * c - 1L) ++ Seq.fill(1 + rnd.nextInt(3))(m.toLong * c)
      } ++ Seq.fill(20 + rnd.nextInt(40))(rnd.nextInt(256 * c).toLong)
      // two dense clusters far apart: every bucket between them is empty
      val clusters = Seq.fill(20 + rnd.nextInt(30))(rnd.nextInt(600).toLong) ++
        Seq.fill(20 + rnd.nextInt(30))(1000000L + rnd.nextInt(600))
      val pair = Seq(0L, if (seed % 2 == 0) 0L else 1L + rnd.nextInt(5000))
      val series = Seq("edge" -> edge, "clusters" -> clusters, "pair" -> pair, "solo" -> Seq(7L))
        .map { case (name, secs) => name -> secs.map(_ * 1000000L) } :+
        // sub-second samples: whole seconds 0..10 give span 10 and leave
        // the last gap (5 s, 9 samples) unflagged, 5·8 = 4·10, while the
        // micros span (9.2 s) would flag it
        ("subsec" -> Seq(900000L, 1200000L, 2300000L, 3100000L, 3500000L, 4200000L,
          4800000L, 5000000L, 10100000L))
      val rows = series.zipWithIndex.flatMap { case ((name, micros), ci) =>
        micros.zipWithIndex.map { case (t, i) =>
          (ci * 1000L + i, name, 1700000000L * 1000000L + t, value())
        }
      }
      val df = rows.toDF("event_id", "compound", "micros", "value")
        .select(col("event_id"), col("compound"), timestamp_micros(col("micros")).as("cts"),
          col("value"))
      // the gap rule on whole epoch seconds, sequentially
      val expectedGaps = rows.groupBy(_._2).toSeq.flatMap { case (c, g) =>
        val o = g.sortBy(e => (e._3, e._1))
        val secs = o.map(e => Math.floorDiv(e._3, 1000000L))
        val span = secs.max - secs.min
        o.indices.drop(1).collect {
          case i if (secs(i) - secs(i - 1)) * (o.size - 1) > 4 * span =>
            s"[$c,${o(i - 1)._1},${o(i)._1},${secs(i) - secs(i - 1)}]"
        }
      }.sorted
      val Selection = graft.operators.Selection
      val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "gapsFrom" -> (() => Selection.gapsFrom(df, "event_id")),
        "interpFrom" -> (() => Selection.interpFrom(df, "event_id")),
        "rollingZFrom" -> (() => Selection.rollingZFrom(df, "event_id")),
        "changepointFrom" -> (() => Selection.changepointFrom(df, "event_id")),
        "dsTrendFrom" -> (() => Selection.dsTrendFrom(df, "event_id")),
        "dsFlatlineFrom" -> (() => Selection.dsFlatlineFrom(df, "event_id")),
        // a compound with one pair has no r (zero variance divides by 0)
        "autocorrFrom" -> (() => Selection.autocorrFrom(df.filter(col("compound") =!= "pair"),
          "event_id")),
        "dsCusumFrom" -> (() => Selection.dsCusumFrom(df, "event_id")),
        "dsSpcRulesFrom" -> (() => Selection.dsSpcRulesFrom(df, "event_id")))
      val byGate = scala.collection.mutable.Map.empty[(String, Boolean), Seq[String]]
      atBothGates { atScale =>
        ops.foreach { case (name, op) =>
          val (out, checkpoints) = graft.tools.CheckpointPlans.during(spark)(op())
          assert(decomposed(out) === atScale, s"$name seed=$seed atScale=$atScale")
          if (atScale) {
            // the library stream: one per-compound span aggregate and one
            // explicit-N exchange, wherever the entry's plans hold them
            val plans = out.queryExecution +: checkpoints
            assert(plans.map(qe => spanAggregates(qe.optimizedPlan)).sum === 1, s"$name seed=$seed")
            assert(plans.map(qe => repartitions(qe.executedPlan)).sum === 1, s"$name seed=$seed")
          }
          byGate((name, atScale)) = out.collect().map(_.toString).toSeq.sorted
        }
        assert(byGate(("gapsFrom", atScale)) === expectedGaps, s"seed=$seed atScale=$atScale")
      }
      ops.foreach { case (name, _) =>
        assert(byGate((name, true)) === byGate((name, false)), s"$name seed=$seed")
      }
      // the series exercise the operators, not just their empty results
      assert(byGate(("gapsFrom", false)).nonEmpty && byGate(("rollingZFrom", false)).nonEmpty,
        s"seed=$seed")
    }
  }

  test("randomized: changepoint and flatline equal the direct sequential scan at both gates on 10 seeded series") {
    import spark.implicits._
    atBothGates { atScale => (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 1300)
      // level shifts, stuck stretches (exact repeats, some across bucket
      // edges), runs of equal timestamps, and a one-sample compound
      val rows = Seq("a", "b", "c", "solo").zipWithIndex.flatMap { case (c, ci) =>
        var lvl = 1000 + rnd.nextInt(500)
        var stuck = 0
        var sec = 0L
        (0 until (if (c == "solo") 1 else 20 + rnd.nextInt(200))).map { i =>
          if (rnd.nextInt(40) == 0) lvl += rnd.nextInt(400) - 200
          if (stuck == 0 && rnd.nextInt(15) == 0) stuck = 2 + rnd.nextInt(30)
          val cents = if (stuck > 0) { stuck -= 1; lvl } else lvl + rnd.nextInt(50) - 25
          if (rnd.nextInt(4) != 0) sec += 1 + rnd.nextInt(600)
          (ci * 10000L + i, c, 1700000000L + sec, cents / 100.0)
        }
      }
      val df = rows.toDF("event_id", "compound", "sec", "value")
        .select(col("event_id"), col("compound"), timestamp_seconds(col("sec")).as("cts"),
          col("value"))
      val series = rows.groupBy(_._2).view
        .mapValues(g => g.sortBy(e => (e._3, e._1)).map(e => (e._1, e._3, math.round(e._4 * 100))))
        .toMap
      // the best split: max score, then the earliest i
      val expectedSplits = series.collect { case (c, o) if o.size > 1 =>
        val n = o.size.toLong
        val sn = o.map(_._3).sum
        var best: (Long, Long, Double, Double, Double) = null
        var s = 0L
        (1L until n).foreach { i =>
          s += o((i - 1).toInt)._3
          val score = math.abs(s * (n - i) - (sn - s) * i).toDouble / (i * (n - i)).toDouble
          if (best == null || score > best._3)
            best = (i, o((i - 1).toInt)._1, score, (s.toDouble / 100.0) / i.toDouble,
              ((sn - s).toDouble / 100.0) / (n - i).toDouble)
        }
        c -> best
      }
      val cp = graft.operators.Selection.changepointFrom(df, "event_id")
      assert(decomposed(cp) === atScale, s"seed=$seed atScale=$atScale")
      val gotSplits = cp.collect().map(r => r.getString(0) -> ((r.getAs[Long]("split_i"),
        r.getAs[Long]("boundary_event_id"), r.getAs[Double]("score"),
        r.getAs[Double]("mean_left"), r.getAs[Double]("mean_right")))).toMap
      assert(gotSplits === expectedSplits, s"seed=$seed atScale=$atScale")
      // maximal runs of equal cents, at least two samples long
      val expectedRuns = series.toSeq.flatMap { case (c, o) =>
        val runs = o.foldLeft(List.empty[List[(Long, Long, Long)]]) {
          case (run :: done, e) if run.head._3 == e._3 => (e :: run) :: done
          case (done, e) => List(e) :: done
        }
        runs.filter(_.size >= 2).map(r => (c, r.last._2 * 1000L, r.size.toLong, r.head._3 / 100.0))
      }.sorted
      val fl = graft.operators.Selection.dsFlatlineFrom(df, "event_id")
      assert(decomposed(fl) === atScale, s"seed=$seed atScale=$atScale")
      val gotRuns = fl.collect().map(r => (r.getString(0), r.getAs[Long]("start_ms"),
        r.getAs[Long]("n_samples"), r.getAs[Double]("value"))).toSeq.sorted
      assert(gotRuns === expectedRuns, s"seed=$seed atScale=$atScale")
      assert(expectedRuns.nonEmpty, s"seed=$seed produced no runs")
    }}
  }

  test("randomized: RangeBuckets.lags at widths 1, 7 and 15 equals the plain per-key lag and row_number on 10 seeded series") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.RangeBuckets
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 1100)
      // NULL values, so a lag that reads the wrong side of the li > j
      // switch cannot pass by falling back to the other side
      def value(): java.lang.Double =
        if (rnd.nextInt(10) == 0) null else (10000 + rnd.nextInt(3000)) / 100.0
      // span 256·c − 1 seconds puts bucket edges between seconds m·c − 1
      // and m·c: equal timestamps pile up on both sides of some edges, and
      // a few dozen scattered seconds leave most buckets empty and the
      // rest shorter than 7 or 15 rows, so a carry crosses several buckets
      val c = 1 + rnd.nextInt(3)
      val edges = Seq.fill(6 + rnd.nextInt(10))(1 + rnd.nextInt(255))
      val edge = Seq(0L, 256L * c - 1) ++ edges.flatMap { m =>
        Seq.fill(1 + rnd.nextInt(3))(m * c - 1L) ++ Seq.fill(1 + rnd.nextInt(3))(m.toLong * c)
      } ++ Seq.fill(20 + rnd.nextInt(40))(rnd.nextInt(256 * c).toLong)
      // one or two rows per non-empty bucket, every other bucket empty
      val sparse = (0 until 128).flatMap(m => Seq.fill(1 + rnd.nextInt(2))(2L * m))
      val clusters = Seq.fill(20 + rnd.nextInt(30))(rnd.nextInt(600).toLong) ++
        Seq.fill(20 + rnd.nextInt(30))(1000000L + rnd.nextInt(600))
      val pair = Seq(0L, if (seed % 2 == 0) 0L else 1L + rnd.nextInt(5000))
      val series = Seq("edge" -> edge, "sparse" -> sparse, "clusters" -> clusters,
        "pair" -> pair, "solo" -> Seq(7L))
      val rows = series.zipWithIndex.flatMap { case ((name, secs), ci) =>
        secs.zipWithIndex.map { case (t, i) => (ci * 1000L + i, name, 1700000000L + t, value()) }
      }
      val df = rows.toDF("event_id", "compound", "sec", "value")
      val ord = Seq(col("sec"), col("event_id"))
      val w = Window.partitionBy("compound").orderBy(ord: _*)
      Seq(1, 7, 15).foreach { width =>
        val lagged = for (c <- Seq("value", "event_id"); j <- 1 to width)
          yield RangeBuckets.lagName(c, j) -> lag(col(c), j).over(w)
        val names = lagged.map(_._1)
        val plain = lagged.foldLeft(df.withColumn("i", row_number().over(w).cast("long"))) {
          case (acc, (n, e)) => acc.withColumn(n, e)
        }
        val carried = RangeBuckets.lags(
          RangeBuckets.partitioned(RangeBuckets.assign(df, "compound", "sec"), "compound"),
          "compound", ord, Seq("value", "event_id"), width, atScale = true)
        assert(decomposed(carried), s"seed=$seed width=$width")
        def rowsOf(out: org.apache.spark.sql.DataFrame): Seq[String] =
          out.select((Seq("event_id", "compound", "i") ++ names).map(col): _*)
            .collect().map(_.toString).toSeq.sorted
        assert(rowsOf(carried) === rowsOf(plain), s"seed=$seed width=$width")
      }
    }
  }

  test("randomized: bounded k-core peel equals the sequential peel on 10 seeded graphs") {
    import spark.implicits._
    def brute(edges: Set[(Long, Long)], rounds: Int):
        Set[(Long, Long, Long)] = {
      var alive = edges.flatMap(e => Seq(e._1, e._2))
      var es = edges
      var out = Set.empty[(Long, Long, Long)]
      (1 to rounds).foreach { r =>
        val deg = alive.map(v =>
          v -> es.count(e => e._1 == v || e._2 == v).toLong).toMap
        val low = alive.filter(v => deg(v) < 2)
        out ++= low.map(v => (v, r.toLong, deg(v)))
        alive --= low
        es = es.filter(e => alive(e._1) && alive(e._2))
      }
      val deg = alive.map(v =>
        v -> es.count(e => e._1 == v || e._2 == v).toLong).toMap
      out ++ alive.map(v => (v, 0L, deg(v)))
    }
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 800)
      val n = 6 + rnd.nextInt(10)
      val all = (for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong))
      val edges = rnd.shuffle(all.toVector).take(3 + rnd.nextInt(2 * n)).toSet
      val vp = edges.toSeq.map { case (a, b) =>
        if (rnd.nextBoolean()) (a, b) else (b, a) }
      val got = graft.operators.Graph.graphKcoreFrom(vp.toDF("da", "db")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("layer"),
          r.getAs[Long]("deg_final"))).toSet
      assert(got === brute(edges, 4), s"seed=$seed")
    }
    // constructed worst cases: a 5-clique with a pendant (clique = layer-0
    // core at degree 4, pendant peels in round 1, its anchor stays core),
    // and a 10-path (peels 2 ends per round; after 4 rounds the middle 2
    // are still alive at degree 1 — the round BOUND is the semantics)
    val clique = (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)).toSet
    val cp = clique + ((0L, 99L))
    val gotC = graft.operators.Graph.graphKcoreFrom(
      cp.toSeq.toDF("da", "db")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("layer"),
        r.getAs[Long]("deg_final"))).toSet
    assert(gotC === brute(cp, 4))
    assert(gotC.contains((99L, 1L, 1L)) && gotC.contains((1L, 0L, 4L)))
    val path = (0L until 9L).map(i => (i, i + 1)).toSet
    val gotP = graft.operators.Graph.graphKcoreFrom(
      path.toSeq.toDF("da", "db")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("layer"),
        r.getAs[Long]("deg_final"))).toSet
    assert(gotP === brute(path, 4))
    assert(gotP.contains((0L, 1L, 1L)) && gotP.contains((4L, 0L, 1L)))
  }

  test("randomized: gram-matrix explode equals the per-pair direct sum on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 600)
      val vecs = (0 until 3 + rnd.nextInt(40)).map { i =>
        (i.toLong, Array.fill(64)((rnd.nextFloat() * 2 - 1)))
      }
      val df = vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
          lit(0).as("label"))
      val q = vecs.map { case (_, v) =>
        // HALF_UP away from zero — Spark round()'s contract, not
        // Math.round's floor(x+0.5) (they differ on negative halves)
        v.map(x => BigDecimal(x.toDouble * 32768)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
      val n = vecs.size.toLong
      val got = graft.operators.Similarity.embedGramMatrixFrom(df).collect()
        .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
          ((r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_q"), r.getAs[Double]("m"))))
        .toMap
      val expected = (for (i <- 1 to 64; j <- i to 64) yield {
        val sq = q.map(row => row(i - 1) * row(j - 1)).sum
        (i.toLong, j.toLong) -> ((n, sq, sq.toDouble / (1073741824.0 * n.toDouble)))
      }).toMap
      assert(got === expected, s"seed=$seed")
    }
  }

  test("gram-matrix DECIMAL branch is exact at the signed-64 boundary where BIGINT wraps") {
    import spark.implicits._
    // 9 vectors of all-2^15 components: q_i = 2^30, every pair product
    // 2^60, so per-(i,j) sums are 9*2^60 ~ 1.04e19 > Long.MaxValue — past
    // the documented ~8.6e9-row headroom (scaled into reach by maxing the
    // lattice) where the BIGINT sum overflows
    val big = (0 until 9).map(i =>
      (i.toLong, Array.fill(64)(32768.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val exact = BigInt(9) * (BigInt(1) << 60)
    assert(exact > BigInt(Long.MaxValue), "boundary construction must exceed signed-64")
    val dec = graft.operators.Similarity.embedGramMatrixFrom(big, decimalSums = true)
      .collect()
    assert(dec.length === 64 * 65 / 2)
    dec.foreach { r =>
      assert(BigInt(r.getAs[java.math.BigDecimal]("sum_q").toBigInteger) === exact)
      assert(r.getAs[Long]("n_vecs") === 9L)
    }
    // the BIGINT branch fails LOUDLY on the same input under Spark 4's
    // ANSI default (the session's config): the boundary is an error, not
    // silent corruption — and the decimal branch is the documented way past it
    val thrown = intercept[Exception] {
      graft.operators.Similarity.embedGramMatrixFrom(big).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(thrown).exists(t => t.isInstanceOf[ArithmeticException] ||
        String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")),
      s"expected ARITHMETIC_OVERFLOW in cause chain, got ${thrown.getMessage.take(120)}")

    // below the boundary the branches agree value-for-value
    val rnd = new Random(4242)
    val small = (0 until 20).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val a = graft.operators.Similarity.embedGramMatrixFrom(small).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> BigInt(r.getAs[Long]("sum_q"))).toMap
    val b = graft.operators.Similarity.embedGramMatrixFrom(small, decimalSums = true).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
        BigInt(r.getAs[java.math.BigDecimal]("sum_q").toBigInteger)).toMap
    assert(a === b)
  }

  test("randomized: dup-5-gram counting equals the per-doc brute force on 10 seeded corpora") {
    import spark.implicits._
    (1 to 10).foreach { seed =>
      val rnd = new Random(seed + 900)
      val vocab = Seq("a", "b", "c")
      val docs = (0 until 10 + rnd.nextInt(40)).map { i =>
        // tiny vocab + looped phrases force real 5-gram repeats
        val len = rnd.nextInt(30)
        val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.length)))
        val toks = if (rnd.nextBoolean() && len >= 6) base ++ base.take(6) else base
        (i.toLong, toks.mkString(" "))
      }
      val got = graft.operators.TextAnalysis.textDupNgramFracFrom(
        docs.toDF("doc_id", "text")).collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_grams"),
          r.getAs[Long]("dup_occ"), r.getAs[Long]("dup_distinct"),
          r.getAs[Long]("dup_ppm")))).toMap
      val expected = docs.flatMap { case (id, text) =>
        val w = text.trim.split("\\s+").toSeq.filter(_ => text.trim.nonEmpty)
        if (w.size < 5) None
        else {
          val grams = w.sliding(5).map(_.mkString(" ")).toSeq
          val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
          val n = grams.size.toLong
          val dupOcc = counts.values.filter(_ >= 2).sum
          val dupDistinct = counts.values.count(_ >= 2).toLong
          Some(id -> ((n, dupOcc, dupDistinct, Math.floorDiv(dupOcc * 1000000L, n))))
        }
      }.toMap
      assert(got === expected, s"seed=$seed")
      assert(expected.values.exists(_._2 > 0), s"seed=$seed produced no dup grams")
    }
  }
}
