package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Builds the N× replicated probe corpora behind SCALING.md's cost
  * curves, reproducibly (earlier rounds built them ad hoc).
  *
  * - `documents`: each copy offsets doc_id and SUFFIXES every token with
  *   the copy index — copies keep their internal near-dup structure
  *   without being near-dups of each other, so duplicate DENSITY stays
  *   the baseline's and expected pair growth under replication is ~N,
  *   not N² (the contract the dedup family's linearity claims are
  *   measured against; SCALING.md's 10× dedup probe).
  * - `embeddings`: each copy offsets vec_id and CIRCULARLY SHIFTS the
  *   vector by the copy index — decorrelates copies (no cos≈1 twins
  *   across copies) while preserving the component distribution, so
  *   cell-blocked operators see a genuinely larger corpus, not a
  *   duplicate explosion. Copy 0 is the original, so the deterministic
  *   seed-centroid rows (vec_id ∈ [100, 116)) exist exactly once.
  *
  * All other tables are symlinked from the source dir.
  *
  * Mode `events` (r14 verdict #3 — the job-floor crossover curves):
  * replicates `events`/`orders`/`lineitem` instead — event_id and the
  * orderkey shift by copy × offset (orders and lineitem shift
  * TOGETHER, so every order keeps its lines), user_id shifts too (the
  * user population scales with the workload, as a real scale-up would);
  * part/supp/cust keys stay, so dimension joins fan out N× like a real
  * N× business. documents/embeddings are symlinked.
  *
  * Mode `skew` (r14 verdict #4 — the user_id hot-key probe): same row
  * count as the source, but ~30% of events are deterministically
  * reassigned to ONE hot user (event_id % 10 < 3 → user −1), the
  * adversarial shape SCALING.md's "AQE splits hot keys" claim must
  * survive. Everything else symlinked.
  *
  * Run: sbt "runMain graft.tools.ReplicateCorpus <n> [srcDir] [dstDir] [mode]"
  */
object ReplicateCorpus {
  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Copy offset = next power of 10 above every shifted key in the SOURCE
    * corpus (r16): the old fixed 10,000,000 collided when replicas were
    * STACKED — /tmp/graft-sf1 ids already span +9·10M from make_sf1.py,
    * so a 10× build on top of it mapped copy i of sf1-copy j onto copy
    * i+j, leaving /tmp/graft-sf10 with 15M orders rows over 2.85M
    * DISTINCT o_orderkey (5.3× duplicate keys; joins fanned out ~28× and
    * every sf3/sf10 probe measured that explosion, not the data). */
  private def offsetFor(spark: org.apache.spark.sql.SparkSession,
      src: String, keyed: Map[String, Seq[String]]): Long = {
    val mx = keyed.flatMap { case (t, cols) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      // cast → long handles INT key columns; an EMPTY table yields a NULL
      // max — fail with the actual problem instead of an NPE (r16 advice)
      cols.map { c =>
        val r = df.agg(max(col(c).cast("long"))).head
        if (r.isNullAt(0))
          sys.error(s"ReplicateCorpus: $src/$t.parquet is empty ($c has no max) — nothing to replicate")
        r.getLong(0)
      }
    }.max
    var off = 10000000L
    while (off <= mx) off *= 10
    off
  }

  /** Token-suffix separator for THIS replication level (r16 advice): a
    * fixed '~' de-conflicts exactly one stacking level — re-replicating a
    * '~'-suffixed corpus maps base token "w" of copy 4 and level-1 token
    * "w~4" of copy 0 onto the same "w~4", recreating the phantom-duplicate
    * collision commit 632f8c1 fixed. Pick the first candidate absent from
    * the source text; refuse when all are taken. */
  private def sepFor(docs: org.apache.spark.sql.DataFrame): String = {
    val candidates = Seq("~", "^", "=", "@")
    candidates.find(s => docs.filter(col("text").contains(s)).isEmpty)
      .getOrElse(sys.error("ReplicateCorpus: every candidate separator " +
        candidates.mkString("(", " ", ")") + " already appears in the source " +
        "documents — refusing to stack another suffix level"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val dst = if (args.length > 2) args(2) else s"/tmp/graft-x$n"
    val mode = if (args.length > 3) args(3) else "docs"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(16)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(dst))

    def linkRest(built: Set[String]): Unit =
      AllTables.filterNot(built).foreach { t =>
        val link = Paths.get(dst, s"$t.parquet")
        Files.deleteIfExists(link)
        Files.createSymbolicLink(link, Paths.get(src, s"$t.parquet"))
      }

    if (mode == "events") {
      val off = offsetFor(spark, src, Map(
        "events" -> Seq("event_id", "user_id"),
        "orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey")))
      println(s"REPLICATE offset $off")
      // events ts may arrive as TIMESTAMP(NANOS) (GraftSession sets
      // nanosAsLong, so it reads as a nanos LONG and round-trips as one —
      // Tables.events converts either form); replicate column-preserving
      def replicated(t: String, shifted: Set[String]): Unit = {
        val df = spark.read.parquet(s"$src/$t.parquet")
        (0 until n).map { i =>
          if (i == 0) df
          else df.select(df.columns.map { c =>
            if (shifted(c)) (col(c) + lit(i * off)).as(c) else col(c)
          }.toIndexedSeq: _*)
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      replicated("events", Set("event_id", "user_id"))
      replicated("orders", Set("o_orderkey"))
      replicated("lineitem", Set("l_orderkey"))
      linkRest(Set("events", "orders", "lineitem"))
      println(s"REPLICATED(events) x$n -> $dst")
      spark.stop()
      return
    }

    if (mode == "skew") {
      val ev = spark.read.parquet(s"$src/events.parquet")
      ev.select(ev.columns.map { c =>
        if (c == "user_id")
          when(col("event_id") % 10 < 3, lit(-1L)).otherwise(col("user_id")).as(c)
        else col(c)
      }.toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      linkRest(Set("events"))
      println(s"SKEWED(events, 30% -> user -1) -> $dst")
      spark.stop()
      return
    }

    val docOff = offsetFor(spark, src, Map(
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id")))
    println(s"REPLICATE offset $docOff")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // separator derived per level (see sepFor) — the r16 build used a
    // fixed "~" (distinct from make_sf1.py's "_"), which collides as soon
    // as this tool's own output is replicated again
    val sep = sepFor(docs)
    println(s"REPLICATE token separator '$sep'")
    val copiesD = (0 until n).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * docOff)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + sep + i).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copiesD.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val copiesE = (0 until n).map { i =>
      if (i == 0) emb
      else {
        // shift in [1, dim-1] for EVERY copy: a plain i % dim would make
        // copy `dim` (and every multiple) a zero-shift exact duplicate of
        // the originals — cos≈1 twins, the duplicate explosion the shift
        // exists to prevent (r12 review)
        val s = 1 + (i - 1) % (dim - 1)
        val shifted =
          concat(slice(col("embedding"), s + 1, dim - s),
            slice(col("embedding"), 1, s))
        emb.select((col("vec_id") + lit(i * docOff)).as("vec_id"),
          shifted.as("embedding"), col("label"))
      }
    }
    copiesE.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    AllTables.filterNot(Set("documents", "embeddings")).foreach { t =>
      val link = Paths.get(dst, s"$t.parquet")
      // re-create, never skip: a surviving link from an earlier run with a
      // DIFFERENT srcDir would silently mix two corpora (r12 review)
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, Paths.get(src, s"$t.parquet"))
    }
    println(s"REPLICATED x$n -> $dst")
    spark.stop()
  }
}
