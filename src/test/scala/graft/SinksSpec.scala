package graft

import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Tables}

class SinksSpec extends SparkSpec {

  // every written artifact lives under the suite's scratch root
  private def tmpDir(prefix: String): String = scratchDir(prefix).toString

  test("daily-partitioned writes give partition-pruned reads") {
    val path = tmpDir("part-")
    val ev = Tables.events(spark, sf)
    Sinks.writePartitionedDaily(ev, "ts", path)

    val day = ev.select(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .groupBy("d").count().orderBy(desc("count")).first().getString(0)
    val pruned = spark.read.parquet(path).filter(col("p_date") === day)

    // the day filter must prune at the partition level, not post-scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"expected a partition filter on p_date; plan was:\n$plan")
    // and the data round-trips exactly for that day
    val expected = ev.filter(date_format(col("ts"), "yyyy-MM-dd") === day).count()
    assert(pruned.count() === expected)
  }

  test("bucketed writes give exchange-free equi-joins") {
    Seq("orders_s", "lineitem_s").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get("/tmp/graft-test-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Sinks.writeBucketed(Tables.orders(spark, sf), "orders_s", "o_orderkey", 8)
    Sinks.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_s", "o_orderkey", 8)
    val joined = spark.table("lineitem_s").hint("merge")
      .join(spark.table("orders_s"), Seq("o_orderkey"))
      .select("o_orderkey", "o_orderstatus", "l_quantity")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("writeZOrdered: real file stats form tiles — user-band probes touch fewer files than a time-linear layout") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), unix_timestamp(col("ts")).as("epoch"), col("value"))
    val zDir = tmpDir("z-")
    val tDir = tmpDir("t-")
    Sinks.writeZOrdered(ev, "user_id", "epoch", zDir, files = 16)
    ev.repartitionByRange(16, col("epoch")).sortWithinPartitions("epoch")
      .write.mode("overwrite").parquet(tDir)

    // real per-file min/max stats, read back from the written files
    def stats(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("user_id"), max("user_id"), min("epoch"), max("epoch")).head
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    val zs = stats(zDir)
    val ts = stats(tDir)
    assert(zs.nonEmpty && ts.nonEmpty)

    // probe: a 10%-wide user band across all time — the dimension a
    // time-linear layout cannot prune. min/max overlap replay = exactly
    // what a stats-pruning reader does with these footers.
    val (uLo, uHi) = {
      val r = ev.agg(min("user_id"), max("user_id")).head
      (r.getLong(0), r.getLong(0) + ((r.getLong(1) - r.getLong(0)) / 10))
    }
    def userHits(s: Seq[(Long, Long, Long, Long)]) =
      s.count { case (lo, hi, _, _) => hi >= uLo && lo <= uHi }
    assert(userHits(zs) < userHits(ts),
      s"z-order should prune user probes: z=${userHits(zs)} linear=${userHits(ts)}")
    // the tradeoff is explicit: time-linear stays at least as good on pure
    // time probes (z tiles span several time stripes)
    val (eLo, eHi) = {
      val r = ev.agg(min("epoch"), max("epoch")).head
      (r.getLong(0), r.getLong(0) + ((r.getLong(1) - r.getLong(0)) / 10))
    }
    def timeHits(s: Seq[(Long, Long, Long, Long)]) =
      s.count { case (_, _, lo, hi) => hi >= eLo && lo <= eHi }
    assert(timeHits(ts) <= timeHits(zs))
    // and the layout loses no rows
    assert(spark.read.parquet(zDir).count() === ev.count())
  }

  test("writeTrainingCorpus: source-partitioned, pos-sorted, non-overlapping files that round-trip exactly") {
    val out = tmpDir("train-")
    val corpus = graft.operators.TextAnalysis.trainingCorpus(spark, sf)
    graft.sources.Sinks.writeTrainingCorpus(corpus, out, shards = 4)
    // layout: one partition directory per source present in the selection
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName).toSet
    val sources = corpus.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(sources.nonEmpty)
    assert(dirs === sources.map(s => s"source=$s"))
    // exact round trip, text included — the written artifact IS the corpus
    val back = spark.read.parquet(out).select(corpus.columns.map(col): _*)
    assert(back.count() === corpus.count())
    assert(back.except(corpus).count() === 0 && corpus.except(back).count() === 0)
    // per-source: ≤ shards files; each file pos-SORTED internally (read
    // order via monotonically_increasing_id) with non-overlapping pos
    // ranges across a source's files — the sequential-reader contract
    val rows = spark.read.parquet(out)
      .select(col("source"), input_file_name().as("f"), col("pos"),
        monotonically_increasing_id().as("mid"))
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (s, rs) =>
      val files = rs.groupBy(_.getString(1))
      assert(files.size <= 4, s"source $s has ${files.size} files")
      files.foreach { case (f, fr) =>
        val inReadOrder = fr.sortBy(_.getLong(3)).map(_.getLong(2)).toSeq
        assert(inReadOrder === inReadOrder.sorted, s"file $f not pos-sorted")
      }
      val ranges = files.values.map(fr =>
        (fr.map(_.getLong(2)).min, fr.map(_.getLong(2)).max)).toSeq.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2,
          s"source $s has overlapping pos ranges across files")
        case _ =>
      }
    }
  }

  test("ORC round-trips the events table with schema and contents intact") {
    // format portability: the engine is parquet-first, but a lake migration
    // must be able to write/read ORC without semantic drift
    val out = tmpDir("orc-")
    val src = graft.sources.Tables.events(spark, sf)
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0)
    assert(src.except(back).count() === 0)
  }

  test("CSV round-trips lineitem and quoted free text without drift") {
    // lineitem: numerics + timestamps through an explicit schema + a fixed
    // timestamp format (CSV has no types of its own)
    val outL = tmpDir("csv-l-")
    val li = graft.sources.Tables.lineitem(spark, sf)
    val fmt = "yyyy-MM-dd HH:mm:ss"
    li.write.mode("overwrite").option("header", "true").option("timestampFormat", fmt).csv(outL)
    val backL = spark.read.schema(li.schema).option("header", "true")
      .option("timestampFormat", fmt).csv(outL)
    assert(backL.schema === li.schema)
    assert(backL.except(li).count() === 0 && li.except(backL).count() === 0)
    // documents: free text with commas/quotes/newlines must survive CSV
    // quoting (multiLine read for embedded newlines)
    val outD = tmpDir("csv-d-")
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.write.mode("overwrite").option("header", "true").csv(outD)
    val backD = spark.read.schema(docs.schema).option("header", "true")
      .option("multiLine", "true").csv(outD)
    assert(backD.count() === docs.count())
    assert(backD.except(docs).count() === 0 && docs.except(backD).count() === 0)
  }
}
