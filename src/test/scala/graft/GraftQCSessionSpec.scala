package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The GraftQC session on a small series fixture written to a temp dir:
  * load, rectangle and alt-drag selections, chained click toggles. Needs no
  * reference checkout. */
class GraftQCSessionSpec extends SparkSpec {

  private val Compounds = Seq("ethane", "n butane", "propane")
  // 2005-01-01 00:00:00 UTC; keys are in corrected time (UTC-2)
  private val Base = 1104537600L
  private val PerCompound = 17
  private val Day = 86400L

  /** One JSON array per compound. Every compound samples the same flasks at
    * the same times, so keys are shared across compounds, and flask F-5 is
    * read twice within one minute, so it keys two rows of each compound. */
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-qc-session-")
    Compounds.zipWithIndex.foreach { case (c, i) =>
      val recs = (0 until PerCompound).map { j =>
        (Base + j * Day, s"F-$j", 100.0 + 10 * j + i)
      } :+ ((Base + 5 * Day + 20, "F-5", 500.0 + i))
      val json = recs.map { case (epoch, salt, v) =>
        s"""{"date": $epoch.0, "flask_number": "$salt", "value": $v, "lat": 10.0}"""
      }.mkString("[", ",\n", "]")
      Files.writeString(d.resolve(s"$c.json"), json)
    }
    d
  }

  private lazy val qc = new GraftQC(spark, utcOffsetHours = -2)
  private lazy val data = qc.loadSeriesDir(dir.toString)

  /** Corrected time `sec` seconds after the fixture's first sample. */
  private def at(sec: Long): String =
    java.time.Instant.ofEpochSecond(Base - 7200 + sec).toString.replace("T", " ").stripSuffix("Z")

  /** Every point of compound `c` sampled on days `j0` to `j1`. */
  private def rect(c: String, j0: Int, j1: Int): DataFrame =
    qc.rectSelect(data, c, at(j0 * Day), at(j1 * Day + 3600), 0.0, 1e9)

  private def keys(df: DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  private def symDiff(a: DataFrame, c: DataFrame): Set[(String, String)] = {
    val (ka, kc) = (keys(a).toSet, keys(c).toSet)
    (ka -- kc) ++ (kc -- ka)
  }

  private def assertToggle(a: DataFrame, c: DataFrame): Unit = {
    val out = keys(qc.toggle(a, c))
    assert(out.size === out.toSet.size, "toggle output is not distinct")
    assert(out.toSet === symDiff(a, c))
  }

  test("loadSeriesDir decodes file names, keys every row and runs no job") {
    val group = s"load-${System.nanoTime}"
    val marker = s"marker-${System.nanoTime}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    val loaded = try {
      spark.sparkContext.setJobGroup(group, "loadSeriesDir")
      val df = qc.loadSeriesDir(dir.toString)
      spark.sparkContext.setJobGroup(marker, "marker")
      spark.range(1).count()
      // listener events arrive in order: once the marker job is seen, any
      // job the load started has been seen too
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (!groups.contains(marker) && System.nanoTime < deadline) Thread.sleep(20)
      assert(groups.contains(marker))
      df
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(!groups.asScala.exists(_ == group), "loadSeriesDir ran a Spark job")

    val compounds = loaded.select("compound").distinct().collect().map(_.getString(0)).toSet
    assert(compounds === Compounds.toSet)
    assert(loaded.count() === Compounds.size * (PerCompound + 1))
    assert(loaded.filter(col("sel_key").isNull).count() === 0)
    // two reads of F-5 in one minute share a key
    assert(loaded.select("compound", "sel_key").distinct().count() === Compounds.size * PerCompound)
    val first = loaded.filter(col("compound") === "n butane" && col("salt") === "F-0")
      .select("sel_key").collect().map(_.getString(0)).toSeq
    assert(first === Seq("2004-12-31 22:00 F-0"))
  }

  test("toggle is the symmetric difference of overlapping selections") {
    val a = rect("ethane", 2, 9)
    val c = rect("ethane", 6, 12).unionByName(rect("n butane", 0, 3))
    val (ka, kc) = (keys(a).toSet, keys(c).toSet)
    assert((ka & kc).nonEmpty && (ka -- kc).nonEmpty && (kc -- ka).nonEmpty)
    assertToggle(a, c)
    assertToggle(c, a)
    assert(keys(qc.toggle(a, a)).isEmpty)
    assert(qc.toggle(a, c).schema.map(f => (f.name, f.dataType)) ===
      Seq("compound" -> StringType, "sel_key" -> StringType))
  }

  test("toggle collapses duplicate input rows") {
    val a = rect("propane", 0, 8)
    val c = rect("propane", 5, 14)
    val dupA = a.union(a).union(data.filter(col("compound") === "propane" && col("salt") === "F-5")
      .select("compound", "sel_key"))
    assert(dupA.count() > dupA.distinct().count())
    assertToggle(dupA, c.union(c))
  }

  test("toggle treats NULL keys as equal, as EXCEPT does") {
    val schema = StructType(Seq(StructField("compound", StringType), StructField("sel_key", StringType)))
    def sel(rows: (String, String)*): DataFrame =
      spark.createDataFrame(rows.map { case (c, k) => Row(c, k) }.asJava, schema)
    val a = sel(("x", "k1"), ("x", null), (null, null))
    val c = sel(("x", null), ("x", "k2"), ("y", null))
    assert(keys(qc.toggle(a, c)).toSet === Set(("x", "k1"), (null, null), ("x", "k2"), ("y", null)))
    assertToggle(a, c)
  }

  test("k chained toggles plan k + 2 file scans") {
    val k = 4
    var sel = qc.antiSelect(rect("ethane", 0, 12), rect("ethane", 3, 5))
    var model = keys(sel).toSet
    (0 until k).foreach { i =>
      val click = rect("ethane", 2 * i, 2 * i + 3)
      model = (model -- keys(click)) ++ (keys(click).toSet -- model)
      sel = qc.toggle(sel, click)
    }
    val scans = sel.queryExecution.analyzed.collectLeaves().count(_.isInstanceOf[LogicalRelation])
    assert(scans === k + 2)
    assert(keys(sel).toSet === model)
  }
}
