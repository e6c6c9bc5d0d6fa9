package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Range, Repartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.functions.PushProjectBelowCoalesce
import graft.sources.{GraftLocalFileSystem, GraftRawLocalFileSystem}

/** What `GraftSession` installs besides configuration: the optimizer rule
  * `GraftExtensions` injects, and the `file:` filesystem. */
class GraftSessionSpec extends SparkSpec {

  private val Excluded = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](body: => T): T = {
    spark.conf.set(Excluded, PushProjectBelowCoalesce.ruleName)
    try body finally spark.conf.unset(Excluded)
  }

  private def optimized(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  private lazy val local: DataFrame = spark.createDataFrame(
    (0 until 40).map(i => Row(i.toLong, i * 1.5)).asJava,
    StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))))

  test("a deterministic Project moves below a coalesce and folds into a local relation") {
    val ranged = spark.range(0, 100, 1, 4).coalesce(1).select((col("id") * 2).as("x"), lit("k").as("k"))
    assert(optimized(ranged) match {
      case Repartition(1, false, Project(_, _: Range)) => true
      case _ => false
    }, optimized(ranged).treeString)
    def folded = local.coalesce(1).filter(col("v") > 3.0)
      .select(col("id"), (col("v") >= 30.0).as("flag"), lit(7).as("seven"))
    assert(optimized(folded) match {
      case Repartition(1, false, _: LocalRelation) => true
      case _ => false
    }, optimized(folded).treeString)
    withoutRule(assert(optimized(folded) match {
      case Project(_, Repartition(1, false, _: LocalRelation)) => true
      case _ => false
    }, optimized(folded).treeString))
  }

  test("a Project with a partition-dependent expression stays above the coalesce") {
    val nondeterministic: Seq[(String, Column)] = Seq(
      "rand" -> rand(3), "monotonically_increasing_id" -> monotonically_increasing_id(),
      "spark_partition_id" -> spark_partition_id(), "input_file_name" -> input_file_name())
    nondeterministic.foreach { case (name, e) =>
      val df = spark.range(0, 100, 1, 4).coalesce(1).select(col("id"), e.as("n"))
      assert(optimized(df) match {
        case Project(_, Repartition(1, false, _)) => true
        case _ => false
      }, s"$name: ${optimized(df).treeString}")
    }
  }

  test("the rule keeps rows, and a second optimizer pass keeps the plan") {
    val frames: Seq[DataFrame] = Seq(
      spark.range(0, 100, 1, 4).coalesce(2).select((col("id") % 7).as("m"), col("id"))
        .groupBy("m").agg(sum("id").as("s")),
      local.coalesce(1).select(col("id"), (col("v") * 2).as("w")).filter(col("w") > 10)
        .groupBy((col("id") % 3).as("g")).agg(max("w").as("w")),
      local.coalesce(1).select(col("id"), (col("v") + rand(5)).as("r"))
        .select(col("id"), (col("r") >= col("id") * 1.5).as("up")))
    frames.foreach { df =>
      val plan = optimized(df)
      assert(rows(df) === withoutRule(rows(df.select("*"))))
      assert(spark.sessionState.optimizer.execute(plan) === plan, plan.treeString)
      assert(PushProjectBelowCoalesce(plan) === plan)
    }
  }

  test("file: paths resolve to the graft filesystem") {
    val fs = new HPath("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(new HPath("file:///").getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[GraftLocalFileSystem])
  }

  test("setPermission sets the rwx bits of a file and a directory") {
    val raw = new GraftRawLocalFileSystem
    val dir = scratchDir("perm-")
    val file = Files.writeString(dir.resolve("f"), "x")
    for ((p, mode) <- Seq(file -> "640", file -> "777", file -> "000", dir -> "750", dir -> "755")) {
      raw.setPermission(new HPath(p.toUri), new FsPermission(Integer.parseInt(mode, 8).toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) ===
        new FsPermission(Integer.parseInt(mode, 8).toShort).toString, mode)
    }
  }
}
