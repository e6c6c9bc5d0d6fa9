package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The timing path Bench and QueryTime share: the pass boundary, the
  * per-query split and the pass loop. */
class BenchSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("pass reset unpersists earlier frames and keeps only the warm's RDDs") {
    val stale = spark.range(1000).withColumn("v", col("id") * 2).persist()
    stale.count()
    val staleRdd = stale.rdd.localCheckpoint()
    staleRdd.count()
    assert(persistentIds.contains(staleRdd.id))
    val (warm, keep) = Bench.resetPass(spark, sf)
    assert(warm >= 0.0, "a family warm failed at sf0.001")
    assert(stale.storageLevel === StorageLevel.NONE)
    assert(!keep.contains(staleRdd.id))
    assert(keep.nonEmpty, "the warm persisted no memo")
    assert(persistentIds === keep)
  }

  test("the per-query split sums to the wall time and releases the query's RDDs") {
    val (_, keep) = Bench.resetPass(spark, sf)
    Seq("ds_gaps", "q3_topk_revenue").foreach { name =>
      val s = Bench.timeQuery(spark, sf, SparkEntry.queries(name), keep)
      assert(s.build >= 0.0 && s.plan >= 0.0 && s.exec >= 0.0, s"$name: $s")
      assert(math.abs(s.build + s.plan + s.exec - s.wall) < 1e-6, s"$name: $s")
      assert(persistentIds === keep, name)
    }
    // an eager checkpoint pins its blocks while the frame is built
    val leaky: (SparkSession, String) => DataFrame = (sp, _) => sp.range(10).toDF().localCheckpoint()
    Bench.timeQuery(spark, sf, leaky, keep)
    assert(persistentIds === keep)
  }

  test("the pass loop clears the job description and reports each query") {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val failing: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val queries = Seq("ds_gaps" -> SparkEntry.queries("ds_gaps"), "broken" -> failing)
    val warm = Bench.runPass(spark, sf, 1, queries, gcEach = false) {
      case (name, Right(_)) => seen += name
      case (name, Left(e)) => seen += s"$name:${e.getMessage}"
    }
    assert(warm >= 0.0)
    assert(seen.toSeq === Seq("ds_gaps", "broken:boom"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
  }
}
