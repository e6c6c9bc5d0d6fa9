package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel

import graft.operators.{Memo, Similarity}

/** The one memo owner: build once per key, rebuild after eviction, and a
  * release that frees frames and facts but keeps written layouts. */
class MemoSpec extends SparkSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("concurrent callers of one key run the builder once") {
    val n = 8
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to n).map { _ =>
        Future {
          start.await()
          Memo.frame(spark, "memo-spec-once", "t", count = true) {
            builds.incrementAndGet()
            Thread.sleep(200)
            spark.range(1000).toDF("x")
          }
        }
      }
      start.countDown()
      val frames = Await.result(Future.sequence(calls), 2.minutes)
      assert(builds.get === 1)
      assert(frames.forall(_ eq frames.head))
    } finally {
      pool.shutdown()
      Memo.release()
    }
  }

  test("a hit after clearCache rebuilds the frame") {
    val builds = new AtomicInteger()
    def get() = Memo.frame(spark, "memo-spec-evict", "t", count = true) {
      builds.incrementAndGet()
      spark.range(500).toDF("x")
    }
    try {
      val first = get()
      assert(get() eq first)
      assert(builds.get === 1)
      spark.catalog.clearCache()
      assert(first.storageLevel === StorageLevel.NONE)
      val rebuilt = get()
      assert(builds.get === 2)
      assert(rebuilt.storageLevel !== StorageLevel.NONE)
    } finally Memo.release()
  }

  test("release unpersists frames and clears facts but keeps written layouts") {
    val dir = "memo-spec-release"
    val probes = new AtomicInteger()
    val writes = new AtomicInteger()
    def fact() = Memo.fact(spark, dir, "fact") { probes.incrementAndGet(); true }
    def layout() = Memo.layout(spark, dir, "layout") {
      writes.incrementAndGet()
      val p = Memo.layoutDir(spark, dir, "layout")
      spark.range(10).write.mode("overwrite").parquet(p)
      p
    }
    val frame = Memo.frame(spark, dir, "frame", count = true)(spark.range(100).toDF("x"))
    fact()
    val path = layout()
    assert(frame.storageLevel !== StorageLevel.NONE)
    Memo.release()
    assert(frame.storageLevel === StorageLevel.NONE)
    fact()
    assert(probes.get === 2, "release must clear facts")
    assert(layout() === path)
    assert(writes.get === 1, "release must keep written layouts")
    assert(spark.read.parquet(path).count() === 10L)
  }

  test("repeated ann_recall above the gate reuses one pinned copy") {
    Memo.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    try {
      spark.conf.set("spark.graft.memoSide.minLeafBytes", "0")
      val first = Similarity.annRecall(spark, sf).collect()
      val once = persistentIds
      assert(once.nonEmpty, "above the gate the exact baseline must be persisted")
      val second = Similarity.annRecall(spark, sf).collect()
      assert(persistentIds === once)
      assert(second.toSeq === first.toSeq)
      Memo.release()
      assert(persistentIds.isEmpty, "every frame ann_recall pins is Memo's to free")
    } finally {
      spark.conf.unset("spark.graft.memoSide.minLeafBytes")
      Memo.release()
    }
  }

  test("Memo.atScale returns a live frame before it builds or measures anything") {
    Memo.release()
    val builds = new AtomicInteger()
    def side = Memo.atScale(spark, "memo-spec-gated", "side") {
      builds.incrementAndGet()
      spark.range(100).toDF("id")
    }
    assert(side.storageLevel === StorageLevel.NONE, "below the gate the plan stays lazy")
    side
    assert(builds.get === 2, "a lazy side is not owned, so every call builds it")
    try {
      spark.conf.set("spark.graft.memoSide.minLeafBytes", "0")
      val pinned = side
      assert(pinned.storageLevel !== StorageLevel.NONE)
      assert(side eq pinned)
      assert(builds.get === 3, "a live entry must be returned without building its plan")
    } finally {
      spark.conf.unset("spark.graft.memoSide.minLeafBytes")
      Memo.release()
    }
  }

  test("the leaf-byte reading of a QC memo consumer does not change when the memo is warmed") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.operators.{PlanStats, Selection}
    val d = "/root/testdata/sf0.01"
    Memo.release()
    Selection.dsRollingZ(spark, d)
    Selection.dsSpcRules(spark, d)
    // fresh frames each time, as each query builds its own: a frame's plan
    // caches the stats it was first read with
    def consumers = Seq(
      Memo.cached[DataFrame](spark, d, "qc_keyed").get.select("event_id", "compound", "value", "cts"),
      Memo.cached[DataFrame](spark, d, "qc_lattice").get.select("*"))
    def loaded(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.collectLeaves()
      .collect { case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded }
      .reduce(_ && _)
    try {
      assert(!consumers.exists(loaded))
      val cold = consumers.map(PlanStats.leafStatBytes)
      Selection.warmQcCaches(spark, d)
      assert(consumers.forall(loaded))
      assert(consumers.map(PlanStats.leafStatBytes) === cold)
      // the lattice built over a warm keyed stream, as a warmed pass does
      Memo.release()
      Selection.warmQcCaches(spark, d)
      assert(consumers.map(PlanStats.leafStatBytes) === cold)
    } finally Memo.release()
  }
}
