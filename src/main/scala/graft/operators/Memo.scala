package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of state shared between queries of a session: persisted
  * frames, facts about a corpus, and layouts written to disk.
  *
  * Keys are (session, data dir, tag). A cached DataFrame is bound to the
  * session that built it, so another session reading the same dir builds
  * its own entry instead of inheriting plans tied to a stopped session.
  *
  *  - Frames: an entry holds the persisted frames its value is made of.
  *    The builder picks the materialization point: a bare `persist()` pins
  *    blocks on the first action, `persist()` + `count()` pins them at
  *    build. An entry is live while every frame is still registered in the
  *    cache manager; one unpersisted behind the memo's back
  *    (`spark.catalog.clearCache()`, eviction) is rebuilt on the next call.
  *  - Facts: values about the corpus under the dir (the heavy-key verdict).
  *    They hold no frames and stay until [[release]].
  *  - Layouts: tables or directories written once per (session, dir),
  *    directories under `spark.sql.warehouse.dir` ([[layoutDir]]). They
  *    survive [[release]] and live for the session.
  *
  * Each key is built once: concurrent callers of one key wait for the
  * first builder, different keys build in parallel. A builder may read
  * other keys (the QC stream reads the keyed stream, canon reads the LSH
  * stages); keys have their own locks and depend on each other acyclically,
  * so nested builds cannot deadlock. A hit takes no lock: one map lookup
  * and one liveness check per frame.
  */
private[graft] object Memo {
  private final case class Key(spark: SparkSession, dir: String, tag: String)
  private final case class Entry(value: Any, frames: Seq[DataFrame], layout: Boolean)
  private final class Slot { @volatile var entry: Entry = null }

  private val slots = TrieMap.empty[Key, Slot]

  private def live(e: Entry): Boolean =
    e != null && e.frames.forall(_.storageLevel != StorageLevel.NONE)

  private def getOrBuild[A](spark: SparkSession, dir: String, tag: String,
      layout: Boolean)(build: => (A, Seq[DataFrame])): A = {
    val slot = slots.getOrElseUpdate(Key(spark, dir, tag), new Slot)
    val hit = slot.entry
    if (live(hit)) hit.value.asInstanceOf[A]
    else slot.synchronized {
      val e = slot.entry
      if (live(e)) e.value.asInstanceOf[A]
      else {
        // a partly evicted entry would pin its surviving frames forever
        if (e != null) e.frames.foreach(_.unpersist())
        val (v, frames) = build
        slot.entry = Entry(v, frames, layout)
        v
      }
    }
  }

  /** Get-or-build a value made of the persisted frames `framesOf` lists. */
  def frames[A](spark: SparkSession, dir: String, tag: String)
      (framesOf: A => Seq[DataFrame])(build: => A): A =
    getOrBuild(spark, dir, tag, layout = false) { val v = build; (v, framesOf(v)) }

  /** Get-or-build one persisted frame from the plan `build`; with `count`
    * it is materialized at build, otherwise on its first action. */
  def frame(spark: SparkSession, dir: String, tag: String, count: Boolean)
      (build: => DataFrame): DataFrame =
    frames[DataFrame](spark, dir, tag)(Seq(_)) {
      val df = build.persist()
      if (count) df.count()
      df
    }

  /** A frame worth pinning only at scale: the live entry under the key if
    * there is one, before anything is built or measured; otherwise the plan
    * `build`, persisted and counted at build when [[PlanStats.atScale]],
    * returned lazy and unowned when not. */
  def atScale(spark: SparkSession, dir: String, tag: String)
      (build: => DataFrame): DataFrame =
    cached[DataFrame](spark, dir, tag).getOrElse {
      val df = build
      if (PlanStats.atScale(df)) frame(spark, dir, tag, count = true)(df) else df
    }

  /** The live value under the key, if any; builds nothing. */
  def cached[A](spark: SparkSession, dir: String, tag: String): Option[A] =
    slots.get(Key(spark, dir, tag)).map(_.entry).filter(live).map(_.value.asInstanceOf[A])

  /** Get-or-compute a fact about the corpus under `dir`. */
  def fact[A](spark: SparkSession, dir: String, tag: String)(probe: => A): A =
    getOrBuild(spark, dir, tag, layout = false)((probe, Nil))

  /** Write a layout once per (session, dir); `write` returns the location it
    * wrote (a path or a table prefix), which every later call gets back. */
  def layout(spark: SparkSession, dir: String, tag: String)(write: => String): String =
    getOrBuild(spark, dir, tag, layout = true)((write, Nil))

  /** The directory a `tag` layout of the corpus under `dir` is written to:
    * `graft-<tag>-<dir slug>` under the session's warehouse directory. */
  def layoutDir(spark: SparkSession, dir: String, tag: String): String = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    new org.apache.hadoop.fs.Path(wh, s"graft-$tag-${graft.sources.Sinks.pathSlug(dir)}").toString
  }

  /** Drop every frame and fact; written layouts stay for the session. */
  def release(): Unit = slots.foreach { case (k, slot) =>
    slot.synchronized {
      val e = slot.entry
      if (e == null || !e.layout) {
        slots.remove(k, slot)
        if (e != null) e.frames.foreach(_.unpersist())
      }
    }
  }
}
