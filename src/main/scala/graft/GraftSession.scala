package graft

import org.apache.spark.sql.SparkSession
import graft.sources.GraftLocalFileSystem

/** Session factory with the knobs every graft job needs.
  *
  * Locally we run `local[N]` with `spark.sql.shuffle.partitions = N`; on a
  * real cluster the same builder is used with `master`/partitions supplied by
  * the deployment (documented knob: shuffle partitions ≈ 2-3× total cores,
  * AQE coalesces the rest). Session timezone is pinned to UTC so epoch math
  * and `date_format` output are deployment-independent — the reference's
  * entire data model is epoch-seconds plus an explicit UTC offset
  * (/root/reference/index.js:401), so nothing may depend on machine TZ.
  *
  * The session also installs `GraftExtensions` (graft's SQL functions and
  * its optimizer rule) and, for `file:` paths, `GraftLocalFileSystem`,
  * which sets file modes in-process instead of starting a `chmod`.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos
      // timestamp — read as long and convert in the loader (Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native graft functions (cosine_sim) available in SQL + expr()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // The generated-class cache (Janino output, JVM-wide) defaults to 100
      // entries; a 180-query workload emits ~1000 distinct codegen units per
      // pass, so the LRU thrashes and EVERY query recompiles every stage on
      // every run — pure fixed overhead that scales with query count, not
      // data. Size it to hold the whole workload (the cache stores compiled
      // classes; ~5k entries is tens of MB on a driver that has GBs). On a
      // long-lived cluster service this is the same knob you'd raise for any
      // multi-tenant SQL endpoint.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // `file:` paths go to Hadoop's local filesystem with in-process
      // permission setting: without libhadoop the stock one starts a chmod
      // process for each file and directory a local write creates
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)

  def local(cores: Int = 32): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
