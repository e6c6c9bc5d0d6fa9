package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The range-bucket decomposition of an ordered per-key scan (lag, running
  * sum, prefix min, rank, ROWS-bounded window) over a bounded key
  * (compound, event_type, source). A single window partitioned by the key
  * runs each key's whole series in one task; here the series splits into
  * (key, time-bucket) groups that run in parallel, and a census of the
  * buckets hands each bucket what its earlier buckets carry.
  *
  *  - [[assign]]: the per-key span of the order column `t` (one row per
  *    key, so it is joined back under a broadcast) gives each row a bucket
  *    id `b` = (t − tmin) · [[Buckets]] div (tmax − tmin + 1), in
  *    [0, Buckets). b is monotone in t, so within a key the buckets follow
  *    the series order: every row of bucket b precedes every row of a
  *    later bucket, rows with equal t share a bucket, and ordering by
  *    (b, t, …) is ordering by (t, …). A bucket-local window over that
  *    order sees a contiguous stretch of the series.
  *  - [[local]]: the bucket-local windows, on a stream partitioned by
  *    [[partitioned]] and then checkpointed. The partition count N is the
  *    session's `spark.sql.shuffle.partitions`, given explicitly: the
  *    window's own exchange carries well-compressed integers, AQE
  *    coalesces it toward one partition and the decomposed window runs
  *    serial, while a repartition with an explicit count is never
  *    coalesced. The window runs before the checkpoint because the
  *    checkpoint's `LogicalRDD` does not advertise its partitioning: a
  *    window read from a checkpoint shuffles the corpus again.
  *  - The carry: a census is an aggregate per (key, b), at most
  *    |keys| × Buckets rows at any scale, and [[earlier]] is the window
  *    over the key's earlier buckets in which a census computes each
  *    bucket's carry-in ([[offset]], a running min, a last non-null).
  *    Joined back on (key, b), the census turns local values into global
  *    ones.
  *
  * Storage contract: [[local]] takes a lazy `localCheckpoint`, because the
  * windowed stream feeds both the census and the join-back. Building the
  * frame plans the windowed subtree (under AQE that runs the shuffle
  * stages below it); the checkpoint's blocks are written by the first
  * action that reads them and stay until the caller unpersists the RDD or
  * the session ends. In a bench pass `Bench.timeQuery` unpersists what
  * each query left. Nothing else owns them: `qc_batch`'s traced pass
  * books its three at-scale QC queries' checkpoints as leaked RDDs, until
  * a per-query memo scope owns them.
  */
private[graft] object RangeBuckets {
  /** Buckets per key: the parallelism of a decomposed scan, and the bound
    * on a census's rows per key. */
  val Buckets = 256L

  /** `df` with the bucket id `b` of `t` within `key` and the per-key
    * aggregates `extra` (named by the caller). Without `hint` the planner
    * picks the join's build side from its size estimates. */
  def assign(df: DataFrame, key: String, t: String, extra: Seq[Column] = Nil,
      hint: Boolean = true): DataFrame =
    bucketed(df, df.groupBy(key).agg(min(col(t)).as("tmin"), max(col(t)).as("tmax") +: extra: _*),
      key, t, hint)

  /** `df` with the bucket id `b` of `t` from a per-key span frame
    * (`key`, tmin, tmax and any other per-key columns); tmin and tmax are
    * dropped. */
  def bucketed(df: DataFrame, spans: DataFrame, key: String, t: String,
      hint: Boolean = true): DataFrame =
    (if (hint) perKey(df, spans, key) else df.join(spans, Seq(key)))
      .withColumn("b", expr(s"($t - tmin) * $Buckets div (tmax - tmin + 1)"))
      .drop("tmin", "tmax")

  /** `df` joined with a per-key aggregate: one row per bounded key, so the
    * hint never broadcasts a corpus-sized side. */
  def perKey(df: DataFrame, agg: DataFrame, key: String): DataFrame =
    df.join(broadcast(agg), Seq(key))

  /** `rows` hash-partitioned on (key, b) into N partitions. */
  def partitioned(rows: DataFrame, key: String): DataFrame =
    rows.repartition(rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key), col("b"))

  /** The bucket-local `windows` over `rows` partitioned on (key, b), lazily
    * checkpointed. */
  def local(rows: DataFrame, key: String)(windows: DataFrame => DataFrame): DataFrame =
    windows(partitioned(rows, key)).localCheckpoint(false)

  /** The census window of `key`'s buckets before the current one, in
    * `bucket` order. */
  def earlier(key: String, bucket: String = "b"): WindowSpec =
    Window.partitionBy(key).orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)

  /** The census window of `key`'s buckets after the current one, nearest
    * first. */
  def later(key: String): WindowSpec =
    Window.partitionBy(key).orderBy(desc("b")).rowsBetween(Window.unboundedPreceding, -1)

  /** Σ `c` over the earlier buckets: 0 for a key's first bucket. */
  def offset(c: Column, key: String, bucket: String = "b"): Column =
    coalesce(sum(c).over(earlier(key, bucket)), lit(0L))

  /** Bucket-local rank `li` plus the census: `own` is `local` with the
    * global 1-based row index i = start(b) + li − 1, and `census` holds
    * (key, b, start, cb), cb the bucket's row count. */
  def indexed(local: DataFrame, key: String): (DataFrame, DataFrame) = {
    val census = local.groupBy(key, "b").agg(count(lit(1)).as("cb"))
      .withColumn("start", offset(col("cb"), key) + 1L)
      .select(key, "b", "start", "cb")
    (local.join(census, Seq(key, "b")).withColumn("i", col("start") + col("li") - 1L), census)
  }

  /** The rows of `own` (from [[indexed]]) as groups `gb` for a ROWS-bounded
    * window reaching `width` rows back: each row in its own bucket
    * (ctx = false), and each row within `width` of its bucket's end again
    * as non-scoring context (ctx = true) in every bucket whose start lies
    * in (i, i + width]. Only such rows can precede a later bucket's start
    * by ≤ width, so the explode is census-sized, and the match against
    * the census starts stays exact when a bucket in between holds fewer
    * than `width` rows. A window over (key, gb) ordered by i then gives
    * each own row the values of the per-key window. */
  def withContext(own: DataFrame, census: DataFrame, key: String, cols: Seq[Column],
      width: Int): DataFrame = {
    val ownK = own.select(cols :+ col("b").as("gb") :+ lit(false).as("ctx"): _*)
    val ctxK = own.filter(col("li") > col("cb") - width)
      .withColumn("tstart", explode(expr(s"sequence(i + 1, i + $width)")))
      .join(census.select(col(key), col("start").as("tstart"), col("b").as("tb")),
        Seq(key, "tstart"))
      .select(cols :+ col("tb").as("gb") :+ lit(true).as("ctx"): _*)
    ownK.union(ctxK)
  }

  /** Per-key lag-1 of `lagCols` in `ordCols` order: the input columns plus
    * `li` and `prev_<c>` per lag column, NULL on each key's first row —
    * lag(c) OVER (PARTITION BY key ORDER BY ordCols). `rows` carries `b`
    * from [[assign]] on the leading order column.
    *
    * At scale the lag is bucket-local, and each bucket's first row takes
    * its predecessor from a census of each non-empty bucket's last row,
    * lagged one census row: the census holds only non-empty buckets, so
    * the lag lands on the previous non-empty one. Below the scale gate
    * (`atScale`, the caller's [[PlanStats.atScale]] on its input) it is one
    * plain per-key window, and `li` is the global rank. */
  def lag1(rows: DataFrame, key: String, ordCols: Seq[String], lagCols: Seq[String],
      atScale: Boolean): DataFrame = {
    val ord = ordCols.map(col)
    def lagged(in: DataFrame, w: WindowSpec, suffix: String): DataFrame =
      lagCols.foldLeft(in.withColumn("li", row_number().over(w))) {
        (df, c) => df.withColumn(s"prev_$c$suffix", lag(col(c), 1).over(w))
      }
    if (!atScale) return lagged(rows, Window.partitionBy(key).orderBy(ord: _*), "")
    val here = local(rows, key)(lagged(_, Window.partitionBy(key, "b").orderBy(ord: _*), "_l"))
    val hand = here.groupBy(key, "b")
      .agg(max_by(struct(lagCols.map(col): _*), struct(ord: _*)).as("last_row"))
      .withColumn("hand", lag(col("last_row"), 1).over(Window.partitionBy(key).orderBy("b")))
      .select(col(key) +: col("b") +: lagCols.map(c => col(s"hand.$c").as(s"prev_${c}_h")): _*)
    lagCols.foldLeft(here.join(hand, Seq(key, "b"))) { (df, c) =>
      df.withColumn(s"prev_$c",
        when(col("li") === 1, col(s"prev_${c}_h")).otherwise(col(s"prev_${c}_l")))
    }.drop(lagCols.map(c => s"prev_${c}_l") ++ lagCols.map(c => s"prev_${c}_h"): _*)
  }

  /** The two-sided CUSUM statistics sh and sl per row of `rows`, from its
    * high and low drifts `dh` and `dl` in `ord` order within `key`. The
    * recurrence S_i = max(0, S_{i−1} + d_i) has the closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) over the drift prefix sum P. At
    * scale `rows` is partitioned by [[partitioned]] and keeps `key`, b,
    * `keep`, dh and dl: the prefix sum and prefix min run per bucket, and
    * the census gives each bucket its offset off(b) (Σ of earlier buckets'
    * drifts) and the running min pm(b) of earlier buckets' full prefixes,
    * so P_i = off(b) + lp(i) and min_{j≤i} P_j = least(pm(b), off(b) +
    * lmin(i)); least() skips the NULL pm of a first bucket. Below the gate
    * it is one per-key window over all of `rows`. */
  def cusum(rows: DataFrame, key: String, ord: Seq[String], keep: Seq[String],
      atScale: Boolean): DataFrame = {
    def closed(p: Column, pmin: Column): Column = p - least(pmin, lit(0L))
    if (!atScale) {
      val w = Window.partitionBy(key).orderBy(ord.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return rows
        .withColumn("ph", sum(col("dh")).over(w))
        .withColumn("pl", sum(col("dl")).over(w))
        .withColumn("sh", closed(col("ph"), min(col("ph")).over(w)))
        .withColumn("sl", closed(col("pl"), min(col("pl")).over(w)))
    }
    val lw = Window.partitionBy(key, "b").orderBy(ord.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // only what the census and the join-back read: the checkpoint write is
    // the wall cost here
    val here = rows
      .withColumn("lph", sum(col("dh")).over(lw))
      .withColumn("lpl", sum(col("dl")).over(lw))
      .withColumn("lmh", min(col("lph")).over(lw))
      .withColumn("lml", min(col("lpl")).over(lw))
      .select((Seq(key, "b") ++ keep ++ Seq("dh", "dl", "lph", "lpl", "lmh", "lml")).map(col): _*)
      .localCheckpoint(false)
    val census = here.groupBy(key, "b").agg(
      sum(col("dh")).as("sdh"), sum(col("dl")).as("sdl"),
      min(col("lph")).as("bmh"), min(col("lpl")).as("bml"))
      .withColumn("offh", offset(col("sdh"), key))
      .withColumn("offl", offset(col("sdl"), key))
      .withColumn("pmh", min(col("offh") + col("bmh")).over(earlier(key)))
      .withColumn("pml", min(col("offl") + col("bml")).over(earlier(key)))
      .select(key, "b", "offh", "offl", "pmh", "pml")
    here.join(census, Seq(key, "b"))
      .withColumn("sh", closed(col("offh") + col("lph"),
        least(col("pmh"), col("offh") + col("lmh"))))
      .withColumn("sl", closed(col("offl") + col("lpl"),
        least(col("pml"), col("offl") + col("lml"))))
  }
}
