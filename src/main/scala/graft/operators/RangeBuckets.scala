package graft.operators

import scala.collection.immutable.ListMap

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
  *  - [[local]]: the bucket-local windows, on a stream partitioned on
  *    (key, b) and then checkpointed. The stream is [[partitioned]], or a
  *    persisted memo built partitioned (its scan keeps the partitioning).
  *    The partition count N is the session's `spark.sql.shuffle.partitions`,
  *    given explicitly: the window's own exchange carries well-compressed
  *    integers, AQE coalesces it toward one partition and the decomposed
  *    window runs serial, while a repartition with an explicit count is
  *    never coalesced. The window runs before the checkpoint because the
  *    checkpoint's `LogicalRDD` does not advertise its partitioning: a
  *    window read from a checkpoint shuffles the corpus again.
  *  - The carry: a census is an aggregate per (key, b), at most
  *    |keys| × Buckets rows at any scale, and [[earlier]] is the window
  *    over the key's earlier buckets in which a census computes each
  *    bucket's carry-in ([[offset]], a running min, a last non-null, the
  *    last rows of [[lags]]). Joined back on (key, b), the census turns
  *    local values into global ones, and nothing after the local window
  *    moves the corpus.
  *
  * Storage contract: [[local]] takes a lazy `localCheckpoint`, because the
  * windowed stream feeds both the census and the join-back; a decomposed
  * operator takes one per local window ([[lags]] and [[cusum]] one each),
  * plus any its own multi-consumer stages need. Building the frame plans
  * the windowed subtree (under AQE that runs the shuffle stages below it,
  * none when the stream is a warmed memo); the checkpoint's blocks are
  * written by the first action that reads them and stay until the caller
  * unpersists the RDD or the session ends. In a bench pass
  * `Bench.timeQuery` unpersists what each query left. Nothing else owns
  * them: `qc_batch`'s traced pass books its three at-scale QC queries'
  * checkpoints as leaked RDDs, until a per-query memo scope owns them.
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

  /** The bucket-local `windows` over `rows`, a stream partitioned on
    * (key, b), lazily checkpointed. */
  def local(rows: DataFrame)(windows: DataFrame => DataFrame): DataFrame =
    windows(rows).localCheckpoint(false)

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

  /** The name of lag `j` of column `c` in the output of [[lags]]. */
  def lagName(c: String, j: Int): String = s"${c}_lag$j"

  /** The ROWS-bounded carry: per-key lags 1 to `width` of each of `cols`
    * in `ord` order, lag(c, j) OVER (PARTITION BY key ORDER BY ord), NULL
    * where the key has fewer than j earlier rows, named [[lagName]](c, j),
    * plus the 1-based row index `i` = row_number() over the same window.
    * The other columns of `rows` pass through. Below the scale gate
    * (`atScale`, the caller's [[PlanStats.atScale]] on its input) it is
    * one plain per-key window.
    *
    * At scale `rows` carries `b` from [[assign]] on the leading order
    * column and is partitioned on (key, b). The lag chain and the local
    * rank li run in the [[local]] window. A census row per non-empty
    * (key, b), the bucket's last row, holds its row count cb and its last
    * min(cb, width) rows, the last one first, read from that row's lags.
    * A bucket's carry-in is the concatenation of the tails of the `width`
    * non-empty buckets before it, nearest first:
    * each holds at least one row, so together they reach `width` rows back
    * wherever the key has that many. Joined back under the census
    * broadcast, the row at local rank li takes lag j from its own bucket
    * when li > j and from carry-in element j − li otherwise. */
  def lags(rows: DataFrame, key: String, ord: Seq[Column], cols: Seq[String], width: Int,
      atScale: Boolean): DataFrame = {
    def chained(in: DataFrame, w: WindowSpec): DataFrame =
      in.withColumns(ListMap(cols.flatMap(c =>
        (1 to width).map(j => lagName(c, j) -> lag(col(c), j).over(w))): _*))
    if (!atScale) {
      val w = Window.partitionBy(key).orderBy(ord: _*)
      return chained(rows.withColumn("i", row_number().over(w).cast("long")), w)
    }
    val lw = Window.partitionBy(key, "b").orderBy(ord: _*)
    val here = local(rows)(in => chained(in.withColumn("li", row_number().over(lw)), lw)
      .withColumn("last", lead(col("li"), 1).over(lw).isNull))
    // the row `j` back from the bucket's last row, as a struct of `cols`
    def back(j: Int): Column =
      struct(cols.map(c => (if (j == 0) col(c) else col(lagName(c, j))).as(c)): _*)
    val cw = Window.partitionBy(key).orderBy("b")
    // a bucket's last row holds its count and, in its local lags, its
    // tail. Each group holds that one row; grouping keeps the census an
    // aggregate output, which is how ExplainDump's bounded-window audit
    // tells the census window below from a window over the corpus
    val census = here.filter(col("last")).groupBy(key, "b").agg(
        max(col("li")).cast("long").as("cb"),
        max(slice(array((0 until width).map(back): _*), lit(1), least(col("li"), lit(width))))
          .as("tail"))
      .withColumn("start", offset(col("cb"), key) + 1L)
      // a key's first buckets have fewer than `width` predecessors: their
      // NULL tails drop out of the concatenation
      .withColumn("carry", slice(flatten(array_compact(array(
        (1 to width).map(m => lag(col("tail"), m).over(cw)): _*))), 1, width))
      .select(key, "b", "start", "carry")
    val carried = struct(cols.flatMap(c => (1 to width).map(j =>
      when(col("li") > j, col(lagName(c, j)))
        .otherwise(get(col("carry"), lit(j) - col("li")).getField(c)).as(lagName(c, j)))): _*)
    // the lags leave through a one-row generator: a consumer's filter over
    // them stays above it instead of being rewritten, through the join,
    // into a join condition that evaluates every switch it references
    // (ds_rolling_z's flag test holds the 16-term sums four times)
    here.join(broadcast(census), Seq(key, "b"))
      .select((rows.columns.map(col) :+ (col("start") + col("li") - 1L).as("i")) :+
        inline(array(carried)): _*)
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
    val here = local(rows)(_
      .withColumn("lph", sum(col("dh")).over(lw))
      .withColumn("lpl", sum(col("dl")).over(lw))
      .withColumn("lmh", min(col("lph")).over(lw))
      .withColumn("lml", min(col("lpl")).over(lw))
      .select((Seq(key, "b") ++ keep ++ Seq("dh", "dl", "lph", "lpl", "lmh", "lml")).map(col): _*))
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
