package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver testdata plus a reader for the
  * reference's own JSON series format.
  *
  * Loaders are thin on purpose: `spark.read.parquet` hands Catalyst a
  * relation it can push filters and column pruning into — wrapping it in
  * anything eager would defeat that. Each operator selects only the columns
  * it needs, so `ReadSchema` in the physical plan stays minimal.
  */
object Tables {
  /** Memoized table resolution — the batch-library analogue of a metastore's
    * catalog cache. `spark.read.parquet` eagerly lists the directory and
    * reads a footer for schema inference at DataFrame CREATION time; a
    * workload that runs many queries against the same tables (Bench/Verify
    * run 180) pays that listing+inference cost once per query unless the
    * resolved relation is reused. The cache holds the analyzed leaf
    * (LogicalRelation + InMemoryFileIndex) per (session, dir, table) — it
    * caches METADATA only, never data, exactly like `spark.table` against a
    * catalog. Keyed on the session itself (as `Memo` is), so a stopped
    * session's relations are never served to a new one; `invalidate()`
    * drops everything for callers whose underlying files changed.
    */
  private val relationCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def invalidate(): Unit = relationCache.clear()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relationCache.getOrElseUpdate((spark, sfDir, name), spark.read.parquet(s"$sfDir/$name.parquet"))

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  /** events.ts in the driver testdata is parquet TIMESTAMP(NANOS) — Spark
    * reads it as a nanos long (spark.sql.legacy.parquet.nanosAsLong);
    * truncate to micros exactly like engines with micro timestamps (e.g.
    * DuckDB) do when reading the file. Files that already carry micro
    * timestamps (the common case for user data) pass straight through —
    * NTZ variants are cast to the session (UTC) timestamp type.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val df = load(spark, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Schema of the reference's per-compound JSON arrays
    * (/root/reference/example/data/ethane.json): epoch-seconds `date` /
    * `meas_date`, a `value`, a uniqueness salt (`flask_number`), and numeric
    * plot attributes. Kept permissive — extra fields are simply not read
    * (column pruning at the source).
    */
  val seriesSchema: StructType = StructType(Seq(
    StructField("date", DoubleType),
    StructField("meas_date", DoubleType),
    StructField("value", DoubleType),
    StructField("flask_number", StringType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("day", IntegerType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("alt", DoubleType)
  ))

  /** Read one reference-shaped JSON series file as the generic graft model
    * `(series, epoch, salt, value, ...attrs)`. `multiLine = true` because the
    * reference files are one JSON array per compound, not JSON-lines.
    * The compound name is injected (it lives in the filename/config, not the
    * records — /root/reference/example/config.js JSONFiles map).
    */
  def seriesJson(spark: SparkSession, path: String, compound: String): DataFrame =
    spark.read
      .schema(seriesSchema)
      .option("multiLine", "true")
      .json(path)
      .select(
        lit(compound).as("series"),
        col("date").as("epoch"),
        col("flask_number").as("salt"),
        col("value"),
        col("year"), col("month"), col("day"),
        col("lat"), col("lon"), col("alt")
      )

  /** Schema of the `documents` model for text-corpus ingestion. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Read a JSON-lines corpus (one document object per line — the common
    * crawl/training-data interchange format) as the `documents` model.
    * An explicit schema means no inference pass over 100 TB, and splittable
    * line-delimited JSON parallelizes across input splits like any text
    * source. Missing optional fields read as NULL; extra fields are never
    * parsed (pruned at the source).
    */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(documentsSchema).json(path)
}
