package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver testdata (TESTDATA.md / FIXTURES.md §A).
  *
  * All queries resolve their inputs through here so that schema quirks are
  * handled in exactly one place. Notable quirk: `events.parquet` stores
  * `ts` as parquet TIMESTAMP(NANOS) which Spark's vectorized parquet reader
  * does not map to TimestampType — see [[Tables.events]].
  */
object Tables {

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Parquet-footer schema, memoized per path (r21). A bare
    * `spark.read.parquet(p)` runs a schema-inference JOB on every call
    * (~90-130 ms measured on this harness — one 1-task footer-read job
    * plus its scheduling), and the engine constructs each registered
    * query's inputs fresh on every invocation, so the sweep was paying
    * that job hundreds of times for byte-identical footers. Caching the
    * STRUCTTYPE (metadata only — the catalog/metastore posture every
    * production deployment already has; data is still scanned from
    * parquet on every execution) and constructing reads with
    * `spark.read.schema(cached)` skips the inference job. Safe because
    * every cached path is immutable once written: the driver testdata,
    * and the scratch/landed artifacts (unique dir per materialization).
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  def parquet(spark: SparkSession, p: String): DataFrame = {
    val sc = schemaCache.computeIfAbsent(p, q => spark.read.parquet(q).schema)
    spark.read.schema(sc).parquet(p)
  }

  /** Forget the cached schemas of `dir` and of every path under it:
    * a deleted scratch dir must not keep its entry, or the cache grows
    * with every materialization of an iterative operator. */
  private[graft] def evictSchemas(dir: java.nio.file.Path): Unit =
    schemaCache.keySet.removeIf(k =>
      java.nio.file.Paths.get(k).normalize().startsWith(dir))

  /** Whether `p`'s schema is cached (for tests). */
  private[graft] def schemaCached(p: String): Boolean = schemaCache.containsKey(p)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case _        => parquet(spark, path(sfDir, name))
    }

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** `events` with `ts` normalized to a proper TimestampType column (UTC).
    *
    * The driver generates `ts` as parquet TIMESTAMP(NANOS,…). Spark reads
    * that physical INT64 either as LongType (with
    * `spark.sql.legacy.parquet.nanosAsLong=true`) or not at all, so we read
    * nanos as long and convert to microsecond TimestampType ourselves.
    * DuckDB reads the same column natively as TIMESTAMP_NS; truncation to
    * micros is exact for this data (driver generates ms-precision values).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Runtime-settable legacy conf: physical INT64 TIMESTAMP(NANOS) → LongType
    // (needed both for the one-time schema inference and at scan time)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, path(sfDir, "events"))
    val tsField = raw.schema("ts").dataType
    val withTs = tsField.typeName match {
      case "long" =>
        // nanos-as-long: convert to micros and stamp as UTC timestamp.
        // Integer DIV, not `/`: double division loses precision above
        // 2^53 (nanosecond epochs are ~1.7e18) → off-by-one micros.
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000L")))
      case "timestamp_ntz" =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    withTs.select(
      col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
  }
}
