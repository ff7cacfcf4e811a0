package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Catalog loader for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All graft queries take a scale-factor directory and read tables through
  * here so that the read path (vectorized parquet scan, pushdown, pruning)
  * is uniform. At 100 TB the same call works against a partitioned table
  * root — Spark's parquet source handles directory-of-files transparently.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer-schema memo. `spark.read.parquet(path)` re-infers the schema
    * on every call: it lists the path and runs a one-task Spark job that
    * reads the footer, ~100 ms a table on 4 vCPUs, and the bench times
    * query construction. A production engine resolves table schemas from
    * a catalog/metastore once, not per query; this memo is that catalog
    * for the fixture tables. Keyed by full path and the confs below;
    * caches metadata only — every query still lists and scans the parquet
    * data itself.
    *
    * The memo is filled without a job: for a single parquet file (every
    * fixture table) the schema comes from the file's footer, read on the
    * driver and converted as Spark's inference converts it
    * ([[org.apache.spark.sql.graft.Shims.parquetFileSchema]]); ten tables
    * register in ~0.1 s instead of ~1 s. A directory still goes through
    * `spark.read.parquet(path).schema`: only Spark's inference discovers
    * partition columns (`k=v` subdirectories) and merges part-file
    * footers. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  // the session confs that change what parquet inference returns
  // (nanosAsLong decides whether a TIMESTAMP(NANOS) column arrives as
  // long, inferTimestampNTZ whether isAdjustedToUTC=false becomes NTZ,
  // binaryAsString whether an unannotated BINARY column becomes a string,
  // int96AsTimestamp whether INT96 becomes a timestamp,
  // respectUnknownTypeAnnotation how a column with an unknown logical
  // type converts, and caseSensitive how column names resolve) — a
  // path-only key would let the first session's inference poison a later
  // differently-configured session's reads
  private[graft] val schemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = schemaConfs.map(spark.conf.get(_)).mkString("", "|", "|" + path)
    val schema = schemaCache.computeIfAbsent(key, _ =>
      Shims.parquetFileSchema(spark, path).getOrElse(spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Normalize `events.ts` to session-timezone TimestampType whatever the
    * fixture generation wrote: parquet TIMESTAMP(NANOS) arrives as a long
    * (spark.sql.legacy.parquet.nanosAsLong=true — set by Session / Verify /
    * Bench) and is floored to µs like DuckDB's ns→µs conversion; a
    * TIMESTAMP_NTZ column (isAdjustedToUTC=false) is reinterpreted as the
    * same wall clock in the session's UTC zone — the reading DuckDB's naive
    * TIMESTAMP gets. Watermarks/event-time ops require TimestampType, so
    * every reader — batch catalog or streaming over the same parquet
    * (q125's shape) — goes through here. */
  def withEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    withEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
