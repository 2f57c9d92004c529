package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables.
  *
  * Plain `spark.read.parquet` so Catalyst's parquet source handles
  * predicate pushdown, column pruning and (on a real lake) partition
  * pruning — the scan-side optimizations the reference delegates to
  * ClickHouse's parquet reader (reference: README.md "Query Logs").
  */
object Tables {

  /** `<dir>/<name>.parquet` with its schema declared up front.
    *
    * Left to infer, `spark.read.parquet` starts a Spark job (a
    * one-task `parallelize` that reads one footer) on every call: ~70
    * ms against ~8 ms declared, and a curate chain reads a table per
    * operator call. The schema is instead read here, on the driver,
    * from the one footer Spark's non-merging inference would read:
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path, skipping `_`/`.` names as Spark's file index does
    * ([[Footers.schema]]); partition columns are still found by Spark
    * from the directory names. Not memoized: every new shard
    * would miss a memo, and one footer read costs less than the
    * listing signature a memo would need. A missing or empty path, or
    * a session that merges schemas, is read by Spark unchanged, so it
    * raises Spark's own error.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else Footers.schema(spark, new Path(path))
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` tolerates every parquet timestamp encoding the
    * reference stack produces (reference: README.md:94 — otlp2parquet
    * writes DateTime64(6)-equivalent µs timestamps, isAdjustedToUTC=0):
    *
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=0) → Spark 4 infers
    *    TIMESTAMP_NTZ; the session TZ is pinned UTC everywhere
    *    (GraftSession), so `cast(TimestampType)` is an exact relabel —
    *    no instant shifts, and `unix_micros`/`window`/watermarks work.
    *  - TIMESTAMP(NANOS) → Spark reads a nanos long
    *    (spark.sql.legacy.parquet.nanosAsLong); truncate to µs,
    *    matching DuckDB's µs-precision TIMESTAMP.
    *  - TIMESTAMP(MICROS, adjusted) → already TimestampType, pass-through.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Schema-tolerant ts normalization (see [[events]]); applied at the
    * load seam so every downstream operator sees one `TimestampType`
    * column regardless of the writer's parquet flavor.
    */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema(tsCol).dataType match {
      case LongType         => raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType => raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _                => raw
    }
  }

  /** Events restricted to [from, until) — the time predicate is applied
    * to the RAW nanos column so it reaches the parquet scan
    * (row-group/page pruning at 100 TB). A filter on the converted
    * timestamp sits above a projection and never pushes down; the
    * conversion is monotonic, so filtering raw ns with the equivalent
    * bounds is exact.
    */
  def eventsBetween(s: SparkSession, d: String, fromIso: String, untilIso: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val raw = table(s, d, "events")
    def nanos(iso: String): Long =
      java.time.LocalDateTime.parse(iso + "T00:00:00")
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
    val filtered =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.filter(col("ts") >= nanos(fromIso) && col("ts") < nanos(untilIso))
      else
        // String bounds coerce to the column's own timestamp flavor
        // (TIMESTAMP or TIMESTAMP_NTZ) so the comparison still reaches
        // the parquet scan as a pushed filter.
        raw.filter(col("ts") >= lit(fromIso) && col("ts") < lit(untilIso))
    normalizeTs(filtered)
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** One-call SQL surface: every table as a temp view (events with the
    * µs timestamp already surfaced) plus the `graft_*` native functions
    * — after this, the entire engine is drivable from plain
    * `spark.sql("...")`, the way the reference's users drive ClickHouse.
    * Registered lakes join in via
    * `LogSync.table(s, root).createOrReplaceTempView("logs")`.
    */
  def registerViews(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(n => table(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events")
    documents(s, d).createOrReplaceTempView("documents")
    embeddings(s, d).createOrReplaceTempView("embeddings")
    graft.functions.VectorFunctions.register(s)
  }
}
