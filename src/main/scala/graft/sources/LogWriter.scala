package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.internal.SQLConf

/** Partitioned parquet lake writer — the reference's
  * `logs/<service>/year=/month=/day=/hour=` S3 layout
  * (reference README.md "Manual Registration", scripts/sync-logs.sh).
  *
  * Partitioning by (service_name, year, month, day, hour) means the
  * reference's dashboard queries (time window + service) become pure
  * partition pruning at 100 TB: the scan touches only the matching
  * hour directories. `maxRecordsPerFile` bounds file size the way the
  * reference's converter batches at 200k rows / 128 MB.
  *
  * Lake files store `timestamp` as INT64 `TIMESTAMP(MICROS,
  * isAdjustedToUTC=true)`, as the reference's otlp2parquet does and as
  * the Iceberg spec stores `timestamptz`, so every file's footer
  * carries the time column's min/max and null count and
  * [[LogSync.sync]] registers it from the footer alone. Every lake
  * data-file write goes through [[lakeWriter]] for that encoding.
  */
object LogWriter {

  val DefaultMaxRecordsPerFile = 200000L

  /** Full reference layout. Right when each hourly×service cell holds
    * file-sized data (the 100 TB case).
    */
  val HourlyLayout: Seq[String] = Seq("service_name", "year", "month", "day", "hour")

  /** Day-granularity layout (`hour` stays a data column, still usable
    * for row-group pruning). Partition granularity must be sized to
    * data volume: hourly partitioning of a small corpus produces one
    * tiny file per cell, and at query time per-file open cost dwarfs
    * the data — the classic small-files failure.
    */
  val DailyLayout: Seq[String] = Seq("service_name", "year", "month", "day")

  def write(logs: DataFrame, path: String,
            maxRecordsPerFile: Long = DefaultMaxRecordsPerFile,
            layout: Seq[String] = HourlyLayout): Unit = {
    // a LAYOUT-RENAMED lake keeps its physical directory keys forever
    // (the rename is a read-side alias — LakeEvolve `layout` entries);
    // a producer naturally holds the CURRENT logical name, so resolve
    // both the frame's columns and the requested layout back to the
    // physical keys here — otherwise this append would mint a second
    // key name (`service=` dirs beside `service_name=`) and every
    // later root scan would die in partition discovery
    val spark = logs.sparkSession
    val st = LakeEvolve.state(spark, path)
    val physLogs = LakeEvolve.toPhysicalLayout(logs, st)
    val physLayout = st.map(s => layout.map(s.dirKeyOf)).getOrElse(layout)
    val partitioned = physLogs
      .withColumn("year", year(col("timestamp")))
      .withColumn("month", month(col("timestamp")))
      .withColumn("day", dayofmonth(col("timestamp")))
      .withColumn("hour", hour(col("timestamp")))
      // co-locate each partition's rows so one task writes one file per
      // partition dir instead of every task writing to every dir
      .repartition(physLayout.map(col): _*)
    lakeWriter(partitioned)
      .mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(physLayout: _*)
      .parquet(path)
  }

  /** `df.write` for a lake data file: the write runs in a child session
    * of `df`'s session that sets only
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`. Parquet's
    * write path reads the session conf, not a per-write option, and the
    * caller's conf is never touched: a session default would change
    * every other parquet the session writes (query outputs DuckDB
    * compares as INT96 `TIMESTAMP`). The frame is rebuilt from its
    * analyzed plan, so a plan the caller cached is still read from the
    * shared cache. One child per session, re-cloned when the caller's
    * conf has changed since.
    */
  private[sources] def lakeWriter(df: DataFrame): DataFrameWriter[Row] =
    GraftSqlBridge.ofRows(microsSession(df.sparkSession), GraftSqlBridge.analyzed(df)).write

  // (the caller's conf when cloned, the child) per caller session
  private val microsSessions =
    graft.SessionCaches.memo[Unit, (Map[String, String], SparkSession)]()

  private def microsSession(spark: SparkSession): SparkSession = {
    val conf = spark.conf.getAll
    microsSessions.refresh(spark, ())(_._1 == conf) {
      val child = GraftSqlBridge.cloneSession(spark)
      child.conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      (conf, child)
    }._2
  }
}
