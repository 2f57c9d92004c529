package graft.sources

import java.util.concurrent.TimeUnit

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SaveMode, SparkSession}
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

  /** Appends `logs` to the lake at `path`, partitioned by `layout`, and
    * returns the rows written. Rows are repartitioned by the layout
    * columns into `min(spark.sql.shuffle.partitions, default
    * parallelism)` tasks, a count AQE does not coalesce, so the write
    * uses every core and no more tasks than there are cores (both are
    * the core count under [[graft.GraftSession]], the only setting
    * measured). All rows of one partition directory
    * still meet in one task, so each directory gets one file per write,
    * capped at `maxRecordsPerFile` rows. The row count is observed by
    * the write job itself, so counting starts no job.
    */
  def write(logs: DataFrame, path: String,
            maxRecordsPerFile: Long = DefaultMaxRecordsPerFile,
            layout: Seq[String] = HourlyLayout): Long =
    observedRows(commit(logs, path, maxRecordsPerFile, layout))

  /** [[write]]'s commit: returns once the batch's files are committed,
    * with the observation its row count arrives on ([[observedRows]]).
    */
  private[graft] def commit(logs: DataFrame, path: String,
                            maxRecordsPerFile: Long = DefaultMaxRecordsPerFile,
                            layout: Seq[String] = HourlyLayout): Observation = {
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
      .repartition(math.min(spark.sessionState.conf.numShufflePartitions,
        spark.sparkContext.defaultParallelism), physLayout.map(col): _*)
    val observed = Observation()
    lakeWriter(partitioned, Some(observed))
      .mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(physLayout: _*)
      .parquet(path)
    observed
  }

  /** The row count a [[commit]] observed. Its metrics arrive through the
    * listener bus right after the write job ends.
    */
  private[graft] def observedRows(observed: Observation): Long =
    Await.result(observed.future, Duration(10, TimeUnit.MINUTES)).getLong(0)

  /** `df.write` for a lake data file: the write runs in a child session
    * of `df`'s session that sets only
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`. Parquet's
    * write path reads the session conf, not a per-write option, and the
    * caller's conf is never touched: a session default would change
    * every other parquet the session writes (query outputs DuckDB
    * compares as INT96 `TIMESTAMP`). The frame is rebuilt from its
    * analyzed plan, so a plan the caller cached is still read from the
    * shared cache. One child per session, re-cloned when the caller's
    * conf has changed since. `observed` counts the rows the write job
    * writes: it is attached to the frame the child session runs, whose
    * listeners complete it.
    */
  private[sources] def lakeWriter(df: DataFrame,
                                  observed: Option[Observation] = None): DataFrameWriter[Row] = {
    val child = GraftSqlBridge.ofRows(microsSession(df.sparkSession), GraftSqlBridge.analyzed(df))
    observed.fold(child)(o => child.observe(o, count(lit(1)).as("rows"))).write
  }

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
