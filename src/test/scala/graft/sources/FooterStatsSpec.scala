package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Registration from parquet footers. [[LogSync.statsFor]] reads a new
  * file's manifest stats from its footer on the driver where it can, and
  * must give exactly the rows [[LogSync.scanStats]]' Spark scan gives,
  * on every lake shape a round can list. A sync writes its rows through
  * to the held registry, which must always equal a fresh collect. Lake
  * files are µs `TIMESTAMP` with statistics, written without touching
  * the caller session's conf.
  */
class FooterStatsSpec extends graft.SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def jobsOf(f: => Any): Seq[String] = graft.SparkJobs.during(spark)(f)._2

  private val services = Seq("a", "a/b", "x y", "k=v", "e%", "zz")

  // rows [from, until): one per minute; `nullTs` picks the rows whose
  // timestamp is null; the service cycles through `svcs`
  private def rows(from: Long, until: Long, svcs: Seq[String] = services,
                   nullTs: Column => Column = _ => lit(false), files: Int = 2): DataFrame =
    spark.range(from, until, 1, files).select(
      when(nullTs(col("id")), lit(null).cast("timestamp"))
        .otherwise(timestamp_millis(lit(1700000000000L) + col("id") * 60000)).as("timestamp"),
      element_at(array(svcs.map(lit): _*), (col("id") % svcs.length + 1).cast("int"))
        .as("service_name"),
      lit("INFO").as("severity_text"),
      concat(lit("s"), col("id")).as("span_id"),
      lit("x").as("body"))

  private def lakeWrite(df: DataFrame, root: String, keys: String*): Unit =
    LogWriter.lakeWriter(df).mode("append").partitionBy(keys: _*).parquet(root)

  private def int96Write(df: DataFrame, root: String, keys: String*): Unit =
    df.write.mode("append").partitionBy(keys: _*).parquet(root)

  /** statsFor and the scan agree on every data file under `root`;
    * returns statsFor's jobs (none when the footers served it all).
    */
  private def agree(root: String): Seq[String] = {
    val paths = LogSync.listParquet(spark, root)
    val (byFooter, jobs) = graft.SparkJobs.during(spark)(LogSync.statsFor(spark, root, paths))
    val byScan = LogSync.scanStats(spark, root, paths)
    assert(byScan.size == paths.size, root)
    assert(byFooter == byScan, root)
    assert(byScan.values.exists(r => !r.isNullAt(0) && !r.isNullAt(4)), root)
    jobs
  }

  test("µs lake files are statted from their footers, as the scan stats them") {
    val sometimesNull = (id: Column) => id % 3 === 0
    // hourly and daily layouts, with null timestamps and escaped
    // service directory values
    val hourly = tmp("graft_fstat_hourly")
    LogWriter.write(rows(0, 120, nullTs = sometimesNull), hourly)
    val daily = tmp("graft_fstat_daily")
    LogWriter.write(rows(0, 3000, nullTs = sometimesNull, files = 3), daily,
      layout = LogWriter.DailyLayout)
    // a file whose timestamps are all null, beside ordinary ones
    val allNull = tmp("graft_fstat_null")
    lakeWrite(rows(0, 20, svcs = Seq("n"), nullTs = _ => lit(true), files = 1), allNull,
      "service_name")
    lakeWrite(rows(20, 40), allNull, "service_name")
    // service as a data column: its min/max from the footer's UTF8 stats
    val flat = tmp("graft_fstat_flat")
    lakeWrite(rows(0, 50, nullTs = sometimesNull), flat)
    // several row groups in one file, folded in UTF-8 byte order: U+FFFD
    // sorts below U+1D11E there, above it in Java's UTF-16 order
    val groups = tmp("graft_fstat_groups")
    LogWriter.lakeWriter(rows(0, 3000, svcs = Seq("\uFFFD"), files = 1)
        .withColumn("service_name", when(col("span_id") >= "s2", "\uD834\uDD1E")
          .otherwise(col("service_name"))).orderBy("span_id").coalesce(1))
      .option("parquet.block.size", "8192").mode("append").parquet(groups)
    val groupsFile = LogSync.listParquet(spark, groups)
    assert(groupsFile.length == 1)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(groupsFile.head),
        spark.sessionState.newHadoopConf()))
    try assert(reader.getFooter.getBlocks.size > 1) finally reader.close()
    for (root <- Seq(hourly, daily, allNull, flat, groups)) {
      val jobs = agree(root)
      assert(jobs.isEmpty, s"$root: ${jobs.mkString("\n", "\n", "")}")
    }
    val svcs = LogSync.statsFor(spark, hourly, LogSync.listParquet(spark, hourly)).values
      .map(_.getString(2)).toSet
    assert(svcs == services.toSet)
  }

  test("renames, numeric service values, a layout flip and INT96 files take the scan") {
    // a service directory value Spark types as a number reads as a null
    // string; beside a non-numeric value the same dirs type as strings
    val numeric = tmp("graft_fstat_num")
    lakeWrite(rows(0, 20, svcs = Seq("123", "4.5")), numeric, "service_name")
    assert(agree(numeric).nonEmpty)
    assert(LogSync.scanStats(spark, numeric, LogSync.listParquet(spark, numeric))
      .values.forall(_.isNullAt(2)))
    lakeWrite(rows(20, 30, svcs = Seq("abc")), numeric, "service_name")
    assert(agree(numeric).nonEmpty)
    // one round over two layout generations: the µs group from its
    // footers, the INT96 group by the scan
    val flipped = tmp("graft_fstat_flip")
    lakeWrite(rows(0, 30), flipped, "service_name")
    int96Write(rows(30, 60).withColumn("day", lit(1)), flipped, "day", "service_name")
    assert(agree(flipped).nonEmpty)
    // INT96 and µs files in one directory-key group
    val mixed = tmp("graft_fstat_mix")
    lakeWrite(rows(0, 30), mixed, "service_name")
    int96Write(rows(30, 60), mixed, "service_name")
    assert(agree(mixed).nonEmpty)
    // a time-axis and a service-axis rename: one round may mix names
    val renamed = tmp("graft_fstat_rename")
    lakeWrite(rows(0, 30), renamed, "service_name")
    LogSync.sync(spark, renamed)
    LakeEvolve.renameColumn(spark, renamed, "service_name", "service")
    LakeEvolve.renameColumn(spark, renamed, "timestamp", "event_time")
    lakeWrite(rows(30, 60).withColumnRenamed("timestamp", "event_time"), renamed,
      "service_name")
    assert(agree(renamed).nonEmpty)
  }

  test("a sync writes its rows through to the held registry, and a foreign change is re-read") {
    val root = tmp("graft_fstat_wt")
    // service directory values URI escaping changes, beside plain ones
    val svcs = Seq("a/b", "x y", "k=v", "e%", "e", "f")
    def rows(from: Long, until: Long, files: Int = 2) =
      FooterStatsSpec.this.rows(from, until, svcs, files = files)
    def truth: Seq[Row] = {
      val dir = LogSync.manifestPath(spark, root)
      LogSync.readRegistryParts(spark, dir).collect().toSeq
    }
    def held: Seq[Row] = LogSync.manifestRows(spark, root) match {
      case Left((_, rs)) => rs.toSeq
      case Right(df) => fail(s"registry served distributed: $df")
    }
    def sameRows(a: Seq[Row], b: Seq[Row]) =
      assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
    def syncAndCheck(expect: Int, served: Boolean): Unit = {
      assert(LogSync.sync(spark, root) == expect)
      val (rs, jobs) = graft.SparkJobs.during(spark)(held)
      if (served) assert(jobs.isEmpty, jobs.mkString("\n", "\n", ""))
      sameRows(rs, truth)
    }
    LogWriter.write(rows(0, 40), root, layout = LogWriter.DailyLayout)
    syncAndCheck(expect = 6, served = false) // the first sync holds no rows yet
    held
    LogWriter.write(rows(40, 50, files = 1), root, layout = LogWriter.DailyLayout)
    syncAndCheck(expect = 6, served = true)
    // another session appends and syncs: this session's entry is stale,
    // so its next sync re-reads the registry before appending
    val other = spark.newSession()
    LogWriter.write(rows(50, 56, files = 1), root, layout = LogWriter.DailyLayout)
    LogSync.sync(other, root)
    LogWriter.write(rows(56, 62, files = 1), root, layout = LogWriter.DailyLayout)
    syncAndCheck(expect = 6, served = true)
    // a foreign compaction swaps the manifest version between two syncs
    LogCompact.compact(other, root)
    sameRows(held, truth)
    LogWriter.write(rows(62, 68, files = 1), root, layout = LogWriter.DailyLayout)
    syncAndCheck(expect = 6, served = true)
    // every read returns every row, whatever its directory is named
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val (from, until) = ("2000-01-01", "2100-01-01")
    assert(LogSync.table(spark, root).count() == 68)
    assert(LogSync.tableAsOf(spark, root, now).count() == 68)
    assert(LogSync.tableBetween(spark, root, from, until).count() == 68)
    assert(svcs.map(LogSync.tableFor(spark, root, _, from, until).count()).sum == 68)
    assert(LogSync.tableSince(spark, root, new java.sql.Timestamp(0L)).count() == 68)
  }

  test("lake files store µs timestamps with statistics; the session's own writes keep INT96") {
    val key = "spark.sql.parquet.outputTimestampType"
    val confBefore = spark.conf.getOption(key)
    // (time column type, its row-group stats, codecs) over every file
    def timeColumn(dir: String) = {
      val conf = spark.sessionState.newHadoopConf()
      val footers = LogSync.listParquet(spark, dir).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try reader.getFooter finally reader.close()
      }
      val types = footers.map(_.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == "timestamp").get.asPrimitiveType()).distinct
      val chunks = footers.flatMap(_.getBlocks.asScala).map(
        _.getColumns.asScala.find(_.getPath.toDotString == "timestamp").get)
      (types, chunks.map(_.getStatistics), chunks.map(_.getCodec.name).distinct)
    }
    // a cached frame is written from the cache: the child session shares it
    val evaluated = spark.sparkContext.longAccumulator("rows evaluated")
    val counted = udf { (id: Long) => evaluated.add(1); id }
    val cached = rows(0, 30, nullTs = _ % 4 === 0)
      .withColumn("n", counted(col("span_id").substr(2, 9).cast("long"))).cache()
    cached.count()
    val before = evaluated.value
    val lake = tmp("graft_fstat_enc")
    LogWriter.write(cached, lake)
    assert(evaluated.value == before, "the lake write recomputed a cached frame")
    cached.unpersist()
    val (Seq(t), stats, _) = timeColumn(lake)
    assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    val ann = t.getLogicalTypeAnnotation.asInstanceOf[TimestampLogicalTypeAnnotation]
    assert(ann.getUnit == TimeUnit.MICROS && ann.isAdjustedToUTC)
    // null rows land in their own hour dirs: every row group has a null
    // count, and min/max wherever it holds a value
    assert(stats.forall(_.isNumNullsSet))
    assert(stats.exists(s => s.hasNonNullValue && s.getNumNulls == 0))
    assert(stats.exists(s => !s.hasNonNullValue && s.getNumNulls > 0))
    assert(spark.conf.getOption(key) == confBefore)
    // the session's own parquet writes are untouched
    val plain = tmp("graft_fstat_plain")
    rows(0, 10).write.mode("overwrite").parquet(plain)
    assert(timeColumn(plain)._1.map(_.getPrimitiveTypeName) == Seq(PrimitiveTypeName.INT96))
    // a conf the caller sets later reaches the lake writes
    val codec = "spark.sql.parquet.compression.codec"
    val codecBefore = spark.conf.getOption(codec)
    spark.conf.set(codec, "gzip")
    try {
      val gz = tmp("graft_fstat_gzip")
      LogWriter.write(rows(0, 10), gz)
      val (types, _, codecs) = timeColumn(gz)
      assert(codecs == Seq("GZIP"))
      assert(types.map(_.getPrimitiveTypeName) == Seq(PrimitiveTypeName.INT64))
    } finally codecBefore.fold(spark.conf.unset(codec))(spark.conf.set(codec, _))
    assert(spark.conf.getOption(key) == confBefore)
  }
}
