package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Held-registry reads go through a registry-backed file index over the
  * kept files, and must give exactly what the root scan and its keep-set
  * semi-join give (the path taken past the registry cap, forced here
  * with a cap of 0): the same schema, column order and rows. The index
  * opens only the files whose zone map may satisfy the scan's time
  * predicates, and no held-registry plan joins a keep-set.
  */
class RegistryScanSpec extends graft.SparkSpec with AdaptiveSparkPlanHelper {

  private val CapKey = "graft.lake.registryDriverCacheMaxBytes"
  private val svcs = Seq("plain", "x y", "a/b", "k=v", "e%")

  // rows [from, until): one per 37 minutes, so a lake spans several
  // days and hours; the service cycles through `svcs`
  private def rows(from: Long, until: Long, services: Seq[String] = svcs): DataFrame =
    spark.range(from, until, 1, 2).select(
      timestamp_millis(lit(1700000000000L) + col("id") * 60000 * 37).as("timestamp"),
      element_at(array(services.map(lit): _*), (col("id") % services.length + 1).cast("int"))
        .as("service_name"),
      lit("INFO").as("severity_text"),
      concat(lit("s"), col("id")).as("span_id"),
      concat(lit("t"), col("id")).as("trace_id"),
      concat(lit("w"), col("id") % 7, lit(" common")).as("body"))

  private def append(root: String, from: Long, until: Long,
                     layout: Seq[String] = LogWriter.DailyLayout): java.sql.Timestamp = {
    assert(LogWriter.write(rows(from, until), root, layout = layout) == until - from)
    LogSync.sync(spark, root)
    LogSync.highWaterMark(spark, root).get
  }

  private def ts(id: Long) = new java.sql.Timestamp(1700000000000L + id * 60000 * 37)

  private def byRootScan(read: => DataFrame): DataFrame = {
    spark.conf.set(CapKey, "0")
    try read finally spark.conf.unset(CapKey)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The files the plan's scans opened (their `numFiles` metric). */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  /** Whether the optimized plan joins a `__registered_path` keep-set. */
  private def keepSetJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.right.output.exists(_.name == "__registered_path") => j
    }.nonEmpty

  private def indexed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RegistryFileIndex")

  /** `read` over the held registry equals it over the root scan; the
    * held read runs through the index with no keep-set join. Returns
    * the held read's rows.
    */
  private def agree(what: String)(read: => DataFrame): Seq[String] = {
    val fast = read
    val slow = byRootScan(read)
    assert(fast.schema == slow.schema, what)
    val f = sortedRows(fast)
    assert(f == sortedRows(slow), what)
    assert(!keepSetJoin(fast), s"$what: held read joins a keep-set")
    assert(!indexed(slow), s"$what: the fallback read went through the index")
    if (f.nonEmpty) assert(indexed(fast), what)
    f
  }

  test("every keep-set read equals the root scan on hourly and daily lakes with escaped services") {
    for (layout <- Seq(LogWriter.HourlyLayout, LogWriter.DailyLayout)) {
      val root = tempDir("graft_regscan_layout")
      val m1 = append(root, 0, 40, layout)
      val m2 = append(root, 40, 70, layout)
      LakeDml.upsert(spark, root, rows(65, 75).select(col("*"),
        year(col("timestamp")).as("year"), month(col("timestamp")).as("month"),
        dayofmonth(col("timestamp")).as("day"), hour(col("timestamp")).as("hour")),
        Seq("span_id"))
      val l = layout.length
      assert(agree(s"table $l")(LogSync.table(spark, root)).length == 75)
      assert(agree(s"asOf $l")(LogSync.tableAsOf(spark, root, m1)).length == 40)
      assert(agree(s"since $l")(LogSync.tableSince(spark, root, m1)).length == 30)
      assert(agree(s"upserts $l")(LogSync.upsertsSince(spark, root, m2)).nonEmpty)
      // a window that straddles file boundaries
      val (from, until) = ("2023-11-15", "2023-11-16")
      val between = agree(s"between $l")(LogSync.tableBetween(spark, root, from, until))
      assert(between.nonEmpty && between.length < 75)
      for (svc <- svcs)
        assert(agree(s"for $svc $l")(LogSync.tableFor(spark, root, svc, from, until)).nonEmpty)
      assert(agree(s"empty $l")(LogSync.tableBetween(spark, root, "2030-01-01", "2030-01-02"))
        .isEmpty)
      // a driver path list, with the file identity kept
      val paths = LogSync.registeredDataPaths(spark, root).collect().map(_.getString(0)).toSeq
      val some = paths.sorted.take(3)
      val withSrc = agree(s"paths $l")(
        LogSync.tableForPaths(spark, root, some, keepSrc = true))
      assert(withSrc.nonEmpty)
    }
  }

  test("time travel across a compaction tombstone and a vacuum, with MOR position and equality deletes") {
    import spark.implicits._
    val root = tempDir("graft_regscan_travel")
    val m1 = append(root, 0, 40)
    LogCompact.compact(spark, root)
    val m2 = append(root, 40, 60)
    LakeDml.deleteMor(spark, root, col("span_id").isin("s3", "s45"))
    LakeDml.deleteEq(spark, root, Seq("s7", "s50").toDF("span_id"))
    val now = LogSync.highWaterMark(spark, root).get
    assert(agree("table")(LogSync.table(spark, root)).length == 56)
    assert(agree("asOf m1")(LogSync.tableAsOf(spark, root, m1)).length == 40)
    assert(agree("asOf m2")(LogSync.tableAsOf(spark, root, m2)).length == 60)
    agree("asOf now")(LogSync.tableAsOf(spark, root, now))
    assert(agree("between")(LogSync.tableBetween(spark, root, "2023-11-14", "2023-11-16"))
      .nonEmpty)
    // vacuum removes the compacted-away files: a snapshot before the
    // compaction loses them on both paths alike
    LogCompact.vacuum(spark, root, graceMs = 0)
    agree("asOf m1 vacuumed")(LogSync.tableAsOf(spark, root, m1))
    assert(agree("table vacuumed")(LogSync.table(spark, root)).length == 56)
  }

  test("time predicates prune by zone map in both operand orders; casts and non-literals prune nothing") {
    val root = tempDir("graft_regscan_ops")
    append(root, 0, 30)
    append(root, 30, 60)
    // each file's [min, max] as the data has it, independently of the registry
    val zones = spark.read.option("basePath", root).parquet(root)
      .groupBy(col("_metadata.file_path")).agg(min("timestamp"), max("timestamp"))
      .collect().map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime)).toSeq
    val total = zones.length.toLong
    val t = col("timestamp")
    for (id <- Seq(0L, 17L, 59L)) {
      val v = ts(id)
      val vm = v.getTime
      val cases: Seq[(String, Column, ((Long, Long)) => Boolean)] = Seq(
        ("<", t < v, _._1 < vm), ("<=", t <= v, _._1 <= vm),
        (">", t > v, _._2 > vm), (">=", t >= v, _._2 >= vm),
        ("=", t === v, z => z._1 <= vm && vm <= z._2),
        ("lit <", lit(v) < t, _._2 > vm), ("lit <=", lit(v) <= t, _._2 >= vm),
        ("lit >", lit(v) > t, _._1 < vm), ("lit >=", lit(v) >= t, _._1 <= vm),
        ("lit =", lit(v) === t, z => z._1 <= vm && vm <= z._2))
      for ((op, pred, keeps) <- cases) {
        val what = s"$op $id"
        agree(what)(LogSync.table(spark, root).filter(pred))
        assert(filesRead(LogSync.table(spark, root).filter(pred)) == zones.count(keeps), what)
      }
      // casts of the column the optimizer keeps, and a comparison with
      // no literal side
      val unprunable = Seq(t.cast("long") >= lit(vm / 1000),
        t < t + expr("INTERVAL 1 DAY"), t.cast("string") <= lit(v.toString))
      for (p <- unprunable) {
        agree(s"$p $id")(LogSync.table(spark, root).filter(p))
        assert(filesRead(LogSync.table(spark, root).filter(p)) == total, s"$p $id")
      }
    }
  }

  test("a time window reads exactly the files the registry zone maps keep") {
    val root = tempDir("graft_regscan_window")
    append(root, 0, 40, LogWriter.HourlyLayout)
    append(root, 40, 80, LogWriter.HourlyLayout)
    val (from, until) = ("2023-11-15", "2023-11-16")
    val (kept, total) = LogSync.statsPruneCounts(spark, root, from, until)
    assert(0 < kept && kept < total)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse(s"${from}T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse(s"${until}T00:00:00Z"))
    val window = LogSync.table(spark, root)
      .filter(col("timestamp") >= lo && col("timestamp") < hi)
    assert(filesRead(window) == kept)
    assert(filesRead(LogSync.tableBetween(spark, root, from, until)) == kept)
    // the observables fold on the driver
    val jobs = graft.SparkJobs.during(spark) {
      LogSync.statsPruneCounts(spark, root, from, until)
      LogSync.forPruneCounts(spark, root, "a/b", from, until)
    }._2
    assert(jobs.isEmpty, jobs.mkString("; "))
    // no keep-set broadcast in a held read's executed plan
    assert(!window.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
  }

  test("null timestamps and files without time stats are always read") {
    val root = tempDir("graft_regscan_nulls")
    // plain session writes: INT96 footers, and one file whose timestamps are all null
    rows(0, 20).coalesce(1).write.mode("append").parquet(root)
    rows(20, 30).withColumn("timestamp", lit(null).cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(root)
    rows(30, 40).withColumn("timestamp",
      when(col("span_id") === "s31", lit(null).cast("timestamp")).otherwise(col("timestamp")))
      .coalesce(1).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    assert(agree("table")(LogSync.table(spark, root)).length == 40)
    def late = LogSync.table(spark, root).filter(col("timestamp") > ts(35))
    assert(agree("late")(late).length == 4)
    // the all-null file has no zone map, so it is read; the first file's
    // range lies below the bound
    assert(filesRead(late) == 2)
  }

  test("lookup and grep start no job to construct, equal the root scan, and open only bloom survivors") {
    val root = tempDir("graft_regscan_index")
    append(root, 0, 40, LogWriter.HourlyLayout)
    append(root, 40, 80, LogWriter.HourlyLayout)
    LakeIndex.build(spark, root, "trace_id", 64)
    LakeIndex.buildTokens(spark, root, "body", 64)
    // the first probe of each sidecar loads its held rows
    LakeIndex.lookup(spark, root, "trace_id", Seq("t0"))
    LakeIndex.grep(spark, root, "body", Seq("w0"))
    val (lookup, lookupJobs) = graft.SparkJobs.during(spark)(
      LakeIndex.lookup(spark, root, "trace_id", Seq("t5", "t61")))
    assert(lookupJobs.isEmpty, lookupJobs.mkString("; "))
    val (grep, grepJobs) = graft.SparkJobs.during(spark)(
      LakeIndex.grep(spark, root, "body", Seq("W3", "common")))
    assert(grepJobs.isEmpty, grepJobs.mkString("; "))
    assert(agree("lookup")(LakeIndex.lookup(spark, root, "trace_id", Seq("t5", "t61")))
      .length == 2)
    assert(agree("grep")(LakeIndex.grep(spark, root, "body", Seq("W3", "common"))).length ==
      (0 until 80).count(_ % 7 == 3))
    assert(agree("grep none")(LakeIndex.grep(spark, root, "body", Seq("zzz"))).isEmpty)
    val (kept, total) = LakeIndex.pruneCounts(spark, root, "trace_id", Seq("t5", "t61"))
    assert(kept < total && filesRead(lookup) == kept)
    val (gKept, _) = LakeIndex.grepPruneCounts(spark, root, "body", Seq("W3", "common"))
    assert(filesRead(grep) == gKept)
    val countJobs = graft.SparkJobs.during(spark) {
      LakeIndex.pruneCounts(spark, root, "trace_id", Seq("t5"))
      LakeIndex.grepPruneCounts(spark, root, "body", Seq("w3"))
    }._2
    assert(countJobs.isEmpty, countJobs.mkString("; "))
  }
}
