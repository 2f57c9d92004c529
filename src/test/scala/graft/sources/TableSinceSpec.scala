package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** [[LogSync.tableSince]] reads the new append files by path, under the
  * schema the root scan resolves, and must give exactly what the root
  * scan and its keep-set semi-join give (the path taken past the
  * registry cap, forced here with a cap of 0): the same schema, column
  * order and rows, on every lake shape a follower polls.
  */
class TableSinceSpec extends graft.SparkSpec {

  private val CapKey = "graft.lake.registryDriverCacheMaxBytes"

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  // rows [from, until): one per 37 minutes, so a lake spans several
  // days and hours; the service cycles through `svcs`
  private def rows(from: Long, until: Long, svcs: Seq[String]): DataFrame =
    spark.range(from, until, 1, 2).select(
      timestamp_millis(lit(1700000000000L) + col("id") * 60000 * 37).as("timestamp"),
      element_at(array(svcs.map(lit): _*), (col("id") % svcs.length + 1).cast("int"))
        .as("service_name"),
      lit("INFO").as("severity_text"),
      concat(lit("s"), col("id")).as("span_id"),
      lit("x").as("body"))

  private def append(root: String, from: Long, until: Long, svcs: Seq[String],
                     layout: Seq[String] = LogWriter.DailyLayout): java.sql.Timestamp = {
    assert(LogWriter.write(rows(from, until, svcs), root, layout = layout) == until - from)
    LogSync.sync(spark, root)
    LogSync.highWaterMark(spark, root).get
  }

  private def byRootScan(root: String, since: java.sql.Timestamp): DataFrame = {
    spark.conf.set(CapKey, "0")
    try LogSync.tableSince(spark, root, since) finally spark.conf.unset(CapKey)
  }

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.length

  private val epoch = new java.sql.Timestamp(0L)

  /** The by-path read equals the root-scan read at every mark in
    * `marks`; `byPath` says whether the by-path read must have served
    * the poll (no join in its plan). Returns the rows read since the
    * first mark.
    */
  private def agree(root: String, marks: Seq[java.sql.Timestamp],
                    byPath: Boolean = true): Long =
    marks.map { since =>
      val fast = LogSync.tableSince(spark, root, since)
      val slow = byRootScan(root, since)
      assert(fast.schema == slow.schema, s"$root since $since")
      val (f, s) = (fast.collect().map(_.toString).sorted.toSeq,
        slow.collect().map(_.toString).sorted.toSeq)
      assert(f == s, s"$root since $since")
      // (an empty keep-set optimizes the semi-join away)
      if (f.nonEmpty) assert(joins(fast) == 0 == byPath, s"$root since $since")
      f.length.toLong
    }.head

  private def spanIds(df: DataFrame): Set[String] =
    df.select("span_id").collect().map(_.getString(0)).toSet

  test("hourly and daily lakes, an empty window and escaped service directories") {
    for (layout <- Seq(LogWriter.HourlyLayout, LogWriter.DailyLayout)) {
      val root = tmp("graft_since_layout")
      val svcs = Seq("plain", "x y", "a/b", "k=v", "e%")
      val m1 = append(root, 0, 40, svcs, layout)
      val m2 = append(root, 40, 70, svcs, layout)
      val m3 = append(root, 70, 80, svcs, layout)
      assert(agree(root, Seq(epoch, m1, m2, m3)) == 80)
      assert(LogSync.tableSince(spark, root, m1).count() == 40)
      assert(LogSync.tableSince(spark, root, m3).count() == 0)
      assert(LogSync.tableSince(spark, root, m3).columns.toSeq ==
        LogSync.table(spark, root).columns.toSeq)
    }
  }

  test("a new service directory that sorts first, and numeric-looking service values") {
    val root = tmp("graft_since_first")
    val m1 = append(root, 0, 20, Seq("m", "n"))
    val m2 = append(root, 20, 30, Seq("a"))
    assert(agree(root, Seq(epoch, m1, m2)) == 30)
    // directory values Spark types as ints, then one that makes them strings
    val num = tmp("graft_since_num")
    val n1 = append(num, 0, 20, Seq("1", "2"))
    val n2 = append(num, 20, 30, Seq("3"))
    assert(LogSync.tableSince(spark, num, n1).schema("service_name").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(agree(num, Seq(epoch, n1, n2)) == 30)
    val n3 = append(num, 30, 40, Seq("abc"))
    assert(LogSync.tableSince(spark, num, n2).schema("service_name").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(agree(num, Seq(epoch, n1, n2, n3)) == 40)
  }

  test("files whose data columns differ: the first file by path sets the schema, as in the root scan") {
    for (wide <- Seq("a", "b")) {
      val root = tmp("graft_since_wide")
      def write(from: Long, until: Long, svc: String) = {
        val df = rows(from, until, Seq(svc))
        LogWriter.write(if (svc == wide) df.withColumn("attr", lit("v")) else df, root,
          layout = LogWriter.DailyLayout)
        LogSync.sync(spark, root)
        LogSync.highWaterMark(spark, root).get
      }
      val m1 = write(0, 20, "a")
      val m2 = write(20, 40, "b")
      val m3 = write(40, 50, "a")
      assert(agree(root, Seq(epoch, m1, m2, m3)) == 50)
      // the widened file sorts first only when it is service `a`'s
      assert(LogSync.tableSince(spark, root, epoch).columns.contains("attr") == (wide == "a"))
    }
  }

  test("compaction between two marks, and a tombstoned append file, are read as appended") {
    val root = tmp("graft_since_compact")
    val m1 = append(root, 0, 30, Seq("a", "b"))
    val m2 = append(root, 30, 50, Seq("a", "b"))
    LogCompact.compact(spark, root) // tombstones both appends, registers rewrites
    val m3 = append(root, 50, 60, Seq("a", "b"))
    assert(agree(root, Seq(epoch, m1, m2, m3)) == 60)
    assert(spanIds(LogSync.tableSince(spark, root, m1)) == (30 until 60).map(i => s"s$i").toSet)
  }

  test("a layout flip and an evolved lake take the root scan") {
    val flip = tmp("graft_since_flip")
    val f1 = append(flip, 0, 20, Seq("a", "b"))
    val f2 = append(flip, 20, 30, Seq("a", "b"), LogWriter.HourlyLayout)
    assert(agree(flip, Seq(epoch, f1, f2), byPath = false) == 30)
    val renamed = tmp("graft_since_evolved")
    val r1 = append(renamed, 0, 20, Seq("a", "b"))
    LakeEvolve.renameColumn(spark, renamed, "severity_text", "severity")
    val r2 = append(renamed, 20, 30, Seq("a", "b"))
    assert(agree(renamed, Seq(epoch, r1, r2), byPath = false) == 30)
    assert(LogSync.tableSince(spark, renamed, r1).columns.contains("severity"))
  }
}
