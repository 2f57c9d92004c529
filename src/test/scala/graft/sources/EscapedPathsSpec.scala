package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level DML and the bloom index on a lake whose service
  * directories are named with characters URI escaping changes (`x y`,
  * `a/b`, `k=v`, `e%`). The registries keep a file's Hadoop path, a
  * scanned row its URI-form `_metadata.file_path`; every decision that
  * joins the two must see the files under those directories exactly as
  * under a plain one.
  */
class EscapedPathsSpec extends graft.SparkSpec {

  private val svcs = Seq("plain", "x y", "a/b", "k=v", "e%")
  private val escaped = svcs.tail
  private val n = 100L

  // one row per minute, the service cycling through `svcs`
  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 2).select(
      timestamp_millis(lit(1700000000000L) + col("id") * 60000).as("timestamp"),
      element_at(array(svcs.map(lit): _*), (col("id") % svcs.length + 1).cast("int"))
        .as("service_name"),
      lit("INFO").as("severity_text"),
      concat(lit("s"), col("id")).as("span_id"),
      lit("old").as("body"))

  private def lake(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    LogWriter.write(rows(0, n), root, layout = LogWriter.DailyLayout)
    assert(LogSync.sync(spark, root) == svcs.length)
    assert(LogSync.table(spark, root).count() == n)
    root
  }

  private def spans(root: String): Seq[String] = {
    import spark.implicits._
    LogSync.table(spark, root).select("span_id").as[String].collect().toSeq
  }

  // every third row, of every service, escaped or not
  private val doomed = substring(col("span_id"), 2, 10).cast("long") % 3 === 0
  private val doomedIds = (0L until n).filter(_ % 3 == 0).map(i => s"s$i").toSet

  test("copy-on-write delete and upsert see rows under escaped directories") {
    val root = lake("graft_esc_cow")
    val del = LakeDml.delete(spark, root, doomed)
    assert(del.rowsChanged == doomedIds.size)
    assert(del.filesRemoved == svcs.length)
    val left = spans(root)
    assert(left.size == n - doomedIds.size)
    assert(left.toSet.intersect(doomedIds).isEmpty)

    // replace the body of every remaining row in the escaped services
    val updates = LogSync.table(spark, root)
      .filter(col("service_name").isin(escaped: _*)).withColumn("body", lit("new"))
    val nUp = updates.count()
    val up = LakeDml.upsert(spark, root, updates, Seq("span_id"))
    assert(up.filesRemoved == escaped.length)
    val after = LogSync.table(spark, root)
    assert(after.count() == n - doomedIds.size)
    assert(after.select("span_id").distinct().count() == n - doomedIds.size)
    assert(after.filter(col("body") === "new").count() == nUp)
    assert(after.filter(col("service_name").isin(escaped: _*) && col("body") === "old")
      .count() == 0)
  }

  test("the bloom index covers files under escaped directories") {
    val root = lake("graft_esc_idx")
    assert(LakeIndex.build(spark, root, "span_id") == svcs.length)
    assert(spark.read.parquet(s"$root/_index/span_id").filter(col("bloom").isNull).count() == 0)
  }

  test("merge-on-read deletes under escaped directories apply and survive vacuumDeletes") {
    val root = lake("graft_esc_mor")
    // a delete file whose every target is under an escaped directory
    val escDoomed = (0L until n).filter(i => i % 3 == 0 && i % svcs.length != 0)
      .map(i => s"s$i").toSet
    val mor = LakeDml.deleteMor(spark, root, doomed && col("service_name").isin(escaped: _*))
    assert(mor.rowsChanged == escDoomed.size)
    assert(spans(root).toSet.intersect(escDoomed).isEmpty)
    // every delete file targets an active data file: none is retired
    assert(LakeDml.vacuumDeletes(spark, root) == 0)
    assert(spans(root).size == n - escDoomed.size)
    // the retraction changelog reads the deleted rows back from their files
    val retracted = LogSync.deletesSince(spark, root, new java.sql.Timestamp(0L))
    assert(retracted.select("span_id").collect().map(_.getString(0)).toSet == escDoomed)

    // an equality delete, folded into position deletes against the
    // data files' own sequence numbers
    val eqIds = (0L until n).filter(_ % 3 == 1).map(i => s"s$i")
    import spark.implicits._
    LakeDml.deleteEq(spark, root, eqIds.toDF("span_id"))
    val gone = escDoomed ++ eqIds
    assert(spans(root).toSet.intersect(gone).isEmpty)
    val (groups, posRows) = LakeDml.convertEqDeletes(spark, root)
    assert(groups == 1)
    assert(posRows == eqIds.size)
    assert(LakeDml.vacuumDeletes(spark, root) == 0)
    val left = spans(root)
    assert(left.size == n - gone.size)
    assert(left.toSet.intersect(gone).isEmpty)
  }
}
