package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** `Tables.table` declares the schema it reads from one footer on the
  * driver; it must be the schema Spark's own inference gives, on the
  * contract tables and on the directory layouts a table can take.
  */
class TablesSchemaSpec extends graft.SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def sameAsSpark(dir: String, name: String): Unit =
    assert(Tables.table(spark, dir, name).schema ==
      spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name")

  test("every contract table's footer schema equals Spark's inferred one") {
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- names)
      sameAsSpark(s"/root/testdata/$scale", n)
  }

  test("declaring the schema starts no Spark job") {
    assert(graft.SparkJobs.during(spark)(Tables.documents(spark, sf))._2.isEmpty)
  }

  private def tableDir(): (String, Path) = {
    val dir = java.nio.file.Paths.get(tempDir("graft_tables"))
    (dir.toString, dir.resolve("t.parquet"))
  }

  test("a written dir: one part with _SUCCESS and .crc siblings, several parts, partitions") {
    // one part file, as a single-task write leaves it
    val (one, onePath) = tableDir()
    spark.range(5).select(col("id"), col("id").cast("string").as("s"))
      .coalesce(1).write.parquet(onePath.toString)
    assert(Files.exists(onePath.resolve("_SUCCESS")))
    assert(Files.list(onePath).anyMatch(_.getFileName.toString.endsWith(".crc")))
    sameAsSpark(one, "t")

    // parts with different schemas: Spark reads the first by path, and
    // so must the footer read
    val (multi, multiPath) = tableDir()
    Files.createDirectories(multiPath)
    def part(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val (_, out) = tableDir()
      df.coalesce(1).write.parquet(out.toString)
      Files.move(Files.list(out).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get, multiPath.resolve(name))
    }
    part("b.parquet", spark.range(3).select(col("id")))
    part("a.parquet", spark.range(3).select(col("id"), lit(1.5).as("x")))
    part("c.parquet", spark.range(3).select(col("id")))
    sameAsSpark(multi, "t")
    assert(Tables.table(spark, multi, "t").columns.toSeq == Seq("id", "x"))
    // a summary file's footer wins over every part's
    part("_metadata", spark.range(1).select(col("id"), lit("a").as("tag")))
    sameAsSpark(multi, "t")
    assert(Tables.table(spark, multi, "t").columns.toSeq == Seq("id", "tag"))

    // hive-partitioned: the partition columns are Spark's to add
    val (parted, partedPath) = tableDir()
    spark.range(8).select(col("id"), (col("id") % 2).as("p"), lit("v").as("q"))
      .write.partitionBy("p", "q").parquet(partedPath.toString)
    sameAsSpark(parted, "t")
    assert(Tables.table(spark, parted, "t").filter(col("p") === 1).count() == 4)
  }

  test("a missing path raises Spark's own error") {
    val (dir, _) = tableDir()
    val ours = intercept[AnalysisException](Tables.table(spark, dir, "missing"))
    val theirs = intercept[AnalysisException](spark.read.parquet(s"$dir/missing.parquet"))
    assert(ours.getCondition == theirs.getCondition && ours.getCondition == "PATH_NOT_FOUND")
  }
}
