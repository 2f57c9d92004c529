package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Build an N×-replicated copy of an sf dir for SCALING measurements
  * (dev tool, not contract surface): the r18 verdict's item 2 — the
  * sf0.1 bench cannot demonstrate scaling (every query is at the
  * per-query scheduler/planning floor; 8 cores beat 32 on total), so
  * the heavy-family 8-vs-32-core ratios need a fixture big enough
  * that data work dominates fixed costs.
  *
  * Replication rules, chosen so the scaled corpus keeps each query's
  * SHAPE rather than distorting it:
  *  - `documents` / `embeddings`: N copies with doc_id/vec_id offset
  *    by copy·10⁹ — disjoint documents (verbatim copies would make
  *    every doc an exact N-plicate and blow the dedup pair count up
  *    quadratically, measuring a different problem).
  *  - `lineitem` / `orders` / `events`: N verbatim copies — groups get
  *    N× deeper (the realistic 100 TB shape for the aggregate/window
  *    queries; q15/q20's (supp,part)→supp reduction ratio grows with
  *    scale exactly as the A/B needs).
  *  - dimension tables (`customer`/`supplier`/`part`/`nation`/`region`):
  *    copied once, unchanged — dimensions don't scale with fact data.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcDir> <dstDir> <N>
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val n = args(2).toInt
    val spark = GraftSession.get("graft-scale-fixture")

    def copies(df: DataFrame, idCol: Option[String]): DataFrame =
      (0 until n).map { i =>
        idCol match {
          case Some(c) => df.withColumn(c, col(c) + lit(i.toLong * 1000000000L))
          case None => df
        }
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name written")
    }

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")

    write("documents", copies(read("documents"), Some("doc_id")))
    write("embeddings", copies(read("embeddings"), Some("vec_id")))
    write("lineitem", copies(read("lineitem"), None))
    write("orders", copies(read("orders"), None))
    write("events", copies(read("events"), None))
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach(t => write(t, read(t)))
    println(s"[scale] done: $dst = $n x $src")
    spark.stop()
  }
}
