package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, TrainPrep}

/** The generated-code cache holds the curate chain's working set, and
  * each chain call starts a pinned number of Spark jobs.
  *
  * The dedup/curate/pack chain runs once per shard. Fresh copies of the
  * same inputs go through it back to back, so no graft memo serves a
  * later one; only Spark's JVM-wide cache of generated classes can.
  * With `GraftSession`'s cap every copy after the first compiles
  * nothing; with Spark's default of 100 entries each recompiles ~140
  * classes. A plan whose physical shape depends on which query stage
  * finished first (an AQE-chosen build side) compiles again on the copy
  * that lands on its other variant, so four copies run, not two.
  */
class CodegenCacheSpec extends SparkSpec {

  private val chain: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact" -> ((s, d) => Dedup.exact(s, d)),
    "minhash" -> ((s, d) => Dedup.minhash(s, d)),
    "ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "curate" -> ((s, d) => Curation.curate(s, d)),
    "pipeline" -> ((s, d) => TrainPrep.pipeline(s, d)),
    "pack" -> ((s, d) => TrainPrep.packSequences(s, d)),
    "embedding_pairs" -> ((s, d) => Dedup.embeddingPairs(s, d)))

  // jobs per call on a fresh shard, DataFrame construction and the noop
  // write together: each cached intermediate's materialization, each
  // AQE query stage and broadcast, and the result stage
  private val expectedJobs = Seq(
    "exact" -> 4, "minhash" -> 11, "ngram_jaccard" -> 13, "curate" -> 4,
    "pipeline" -> 5, "pack" -> 4, "embedding_pairs" -> 11)

  private def shard(): String = {
    val dir = Files.createTempDirectory("graft_codegen")
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      Files.copy(Paths.get(sf, f), dir.resolve(f)))
    dir.toString
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs the chain on `dir`; per call, the classes it compiled and the
    * jobs it started.
    */
  private def runChain(dir: String): Seq[(String, Long, Int)] = chain.map { case (name, f) =>
    val c0 = compiles()
    val (_, jobs) =
      SparkJobs.during(spark)(f(spark, dir).write.format("noop").mode("overwrite").save())
    (name, compiles() - c0, jobs.length)
  }

  // four fresh shards, shared by both tests (they run in order)
  private lazy val runs = (1 to 4).map(_ => runChain(shard()))

  test("a second shard through the curate chain compiles no new class") {
    runs.zipWithIndex.tail.foreach { case (run, i) =>
      assert(run.forall(_._2 == 0),
        s"shard ${i + 1} recompiled ${run.map(_._2).sum} classes " +
          s"(shard 1: ${runs.head.map(_._2).sum}): ${run.map(c => c._1 -> c._2)}")
    }
  }

  test("each call of the curate chain starts its pinned number of jobs") {
    assert(runs.last.map(c => c._1 -> c._3) == expectedJobs)
  }
}
