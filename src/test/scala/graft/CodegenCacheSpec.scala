package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, TrainPrep}

/** The generated-code cache holds the curate chain's working set.
  *
  * The dedup/curate/pack chain runs once per shard. Two fresh copies of
  * the same inputs go through it back to back, so no graft memo serves
  * the second one; only Spark's JVM-wide cache of generated classes can.
  * With `GraftSession`'s cap the second shard compiles nothing; with
  * Spark's default of 100 entries it recompiles ~140 classes.
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

  private def shard(): String = {
    val dir = Files.createTempDirectory("graft_codegen")
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      Files.copy(Paths.get(sf, f), dir.resolve(f)))
    dir.toString
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs the chain on `dir`; returns each call's compile count. */
  private def runChain(dir: String): Seq[(String, Long)] = chain.map { case (name, f) =>
    val c0 = compiles()
    f(spark, dir).write.format("noop").mode("overwrite").save()
    name -> (compiles() - c0)
  }

  test("a second shard through the curate chain compiles no new class") {
    val (a, b) = (shard(), shard())
    val first = runChain(a)
    val second = runChain(b)
    assert(second.forall(_._2 == 0),
      s"shard B recompiled ${second.map(_._2).sum} classes (shard A: ${first.map(_._2).sum}): $second")
  }
}
