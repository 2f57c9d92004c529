package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, TrainPrep}

/** `curate_batch`: the training-data batch. Shards run back to back in
  * a closed loop; each is a new seeded corpus (documents with injected
  * exact and near duplicates, plus embeddings), so no build-once memo
  * can turn a shard into cache hits. Never touches serving, `LogSync`
  * or `LakeIndex`.
  */
object Curate {
  /** Measured shards run back to back until their chain time reaches
    * `--seconds`, and at least `MinShards` of them, so the median
    * document latency is a median of chain times.
    */
  val MinShards = 4
  val Docs = 750
  val Vecs = 300
  /** Set-up shards: small, each also new, run through the same chain. */
  val WarmDocs = 100
  val WarmVecs = 40

  val Chain: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact" -> ((s, d) => Dedup.exact(s, d)),
    "minhash" -> ((s, d) => Dedup.minhash(s, d)),
    "ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "curate" -> ((s, d) => Curation.curate(s, d)),
    "pipeline" -> ((s, d) => TrainPrep.pipeline(s, d)),
    "pack" -> ((s, d) => TrainPrep.packSequences(s, d)),
    "embedding_pairs" -> ((s, d) => Dedup.embeddingPairs(s, d)))

  /** Write the inputs of `shards` (number → shard) in two Spark jobs,
    * partitioned by shard number, then move each partition to its own
    * `shard<n>/{documents,embeddings}.parquet`: one write per batch of
    * shards instead of two per shard.
    */
  private def write(spark: SparkSession, ctx: Ctx, shards: Seq[(Long, Shard)]): Unit = {
    import spark.implicits._
    val stage = ctx.dir(s"inputs${shards.head._1}")
    shards.flatMap { case (no, sh) =>
      sh.docId.indices.map(i => (no, sh.docId(i), sh.text(i), sh.lang(i), sh.source(i),
        sh.text(i).length.toLong))
    }.toDF("shard", "doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.partitionBy("shard").parquet(stage.resolve("documents").toString)
    shards.flatMap { case (no, sh) => sh.vecId.indices.map(i => (no, sh.vecId(i), sh.vec(i), sh.label(i))) }
      .toDF("shard", "vec_id", "embedding", "label")
      .coalesce(1).write.partitionBy("shard").parquet(stage.resolve("embeddings").toString)
    shards.foreach { case (no, _) =>
      Seq("documents", "embeddings").foreach(t =>
        Files.move(stage.resolve(s"$t/shard=$no"), ctx.dir(s"shard$no").resolve(s"$t.parquet")))
    }
    ctx.delete(stage.toString)
  }

  /** The checks: exact-duplicate groups are the generator's, and
    * packing conserves documents and tokens.
    */
  private def check(spark: SparkSession, sh: Shard, dir: String, nDocs: Int): Seq[String] = {
    val groups = Dedup.exact(spark, dir).collect()
      .map(r => (r.getAs[Long]("keeper"), r.getAs[Long]("n_docs").toInt)).toSeq.sorted
    val bins = TrainPrep.packSequences(spark, dir).collect()
    val docs = bins.map(_.getAs[Long]("n_docs")).sum
    val toks = bins.map(_.getAs[Long]("n_tokens")).sum
    Seq(
      Option.when(groups != sh.dupGroups.toSeq.sorted)(
        s"$dir exact: ${groups.size} groups, want ${sh.dupGroups.size}"),
      Option.when(docs != nDocs || toks != sh.tokenCount)(
        s"$dir pack: $docs docs / $toks tokens, want $nDocs / ${sh.tokenCount}")).flatten
  }

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val failures = mutable.ArrayBuffer.empty[String]
    val calls = mutable.ArrayBuffer.empty[Double]
    val shards = mutable.ArrayBuffer.empty[Shard]
    /** Generate and write `n` more new shards, off the clock. */
    def more(n: Int, nDocs: Int, nVecs: Int): Unit = {
      val batch = (shards.size until shards.size + n).map(no =>
        no.toLong -> new Shard(ctx.seed * 1000003L + no, nDocs, nVecs, no * 1000000L))
      write(spark, ctx, batch)
      shards ++= batch.map(_._2)
    }
    def dir(no: Int): String = ctx.work.resolve(s"shard$no").toString
    var next = 0
    /** The next shard through the whole chain; returns the chain's seconds. */
    def chain(): Double = {
      if (next == shards.size) more(MinShards, Docs, Vecs)
      val no = next
      next += 1
      ctx.timed {
        Trace.span("operators.chain", no.toLong) {
          Chain.foreach { case (name, f) =>
            val c = System.nanoTime()
            try Trace.span(s"operators.$name")(Lake.noop(f(spark, dir(no))))
            catch { case e: Exception => failures += s"${dir(no)} $name: $e" }
            calls += (System.nanoTime() - c) / 1e9
          }
        }
      }
    }

    more(Ctx.SetupReps, WarmDocs, WarmVecs)
    more(MinShards, Docs, Vecs)
    ctx.phase("inputs")
    val setup = Seq.fill(Ctx.SetupReps)(chain())
    calls.clear()
    ctx.phase("setup")
    val first = next
    val chains = mutable.ArrayBuffer.empty[Double]
    while (chains.size < MinShards || chains.sum < ctx.seconds) chains += chain()
    ctx.phase("measure")
    // measured shards are checked after the loop, so the chains run back to back
    (first until next).foreach(no => failures ++= check(spark, shards(no), dir(no), Docs))
    ctx.phase("check")
    val docLatency = chains.toSeq.flatMap(t => Seq.fill(Docs)(t))
    val (tp, _, n) = Stats.tail(docLatency)
    Result(
      attempted = next.toLong * Chain.size, failures = failures.toSeq, setup = setup,
      // documents per second at the median chain: one slow chain moves a
      // mean of n chains by 1/n of its excess, a median not at all
      throughput = Docs / Stats.median(chains.toSeq),
      latencies = docLatency, opLatencies = calls.toSeq, layer = Map.empty,
      notes = Seq(f"shards: ${chains.size} × $Docs docs / $Vecs vectors in ${chains.sum}%.2f s of chain time",
        s"chain seconds: set-up ${setup.map(c => f"$c%.2f").mkString(" ")}, measured ${chains.map(c => f"$c%.2f").mkString(" ")}",
        f"latency is per document (its shard's chain time); latency_tail_s is p$tp%.2f of $n documents"))
  }
}
