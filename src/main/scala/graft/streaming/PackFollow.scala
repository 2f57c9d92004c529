package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TrainPrep
import graft.sources.LogSync

/** STREAMING SEQUENCE PACKING — the train-prep tail of the follow
  * family ([[LakeFollow]] delivers CDC increments, [[DedupFollow]]
  * their near-dup pairs, [[CurateFollow]] their keep/drop decisions;
  * PackFollow assigns each arriving document its PLACE IN THE TRAINING
  * STREAM): per increment, every document gets the same (bin, offset)
  * the batch packer ([[graft.operators.TrainPrep.packManifest]]) gives
  * it, so a downstream tokenizer can materialize fixed-length training
  * sequences continuously as data lands — continuous-pretraining data
  * prep instead of a nightly repack of the whole corpus.
  *
  * The carry state is ONE NUMBER PER SOURCE SHARD (the consumed
  * corpus' token total): concat-and-chunk packing in arrival order is
  * a pure prefix sum, so `bin = (carry + increment-prefix) div budget`
  * and `offset` is the remainder. The window therefore runs over
  * INCREMENT-sized data only, and the store is source-cardinality
  * rows, rebuilt/extended under the same covered ⊆ consumed
  * reuse/verify discipline as [[DedupFollow]]'s shingle store. Token
  * counts come from the SHARED [[TrainPrep.docToksOf]] projection and
  * the bin/offset arithmetic from the shared [[TrainPrep.spanify]] —
  * the stream cannot drift from the batch packer's numbers.
  *
  * DECISION FINALITY: an emitted span cannot be retracted, so
  * out-of-order arrival packs in ARRIVAL order (first-arrival-wins,
  * the [[CurateFollow]] contract). When appends arrive in doc_id
  * order — the natural lake ingest order — streamed spans equal the
  * batch packer's exactly, spec-proven.
  */
object PackFollow {

  /** Incremental CARRY STORE: (covered path set, per-source token
    * totals) per (session, root, marks). Both frames are eager
    * localCheckpoints — the marks store and data files are rewritten
    * underneath us (see [[DedupFollow]]'s rationale); a 100 TB
    * deployment persists the handful of per-source rows beside the
    * lake instead.
    */
  private val cumStore = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (DataFrame, DataFrame)]()

  private def toksFor(spark: SparkSession, root: String,
                      paths: DataFrame): DataFrame =
    TrainPrep.docToksOf(LogSync.tableForKeep(spark, root, paths)
      .select(col("doc_id"), col("source"), col("text")))

  private def cumOf(df: DataFrame): DataFrame =
    df.groupBy(col("source")).agg(sum(col("toks")).as("carry"))

  /** Per-source consumed token totals, reusing and extending the
    * store. Reuse requires covered ⊆ consumed (file-count-sized
    * anti-join); a marks trim, foreign writer, or fresh session
    * rebuilds from scratch; crash replay sees the identical store
    * because an uncommitted increment never enters the consumed set.
    */
  private def oldCum(spark: SparkSession, root: String, marksDir: String,
                     consumed: DataFrame): DataFrame = {
    val key = (spark, root, marksDir)
    val st = cumStore.get(key)
    if (st == null)
      graft.SessionCaches.register(spark) { () =>
        Option(cumStore.remove(key)).foreach { case (c, f) =>
          c.unpersist(false); f.unpersist(false)
        }
      }
    val frozen = consumed.localCheckpoint()
    val fresh = st match {
      case null =>
        (frozen, cumOf(toksFor(spark, root, frozen)).localCheckpoint())
      case (covered, cum) =>
        val vanished = covered.join(frozen, Seq("__registered_path"), "left_anti")
          .limit(1).count() > 0
        if (vanished) { // trimmed/foreign-rewritten marks: cache is stale
          covered.unpersist(false); cum.unpersist(false)
          (frozen, cumOf(toksFor(spark, root, frozen)).localCheckpoint())
        } else {
          val missing = frozen.join(covered, Seq("__registered_path"), "left_anti")
          val merged = cum.unionByName(cumOf(toksFor(spark, root, missing)))
            .groupBy(col("source")).agg(sum(col("carry")).as("carry"))
            .localCheckpoint()
          covered.unpersist(false); cum.unpersist(false)
          (frozen, merged)
        }
    }
    cumStore.put(key, fresh)
    fresh._2
  }

  /** Spec observable: the stored per-source carry frame, if any. */
  private[graft] def carrySnapshot(spark: SparkSession, root: String,
                                   marksDir: String): Option[DataFrame] =
    Option(cumStore.get((spark, root, marksDir))).map(_._2)

  /** Span assignments for one polled increment: (doc_id, source,
    * toks, bin, offset) — deterministic given the consumed set and
    * the increment, so a pre-commit crash replays identical spans
    * ([[LakeFollow.follow]]'s delivery contract). Eagerly
    * materialized so the increment cache releases immediately.
    */
  def incrementSpans(spark: SparkSession, root: String, marksDir: String,
                     inc: LakeFollow.Increment, budget: Int = 512): DataFrame = {
    val docs = TrainPrep.docToksOf(
      inc.rows.select(col("doc_id"), col("source"), col("text"))).cache()
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    val carry = oldCum(spark, root, marksDir, consumed)
    val win = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = TrainPrep.spanify(
      docs
        .withColumn("cumInc", sum(col("toks")).over(win))
        .join(carry, Seq("source"), "left")
        .withColumn("cum", coalesce(col("carry"), lit(0L)) + col("cumInc")),
      budget)
      .select(col("doc_id"), col("source"), col("toks"),
        col("bin"), col("offset"))
      .orderBy(col("source"), col("doc_id"))
      .localCheckpoint()
    docs.unpersist(false)
    out
  }

  /** The continuous form: follow the lake and hand each increment's
    * spans to `sink` before the increment commits (process-then-commit
    * at-least-once, identical replay on crash).
    */
  def start(spark: SparkSession, root: String, marksDir: String,
            checkpoint: String, sink: DataFrame => Unit,
            budget: Int = 512, pollsPerSecond: Int = 2): StreamingQuery =
    LakeFollow.follow(spark, root, marksDir, checkpoint,
      (_, inc) => sink(incrementSpans(spark, root, marksDir, inc, budget)),
      pollsPerSecond)
}
