package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Curation
import graft.sources.LogSync

/** STREAMING CURATION — the quality/dedup gate run on ARRIVING data:
  * as document files land in a registered lake, each CDC increment
  * ([[LakeFollow]]) gets the same keep/drop decisions as the batch
  * gate ([[graft.operators.Curation.curate]]) — too short → low
  * quality → duplicate (content fingerprint seen before) → keep —
  * with the duplicate check running against everything consumed so
  * far, never re-scoring old documents. This closes the follow triad:
  * [[LakeFollow]] delivers increments, [[DedupFollow]] emits the
  * near-dup pairs they add, CurateFollow emits their keep/drop
  * decisions; per-increment cost ∝ arrival rate.
  *
  * DECISION FINALITY: a streaming gate cannot retract an emitted
  * decision, so the fingerprint keeper is FIRST-ARRIVAL-WINS — when
  * appends arrive in doc_id order (the natural lake ingest order)
  * this equals the batch gate's min-doc_id keeper exactly, and the
  * spec proves streamed ∪ == batch on an ordered corpus. Signals are
  * the SHARED [[Curation.curateSignalsOf]] projection — the stream
  * cannot drift from the batch arithmetic.
  */
object CurateFollow {

  /** Incremental FINGERPRINT STORE: (covered path set, (fp, keeper)
    * frame) per (session, root, marks) — one row per DISTINCT
    * fingerprint ever consumed («corpus size), extended per poll by
    * exactly the newly committed paths, the same reuse/verify/rebuild
    * discipline as [[DedupFollow]]'s shingle store: reuse requires
    * the covered set ⊆ current consumed set (file-count-sized
    * anti-join); a trim, foreign writer, or fresh session rebuilds
    * from scratch; crash replay sees the identical store because an
    * uncommitted increment never enters the consumed set.
    */
  private val fpStore = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (DataFrame, DataFrame)]()

  private def signalsFor(spark: SparkSession, root: String,
                         paths: DataFrame): DataFrame =
    Curation.curateSignalsOf(
      LogSync.tableForKeep(spark, root, paths).select(col("doc_id"), col("text")))

  private def keepersOf(sig: DataFrame): DataFrame =
    sig.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))

  /** The consumed corpus' fingerprint keepers, reusing and extending
    * the store. Both stored frames are eager localCheckpoints —
    * lineage-free because the marks store and data files are
    * rewritten underneath us (see [[DedupFollow.oldShingles]]'s
    * rationale; a 100 TB deployment persists this as a table beside
    * the lake).
    */
  private def oldKeepers(spark: SparkSession, root: String, marksDir: String,
                         consumed: DataFrame): DataFrame = {
    val key = (spark, root, marksDir)
    val st = fpStore.get(key)
    if (st == null)
      graft.SessionCaches.register(spark) { () =>
        Option(fpStore.remove(key)).foreach { case (c, f) =>
          c.unpersist(false); f.unpersist(false)
        }
      }
    val frozen = consumed.localCheckpoint()
    val fresh = st match {
      case null =>
        (frozen, keepersOf(signalsFor(spark, root, frozen)).localCheckpoint())
      case (covered, fps) =>
        val vanished = covered.join(frozen, Seq("__registered_path"), "left_anti")
          .limit(1).count() > 0
        if (vanished) { // trimmed/foreign-rewritten marks: cache is stale
          covered.unpersist(false); fps.unpersist(false)
          (frozen, keepersOf(signalsFor(spark, root, frozen)).localCheckpoint())
        } else {
          val missing = frozen.join(covered, Seq("__registered_path"), "left_anti")
          // min-merge keeps the store deterministic under multi-file
          // catch-up polls (replay-stable regardless of file grouping)
          val merged = fps.unionByName(keepersOf(signalsFor(spark, root, missing)))
            .groupBy(col("fp")).agg(min(col("keeper")).as("keeper"))
            .localCheckpoint()
          covered.unpersist(false); fps.unpersist(false)
          (frozen, merged)
        }
    }
    fpStore.put(key, fresh)
    fresh._2
  }

  /** Keep/drop decisions for one polled increment: batch-identical
    * signals, duplicate = fingerprint already consumed (store probe)
    * OR a smaller doc_id in this increment carries it (the
    * within-increment keeper window runs over increment-sized data
    * only). Returns (doc_id, n_tokens, quality, reason), eagerly
    * materialized so the increment cache releases immediately.
    */
  def incrementDecisions(spark: SparkSession, root: String, marksDir: String,
                         inc: LakeFollow.Increment,
                         minTokens: Int = 20, minQuality: Double = 0.25): DataFrame = {
    val sig = Curation.curateSignalsOf(inc.rows.select(col("doc_id"), col("text"))).cache()
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    val seen = oldKeepers(spark, root, marksDir, consumed)
      .withColumnRenamed("keeper", "seen_keeper")
    val wFp = Window.partitionBy(col("fp"))
    val out = sig
      .join(seen, Seq("fp"), "left")
      .withColumn("inc_keeper", min(col("doc_id")).over(wFp))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "short")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("seen_keeper").isNotNull, "duplicate")
          .when(col("doc_id") =!= col("inc_keeper"), "duplicate")
          .otherwise("keep"))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("reason"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    sig.unpersist(false)
    out
  }

  /** The continuous form: follow the lake and hand each increment's
    * decisions to `sink` before the increment commits — a crash
    * replays the same increment and the same (deterministic)
    * decisions, the [[LakeFollow.follow]] delivery contract.
    */
  def start(spark: SparkSession, root: String, marksDir: String,
            checkpoint: String, sink: DataFrame => Unit,
            minTokens: Int = 20, minQuality: Double = 0.25,
            pollsPerSecond: Int = 2): StreamingQuery =
    LakeFollow.follow(spark, root, marksDir, checkpoint,
      (_, inc) => sink(incrementDecisions(spark, root, marksDir, inc,
        minTokens, minQuality)),
      pollsPerSecond)
}
