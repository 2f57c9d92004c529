package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.LogSync

/** STREAMING DEDUP — the steady-state form of the dedup stage, closing
  * the loop between the lakehouse CDC reader ([[LakeFollow]]) and the
  * bipartite incremental dedup ([[Dedup.incremental]]'s shape): as
  * document files land in a registered lake, each CDC increment is
  * deduplicated against everything consumed before it (new×old) and
  * against itself (new×new), never re-paying old×old — per-increment
  * cost ∝ arrival rate, exactly how a 100 TB pipeline dedups the day's
  * crawl against the corpus instead of the corpus against itself.
  *
  * INVARIANT (spec-driven): pairs are emitted canonically (da < db)
  * and each unordered pair is touched by exactly one increment (the
  * one that delivered its second member), so the UNION of all
  * increments' pair sets equals the one-shot batch
  * [[Dedup.ngramJaccard]] edge set over the full corpus — streamed
  * dedup and batch dedup agree exactly, the same twin-equality
  * discipline as `trendStream`/`trend`. (With a binding df-cap the
  * per-increment index sees only the documents consumed so far, so a
  * shingle can cross the cap later than it would in batch; run with
  * the cap sized for the FULL corpus — it prunes candidate
  * generation only, verification is exact either way.)
  */
object DedupFollow {

  /** Incremental SHINGLE STORE: (covered path set, persisted (doc_id,
    * sh) shingle frame, extension count) per (session, root, marks).
    * Without it every poll re-tokenizes and re-shingles the ENTIRE
    * consumed corpus — per-increment cost grows with corpus size even
    * though candidate enumeration is bipartite. With it the store is
    * EXTENDED by exactly the newly committed paths each poll (cost ∝
    * arrival), and 'cost ∝ arrival rate' holds for the whole poll, not
    * just the join.
    *
    * Correctness never depends on the store: reuse requires the
    * covered set to be a subset of the current consumed set (verified
    * with a file-count-sized anti-join each poll); anything else — a
    * marks trim, a foreign writer, a fresh session — rebuilds from
    * scratch. Crash replay is safe for free: an uncommitted increment
    * leaves the consumed set unchanged, so the replayed poll sees the
    * identical store.
    */
  private val shingleStore = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (DataFrame, DataFrame)]()

  private def shinglesFor(spark: SparkSession, root: String,
                          paths: DataFrame): DataFrame =
    Dedup.docShinglesOf(
      LogSync.tableForKeep(spark, root, paths).select(col("doc_id"), col("text")))

  /** The consumed corpus' shingles, reusing and extending the store.
    *
    * Both stored frames are EAGER localCheckpoints — lineage-free by
    * construction: the consumed-marks store and the lake's data files
    * are both rewritten underneath us (commit bumps the marks version,
    * compaction replaces data files), so a stored frame that still
    * referenced them would fail on recompute. The checkpoint copy per
    * poll is a sequential memory/disk write ∝ corpus — far cheaper than
    * the re-tokenize + re-shingle it replaces (and a 100 TB deployment
    * would persist the store as a real table beside the lake instead).
    */
  private def oldShingles(spark: SparkSession, root: String, marksDir: String,
                          consumed: DataFrame): DataFrame = {
    val key = (spark, root, marksDir)
    val st = shingleStore.get(key)
    if (st == null)
      graft.SessionCaches.register(spark) { () =>
        Option(shingleStore.remove(key)).foreach { case (c, s) =>
          c.unpersist(false); s.unpersist(false)
        }
      }
    val frozen = consumed.localCheckpoint()
    val fresh = st match {
      case null =>
        (frozen, shinglesFor(spark, root, frozen).localCheckpoint())
      case (covered, sh) =>
        val vanished = covered.join(frozen, Seq("__registered_path"), "left_anti")
          .limit(1).count() > 0
        if (vanished) { // trimmed/foreign-rewritten marks: cache is stale
          covered.unpersist(false); sh.unpersist(false)
          (frozen, shinglesFor(spark, root, frozen).localCheckpoint())
        } else {
          val missing = frozen.join(covered, Seq("__registered_path"), "left_anti")
          val merged = sh.unionByName(shinglesFor(spark, root, missing)).localCheckpoint()
          covered.unpersist(false); sh.unpersist(false)
          (frozen, merged)
        }
    }
    shingleStore.put(key, fresh)
    fresh._2
  }

  /** The near-dup pairs one polled increment adds: increment×consumed
    * ∪ increment×increment, J ≥ 0.8, canonical (da, db, j) rows.
    */
  def incrementPairs(spark: SparkSession, root: String, marksDir: String,
                     inc: LakeFollow.Increment, dfCap: Int = 100): DataFrame = {
    // cache the increment's shingles for the poll (they are read by the
    // index build, the stats join and the verify join); the old side is
    // already persisted in the store
    val newSh = Dedup.docShinglesOf(inc.rows.select(col("doc_id"), col("text")))
      .withColumn("is_new", lit(true))
      .cache()
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    val oldSh = oldShingles(spark, root, marksDir, consumed)
      .withColumn("is_new", lit(false))
    // pairsTouchingShingled localCheckpoints (eager) before returning,
    // so the increment cache can be released immediately
    val out = Dedup.pairsTouchingShingled(newSh.unionByName(oldSh), dfCap)
    newSh.unpersist(false)
    out
  }

  /** The continuous form: follow the lake and hand each increment's
    * new pair set to `sink` before the increment commits — a crash
    * replays the same increment and the same (deterministic) pairs,
    * the [[LakeFollow.follow]] delivery contract.
    */
  def start(spark: SparkSession, root: String, marksDir: String,
            checkpoint: String, sink: DataFrame => Unit,
            dfCap: Int = 100, pollsPerSecond: Int = 2): StreamingQuery =
    LakeFollow.follow(spark, root, marksDir, checkpoint,
      (_, inc) => sink(incrementPairs(spark, root, marksDir, inc, dfCap)),
      pollsPerSecond)
}
