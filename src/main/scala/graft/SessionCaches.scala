package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lifecycle for the build-once session caches (near-dup edge set, OTLP
  * parses, PQ codebooks, bucketed-table markers, …): each cache entry
  * registers a cleanup here, and the cleanups run when the owning
  * session's application ends — so a long-lived JVM cycling through
  * many sessions/dirs neither accumulates persisted executor storage
  * indefinitely nor pins dead SparkSession references in static maps.
  * This makes the documented immutable-corpus-PER-SESSION contract an
  * actual lifecycle instead of a leak.
  *
  * One listener per session (installed on first registration); cleanup
  * failures are swallowed — at application end the storage is going
  * away anyway, the point is dropping the static references.
  */
object SessionCaches {

  private val cleanups =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[() => Unit]]()

  /** Run `cleanup` when `spark`'s application ends. */
  def register(spark: SparkSession)(cleanup: () => Unit): Unit =
    cleanups.computeIfAbsent(spark, { s =>
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = endSession(s)
      })
      new ConcurrentLinkedQueue[() => Unit]()
    }).add(cleanup)

  /** Run and drop `spark`'s cleanups — what its application end does. */
  private[graft] def endSession(spark: SparkSession): Unit = {
    val q = cleanups.remove(spark)
    if (q != null) q.forEach { f => try f() catch { case _: Throwable => () } }
  }

  /** Number of sessions currently holding registered cleanups (spec
    * observable).
    */
  private[graft] def trackedSessions: Int = cleanups.size

  /** Cleanups waiting on `spark`'s application end (spec observable:
    * a memo must register once per entry, not once per miss).
    */
  private[graft] def pendingCleanups(spark: SparkSession): Int =
    Option(cleanups.get(spark)).fold(0)(_.size)

  /** One build-once memo site: a value per (session, key), built on
    * first use, with ONE cleanup per entry that drops it and runs
    * `release` on it (e.g. `unpersist`) when the session ends.
    *
    * Each site owns its own map: `computeIfAbsent` throws on re-entry
    * into the same map, and builds call other memos
    * (`Curation.dedupCanonical` → `dedupClusters`, `Opq.model` →
    * `Pca.fit`); one map per site also keeps unrelated multi-second
    * builds off each other's bin lock.
    */
  final class Memo[K, V] private[SessionCaches] (release: V => Unit) {
    private val entries = new ConcurrentHashMap[(SparkSession, K), V]()
    private val tracked = ConcurrentHashMap.newKeySet[(SparkSession, K)]()

    // one cleanup per (session, key), however often the entry is rebuilt
    private def track(key: (SparkSession, K)): Unit =
      if (tracked.add(key)) register(key._1) { () =>
        tracked.remove(key)
        Option(entries.remove(key)).foreach(release)
      }

    /** The value for `k`, built once per (session, k). */
    def apply(spark: SparkSession, k: K)(build: => V): V =
      entries.computeIfAbsent((spark, k), { key =>
        val v = build
        track(key)
        v
      })

    /** The value for `k` while `valid` accepts it, else a fresh `build`
      * that replaces it — the signature-validated form for state that
      * moves within a session (manifest listings, index versions,
      * export head tokens). Still one entry and one cleanup per
      * (session, k), however many states it sees; a superseded value
      * is dropped without `release` (a reader may still hold it).
      */
    def refresh(spark: SparkSession, k: K)(valid: V => Boolean)(build: => V): V = {
      val key = (spark, k)
      val cur = entries.get(key)
      if (cur != null && valid(cur)) cur
      else {
        val v = entries.compute(key, (_, prev) =>
          if (prev != null && valid(prev)) prev else build)
        track(key)
        v
      }
    }

    /** Replace the entry for `k` with `f(current)` where that is
      * defined, atomically against a concurrent `refresh` of it; an
      * absent entry stays absent. The write-through form: a writer that
      * knows exactly what its own mutation did to the state keeps the
      * held value current instead of leaving the next reader a rebuild.
      */
    def update(spark: SparkSession, k: K)(f: V => Option[V]): Unit =
      entries.computeIfPresent((spark, k), (_, cur) => f(cur).getOrElse(cur))

    /** Drop the entry for `k` (without `release`); the next use rebuilds. */
    def invalidate(spark: SparkSession, k: K): Unit = entries.remove((spark, k))
  }

  def memo[K, V](release: V => Unit = (_: V) => ()): Memo[K, V] = new Memo(release)

  /** `df.cache()`, unless this plan is already cached: operators that
    * build the same per-call plan over one dir (`minhash`,
    * `ngramJaccard` and `incremental` over one corpus, a repeated ANN
    * probe) would otherwise re-cache it, and Spark warns on every
    * repeated `cache()` of one plan.
    */
  private[graft] def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** Runs `f` over `df` cached and then releases the cache, unless the
    * plan was cached already: its owner keeps it, and it is neither
    * cached twice nor released here.
    */
  private[graft] def cachedDuring[A](df: DataFrame)(f: DataFrame => A): A =
    if (df.storageLevel != StorageLevel.NONE) f(df)
    else {
      df.cache()
      try f(df) finally df.unpersist()
    }

  /** A bounded, thread-safe LRU map for VALUE-keyed memo caches whose
    * key space grows with history (delete-file path sets, chain file
    * sets): every rewrite mints fresh keys, so an unbounded
    * ConcurrentHashMap accumulates dead entries for the life of the
    * JVM (the r18 advisor's finding). Access-ordered with
    * eldest-entry eviction; wrapped in a synchronized map — these are
    * control-plane caches where the duplicate-compute cost of a miss
    * is one small job, so coarse locking around O(1) map ops is fine.
    */
  private[graft] def boundedLru[K, V](maxEntries: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > maxEntries
      })
}
