package graft.sources

import org.apache.spark.sql.functions._

import graft.streaming.LakeFollow

/** The FOLLOWER-SURFACE contract across the append-vs-rewrite
  * self-heal. Round 16 downgraded a sync registration lost to a racing
  * manifest rewrite from "lost rows" to "temporary invisibility +
  * re-registration" and pinned it at the REGISTRY level
  * (ManifestCasSpec); these specs pin what a CONSUMER of that registry
  * — [[LakeFollow]], and through it CurateFollow/PackFollow/
  * DedupFollow, which all consume LakeFollow increments — observes
  * through the same incident. The offset store is a consumed-PATH set
  * and the healed registration re-registers the SAME paths (the files
  * never moved; only their manifest rows were dropped and re-created
  * under a fresh `registered_at`), so the follower surface is
  * EXACTLY-ONCE BY PATH across the heal — stronger than the
  * at-least-once the timestamp-mark surfaces ([[LogSync.tableSince]])
  * give, where the fresh `registered_at` re-surfaces the rows past an
  * already-stored mark (the documented duplicate: dedup by path or an
  * idempotent per-row sink absorbs it).
  */
class SelfHealFollowSpec extends graft.SparkSpec {

  private def writeRows(root: String, n: Int, skip: Int): Unit =
    Tables.events(spark, sf).orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(1).write.mode("append").parquet(root)

  test("a batch consumed BEFORE its registration is lost is NOT re-emitted after the heal (exactly-once by path)") {
    val root = tempDir("graft_healfollow")
    val marks = tempDir("graft_healfollow_marks")
    writeRows(root, 50, 0)
    LogSync.sync(spark, root)
    def drain(): Long = LakeFollow.poll(spark, root, marks).map { inc =>
      val n = inc.rows.count()
      LakeFollow.commit(spark, root, marks, inc)
      n
    }.getOrElse(0L)
    assert(drain() == 50)
    // the rewriter's stale planning snapshot — BEFORE the racing batch
    val schema = LogSync.manifestDf(spark, root).schema
    val planRows = LogSync.manifestDf(spark, root).collect().toSeq
    // a batch lands, syncs, and the follower CONSUMES it
    writeRows(root, 20, 50)
    assert(LogSync.sync(spark, root) > 0)
    assert(drain() == 20)
    // the stale swap drops the batch's registrations (the documented
    // un-serialized sync-append-vs-rewrite window)
    LogSync.swapManifest(spark, root,
      spark.createDataFrame(spark.sparkContext.parallelize(planRows), schema))
    assert(LogSync.table(spark, root).count() == 50,
      "the stale swap must have dropped the racing batch's registrations")
    // invisibility is not re-delivery: the follower sees NOTHING new
    // (its consumed paths are simply absent from the manifest)
    assert(drain() == 0, "a lost registration must not re-emit consumed rows")
    // the heal re-registers the same paths under a fresh registered_at
    assert(LogSync.sync(spark, root) > 0, "the healing round must re-register")
    assert(LogSync.table(spark, root).count() == 70)
    // ...and the follower STILL re-emits nothing: the offset is a path
    // set and the healed rows re-registered under their consumed paths
    assert(drain() == 0,
      "exactly-once by path: the healed re-registration must not re-emit")
  }

  test("a batch lost BEFORE the follower ever saw it surfaces exactly once after the heal") {
    val root = tempDir("graft_healfollow2")
    val marks = tempDir("graft_healfollow2_marks")
    writeRows(root, 50, 0)
    LogSync.sync(spark, root)
    val first = LakeFollow.poll(spark, root, marks).get
    assert(first.rows.count() == 50)
    LakeFollow.commit(spark, root, marks, first)
    val schema = LogSync.manifestDf(spark, root).schema
    val planRows = LogSync.manifestDf(spark, root).collect().toSeq
    // the batch registers and is IMMEDIATELY lost to the stale swap —
    // the follower never polled in the visibility window
    writeRows(root, 20, 50)
    assert(LogSync.sync(spark, root) > 0)
    LogSync.swapManifest(spark, root,
      spark.createDataFrame(spark.sparkContext.parallelize(planRows), schema))
    assert(LakeFollow.poll(spark, root, marks).isEmpty,
      "the lost batch is invisible, not half-delivered")
    // heal → the batch surfaces ONCE: poll, replay-before-commit
    // (at-least-once inside the uncommitted window), commit, silence
    assert(LogSync.sync(spark, root) > 0)
    val inc = LakeFollow.poll(spark, root, marks).get
    assert(inc.rows.count() == 20)
    assert(inc.rows.select("span_id").distinct().count() == 20)
    val replay = LakeFollow.poll(spark, root, marks).get
    assert(replay.paths.sorted == inc.paths.sorted,
      "pre-commit replay must deliver the identical increment")
    LakeFollow.commit(spark, root, marks, inc)
    assert(LakeFollow.poll(spark, root, marks).isEmpty,
      "after commit the healed batch must never re-emit")
  }
}
