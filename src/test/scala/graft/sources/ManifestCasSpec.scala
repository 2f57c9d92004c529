package graft.sources

import org.apache.spark.sql.functions._

import graft.sources.{LakeDml, LogSync, Tables}

/** The manifest-swap CAS: the single-writer rule, enforced. Without
  * the version check, two interleaved manifest rewrites each build a
  * full next-manifest from their own read snapshot and the second
  * swap silently discards the first's files — the lost-commit failure
  * Iceberg's REST catalog prevents with a 409. Lives in
  * `graft.sources` to drive the package-private swap at the exact
  * interleaving point (planned-against version captured, then another
  * writer commits) that the public DML surface cannot pause at.
  */
class ManifestCasSpec extends graft.SparkSpec {

  private def seeded(): String = {
    val root = tempDir("graft_cas")
    Tables.events(spark, sf).limit(50)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    root
  }

  test("two interleaved manifest rewrites: the loser raises, the winner's commit survives") {
    val root = seeded()
    // both writers plan against the same version...
    val planned = LogSync.manifestVersion(spark, root)
    val snapA = LogSync.manifestDf(spark, root).cache()
    snapA.count()
    // ...writer B commits first (a real DML: deletes one key CoW)
    val victim = LogSync.table(spark, root).select("span_id").head.getString(0)
    val stats = LakeDml.delete(spark, root, col("span_id") === victim)
    assert(stats.rowsChanged == 1)
    val afterB = LogSync.table(spark, root).count()
    assert(LogSync.manifestVersion(spark, root) > planned,
      "a DML commit must advance the manifest version")
    // ...writer A's swap, planned against the stale version, must
    // REFUSE — committing snapA would resurrect B's deleted row
    val e = intercept[LogSync.ManifestConflictException] {
      LogSync.swapManifest(spark, root, snapA, Some(planned))
    }
    assert(e.getMessage.contains("re-plan"))
    snapA.unpersist()
    // the winner's commit is untouched by the refused swap
    assert(LogSync.table(spark, root).count() == afterB)
    assert(LogSync.table(spark, root)
      .filter(col("span_id") === victim).count() == 0)
  }

  test("a sync append lost to a racing rewrite SELF-HEALS on the next sync round") {
    import org.apache.spark.sql.functions._
    val root = seeded()
    assert(LogSync.table(spark, root).count() == 50)
    // the rewrite's planning snapshot — taken BEFORE the racing sync.
    // COLLECTED, not cached: a cached plan over the manifest path gets
    // transparently re-cached by the sync append below (same-JVM
    // convenience a real cross-process rewriter doesn't have), so the
    // genuine staleness needs driver-materialized rows
    val schema = LogSync.manifestDf(spark, root).schema
    val planRows = LogSync.manifestDf(spark, root).collect().toSeq
    // a sync round lands 20 more rows while the rewrite is in flight
    Tables.events(spark, sf).orderBy(col("event_id")).offset(50).limit(20)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(1).write.mode("append").parquet(root)
    assert(LogSync.sync(spark, root) > 0)
    assert(LogSync.table(spark, root).count() == 70)
    // the rewrite swaps from its stale snapshot — the documented
    // un-serialized sync-append-vs-rewrite window (appends don't bump
    // the version, so a CAS can't see them)
    LogSync.swapManifest(spark, root,
      spark.createDataFrame(spark.sparkContext.parallelize(planRows), schema))
    // the appended rows went INVISIBLE (their registrations vanished
    // from the swapped copy)...
    assert(LogSync.table(spark, root).count() == 50,
      "the stale swap must have dropped the racing append's registrations")
    // ...but never LOST: on-disk unregistered files are exactly what
    // the fresh-diff anti-join finds, so the next round re-registers
    // them — the seam degrades to TEMPORARY INVISIBILITY, and CDC
    // consumers see the rows again under a fresh registered_at
    // (at-least-once, the followers' existing contract)
    assert(LogSync.sync(spark, root) > 0, "the healing round must re-register")
    assert(LogSync.table(spark, root).count() == 70)
    assert(LogSync.table(spark, root).select("span_id").distinct().count() == 70)
  }

  test("a graft_watermark+graft_changes poll loop DURING concurrent multi-file syncs never skips a row") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the seam this pins closed: sync's manifest append used to commit
    // part files non-atomically under ONE shared registered_at, so a
    // mark taken mid-commit equalled the in-flight round's instant
    // while only part of it was visible — the strictly-greater
    // tableSince filter then skipped the remainder forever. The append
    // is now ONE rename-visible commit with a strictly-monotone round
    // stamp, so the SQL poll loop (watermark FIRST, then changes since
    // the stored mark, then store the watermark) is exact.
    graft.GraftTableFunctions.ensureRegistered(spark)
    val root = tempDir("graft_pollrace")
    val all = Tables.events(spark, sf).orderBy(col("event_id")).limit(240)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .cache()
    val allIds = all.select("span_id").collect().map(_.getString(0)).toSet
    assert(allIds.size == 240)
    def sqlTs(ts: java.sql.Timestamp): String = {
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(zone).format(ts.toInstant)
    }
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def round(i: Int): Unit = {
      all.orderBy(col("span_id")).offset(i * 30).limit(30)
        .repartition(5) // a MULTI-file round: 5 parts per registration
        .write.mode("append").parquet(root)
      assert(LogSync.sync(spark, root) == 5)
    }
    // round 0 lands before the consumer starts (the TVFs refuse a
    // manifest-less root loudly by design); rounds 1-7 race the poll
    round(0)
    @volatile var producerDone = false
    val consumer = Future {
      var mark = "1970-01-01 00:00:00"
      var drainOnce = true
      while (!producerDone || drainOnce) {
        if (producerDone) drainOnce = false // one full pass after the last round
        val wm = spark.sql(s"SELECT append_hwm FROM graft_watermark('$root')")
          .head().getTimestamp(0)
        spark.sql(s"SELECT span_id FROM graft_changes('$root', '$mark')")
          .collect().foreach(r => seen.add(r.getString(0)))
        if (wm != null) mark = sqlTs(wm)
      }
      mark
    }
    // rounds 1-7 land back-to-back (no pacing — the tighter the
    // rounds, the more mid-commit and same-instant polls land)
    (1 until 8).foreach(round)
    producerDone = true
    Await.result(consumer, 300.seconds)
    all.unpersist()
    val missed = allIds -- scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala
    assert(missed.isEmpty,
      s"the poll loop skipped ${missed.size} rows (e.g. ${missed.take(5)}) — " +
        "a mark observed a partially-visible or instant-tied sync round")
    // monotone round stamps: 8 rounds = 8 DISTINCT registration instants
    assert(LogSync.manifest(spark, root)
      .select("registered_at").distinct().count() == 8)
  }

  test("delete-registry swap has the same CAS; un-guarded swaps still work") {
    import spark.implicits._
    val root = seeded()
    LakeDml.deleteMor(spark, root, col("severity_text") === "view")
    val planned = LogSync.deleteManifestVersion(spark, root)
    val snap = LogSync.deleteManifestDf(spark, root).cache()
    snap.count()
    // another maintenance round folds the registry (advances version)
    LakeDml.deleteMor(spark, root, col("severity_text") === "signup")
    LakeDml.compactDeletes(spark, root)
    assert(LogSync.deleteManifestVersion(spark, root) > planned)
    intercept[LogSync.ManifestConflictException] {
      LogSync.swapDeleteManifest(spark, root, snap, Some(planned))
    }
    snap.unpersist()
    // reads unaffected; the folded registry still applies
    assert(LogSync.table(spark, root)
      .filter(col("severity_text").isin("view", "signup")).count() == 0)
  }
}
