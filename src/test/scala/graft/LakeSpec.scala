package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.LakeAnalytics
import graft.sources.{LogSync, LogWriter, OtlpLogs, Tables}
import graft.streaming.EventStream

/** End-to-end lake pipeline + de-drivered LogSync + bounded streaming
  * state.
  */
class LakeSpec extends SparkSpec {

  test("lake severity counts equal the direct events aggregate (full pipeline proof)") {
    val got = LakeAnalytics.severityByService(spark, sf).collect()
      .map(r => (r.getAs[String]("service_name"), r.getAs[String]("severity_text")) ->
        r.getAs[Long]("n")).toMap
    val want = Tables.events(spark, sf)
      .groupBy(concat(lit("svc-"), col("user_id") % 10).as("s"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got == want,
      "encode -> parse -> partitioned write -> register -> read must be lossless")
  }

  test("LakeIndex.on: a non-trace column's own sidecar prunes its lookup (kept < total) and agrees with the plain read") {
    val root = LakeAnalytics.lakeRoot(spark, sf)
    // the generic surface: build-if-stale + lookup handle on span_id —
    // a second sidecar, independent of trace_id's
    val got = LakeAnalytics.spanLookup(spark, sf).collect()
    assert(got.length == 1, s"event 5's span must resolve once, got ${got.length}")
    val sid = got.head.getAs[String]("span_id")
    val (kept, total) = graft.sources.LakeIndex.pruneCounts(
      spark, root, "span_id", Seq(sid))
    assert(kept >= 1 && kept < total,
      s"span sidecar must prune the scan: kept=$kept total=$total")
    // pruning is an optimization, never a semantic: the indexed lookup
    // equals the full-scan filter row-for-row
    val want = graft.sources.LogSync.table(spark, root)
      .filter(col("span_id") === sid).count()
    assert(got.length.toLong == want)
  }

  test("lake timeseries: service/time predicates land in the scan's PartitionFilters") {
    val q = LakeAnalytics.timeseries(spark, sf)
    // formatted explain prints `PartitionFilters:` on the scan node
    // ONLY when the scan itself prunes — a Filter above the scan (e.g.
    // blocked by a nondeterministic projection) would not count
    val plan = formattedPlan(q)
    val pf = plan.linesIterator.find(_.trim.startsWith("PartitionFilters:"))
      .getOrElse(fail(s"partition filters never reached the scan:\n$plan"))
    assert(pf.contains("service_name") && pf.contains("day"),
      s"service_name/day must prune the scan, got: $pf")
    assert(q.collect().nonEmpty)
  }

  // The name predates the registry-backed file index; it is kept so the
  // test's history lines up. The plan is now an index scan over exactly
  // the registered files, with no root scan and no keep-set semi-join.
  test("LogSync: many-file lake syncs via anti-join; table plan is root-scan + semi-join") {
    val root = Files.createTempDirectory("graft_manyfiles").toString
    // ~40 files per batch: enough to exercise the distributed diff
    Tables.events(spark, sf).limit(400)
      .select(col("ts").as("timestamp"), concat(lit("s"), col("user_id") % 4).as("service_name"),
              col("props").as("body"))
      .repartition(40)
      .write.mode("append").parquet(root)
    assert(LogSync.sync(spark, root) >= 1)
    assert(LogSync.sync(spark, root) == 0, "second sync must be a no-op")
    val t = LogSync.table(spark, root)
    assert(t.count() == 400)
    val plan = planString(t)
    assert(plan.contains("RegistryFileIndex") && !plan.contains("LeftSemi"),
      s"table() must scan the registered files, with no keep-set semi-join:\n$plan")
    // unregistered files stay invisible until the next sync
    Tables.events(spark, sf).limit(100)
      .select(col("ts").as("timestamp"), lit("s9").as("service_name"),
              col("props").as("body"))
      .write.mode("append").parquet(root)
    assert(LogSync.table(spark, root).count() == 400)
    assert(LogSync.sync(spark, root) >= 1)
    assert(LogSync.table(spark, root).count() == 500)
  }

  test("LogSync.runContinuously: rounds register increments idempotently") {
    val root = Files.createTempDirectory("graft_daemon").toString
    def write(n: Int) = Tables.events(spark, sf).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
              col("props").as("body"))
      .write.mode("append").parquet(root)
    write(50)
    val first = LogSync.runContinuously(spark, root, intervalMillis = 10, rounds = 2)
    assert(first.head >= 1 && first(1) == 0, s"round 2 must be a no-op: $first")
    write(30)
    val second = LogSync.runContinuously(spark, root, intervalMillis = 10, rounds = 1)
    assert(second.head >= 1)
    assert(LogSync.table(spark, root).count() == 80)
  }

  test("LakeIngest: streaming micro-batches land registered and queryable") {
    val src = Files.createTempDirectory("graft_ingest_src").toString
    val root = Files.createTempDirectory("graft_ingest_lake").toString
    def otel(n: Int, skip: Int = 0) = Tables.events(spark, sf)
      .orderBy(col("event_id")).limit(n + skip)
      .filter(col("event_id") >= skip)
      .select(col("ts").as("timestamp"), concat(lit("svc-"), col("user_id") % 3).as("service_name"),
              col("event_type").as("severity_text"), col("props").as("body"))
    otel(150).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    val q = graft.streaming.LakeIngest.start(stream, root, ckpt)
    try {
      q.processAllAvailable()
      assert(graft.sources.LogSync.table(spark, root).count() == 150,
        "first micro-batch must be registered and visible")
      // second batch appends and registers incrementally
      Tables.events(spark, sf).orderBy(col("event_id").desc).limit(50)
        .select(col("ts").as("timestamp"), lit("svc-9").as("service_name"),
                col("event_type").as("severity_text"), col("props").as("body"))
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val t = graft.sources.LogSync.table(spark, root)
      assert(t.count() == 200)
      assert(t.columns.contains("service_name") && t.columns.contains("day"),
        "lake layout recovered as partition columns")
    } finally q.stop()
    // restart from the SAME checkpoint: batchIds continue (not restart at
    // 0), so already-ingested batches are not re-appended and markers
    // from the first run cannot swallow new data
    val q2 = graft.streaming.LakeIngest.start(
      spark.readStream.schema(schema).parquet(src), root, ckpt)
    try {
      q2.processAllAvailable()
      assert(graft.sources.LogSync.table(spark, root).count() == 200,
        "restart with a persistent checkpoint must be a no-op")
    } finally q2.stop()
    // streaming registration records zone-map stats too: every
    // manifest entry written by LakeIngest carries min/max timestamps
    val manifest = graft.sources.LogSync.manifest(spark, root)
    assert(manifest.filter(col("min_ts").isNull || col("max_ts").isNull).count() == 0,
      "streaming-registered files must carry timestamp zone-maps")
  }

  test("LakeIngest(maintainRollup): rollup tracks the stream, equals full recompute per batch") {
    val src = Files.createTempDirectory("graft_mvsrc").toString
    val root = Files.createTempDirectory("graft_mvlake").toString
    def otel(n: Int, svc: String) = Tables.events(spark, sf)
      .orderBy(col("event_id")).limit(n)
      .select(col("ts").as("timestamp"), lit(svc).as("service_name"),
              col("event_type").as("severity_text"), col("props").as("body"))
    otel(80, "svc-a").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val ckpt = Files.createTempDirectory("graft_mvckpt").toString
    val q = graft.streaming.LakeIngest.start(
      spark.readStream.schema(schema).parquet(src), root, ckpt, maintainRollup = true)
    def rollupMap() = graft.sources.Rollup.read(spark, root).collect()
      .map(r => (r.getAs[String]("service_name"), r.getAs[String]("severity_text")) ->
        r.getAs[Long]("n")).toMap
    def fullMap() = LogSync.table(spark, root)
      .groupBy("service_name", "severity_text").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("count")).toMap
    try {
      q.processAllAvailable()
      assert(rollupMap() == fullMap(), "rollup == recompute after batch 1")
      otel(40, "svc-b").write.mode("append").parquet(src)
      q.processAllAvailable()
      val m = rollupMap()
      assert(m == fullMap(), "rollup == recompute after batch 2")
      assert(m.keys.exists(_._1 == "svc-b"), "second batch folded in")
      // a MOR delete BETWEEN micro-batches: the next batch's refresh
      // must detect the registry movement and rebuild — the streaming
      // materialized view never serves deleted rows' counts
      graft.sources.LakeDml.deleteMor(spark, root,
        col("service_name") === "svc-a" && col("severity_text") === "view")
      otel(20, "svc-c").write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(rollupMap() == fullMap(),
        "rollup == recompute after a deleteMor between batches")
    } finally q.stop()
  }

  test("LogCompact: compaction preserves the on-disk layout (hour stays a data column)") {
    val root = Files.createTempDirectory("graft_compact_layout").toString
    val logs = Tables.events(spark, sf).limit(300)
      .select(col("ts").as("timestamp"), concat(lit("s"), col("user_id") % 2).as("service_name"),
              col("props").as("body"))
    LogWriter.write(logs, root, layout = LogWriter.DailyLayout)
    graft.sources.LogSync.sync(spark, root)
    assert(graft.sources.LogCompact.inferLayout(spark, root) == LogWriter.DailyLayout,
      "layout must come from the directory structure, not column presence")
    graft.sources.LogCompact.compact(spark, root)
    val hourDirs = Files.walk(java.nio.file.Paths.get(root)).iterator()
    val hasHourDir = scala.jdk.CollectionConverters.IteratorHasAsScala(hourDirs).asScala
      .exists(_.getFileName.toString.startsWith("hour="))
    assert(!hasHourDir,
      "a DailyLayout lake must not be rewritten into hour= partition dirs")
    assert(graft.sources.LogSync.table(spark, root).count() == 300)
    assert(graft.sources.LogSync.table(spark, root).columns.contains("hour"),
      "hour survives as a data column")
  }

  test("LogCompact: consolidates small files, table unchanged, vacuum removes orphans") {
    val root = Files.createTempDirectory("graft_compact").toString
    def write(n: Int, svc: String) = Tables.events(spark, sf).limit(n)
      .select(col("ts").as("timestamp"), lit(svc).as("service_name"),
              col("props").as("body"))
      .repartition(10) // force many tiny files per partition
      .write.mode("append").parquet(root)
    write(200, "sa"); write(200, "sa")
    graft.sources.LogSync.sync(spark, root)
    // bookkeeping state under an underscore dir (the Rollup layout):
    // compaction must not register it as data, vacuum must not delete
    // it as an orphan
    spark.range(5).toDF("k").write.parquet(s"$root/_rollup/v1/agg")
    val beforeRows = graft.sources.LogSync.table(spark, root).count()
    Thread.sleep(50) // clock margin: registration < preCompact < compaction
    val preCompact = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(50)
    val stats = graft.sources.LogCompact.compact(spark, root)
    assert(stats.filesBefore > stats.filesAfter,
      s"expected consolidation, got $stats")
    assert(graft.sources.LogSync.table(spark, root).count() == beforeRows,
      "compaction must not change the table")
    // THE resurrection guard: the replaced files are still on disk, and
    // a sync daemon round landing between compact and vacuum must not
    // re-register them (that would double every row). Tombstones keep
    // them known.
    assert(graft.sources.LogSync.sync(spark, root) == 0,
      "sync between compact and vacuum must not re-register replaced files")
    assert(graft.sources.LogSync.table(spark, root).count() == beforeRows,
      "a sync round must not resurrect compacted-away files")
    // tombstones also keep pre-compaction snapshots readable (Iceberg
    // snapshot semantics): a timestamp taken BEFORE the compaction
    // resolves to the old file set — the consolidated files are
    // registered later, so every row here comes from replaced files
    assert(graft.sources.LogSync.tableAsOf(spark, root, preCompact).count() == beforeRows,
      "time travel across compaction must keep working until vacuum")
    // replaced files still on disk (in-flight reader grace) until vacuum;
    // the DEFAULT grace protects anything recently written (all of these
    // files are seconds old), so a concurrent-ingest vacuum deletes nothing
    assert(graft.sources.LogCompact.vacuum(spark, root) == 0,
      "default-grace vacuum must not delete recently written files")
    val removed = graft.sources.LogCompact.vacuum(spark, root, graceMs = 0L)
    assert(removed == stats.filesBefore, s"vacuum should remove the $stats old files, got $removed")
    assert(graft.sources.LogSync.table(spark, root).count() == beforeRows,
      "vacuum must not touch registered files")
    assert(graft.sources.LogSync.sync(spark, root) == 0,
      "post-compaction lake is fully registered")
    assert(spark.read.parquet(s"$root/_rollup/v1/agg").count() == 5,
      "zero-grace vacuum must leave underscore bookkeeping dirs intact")
    assert(graft.sources.LogSync.manifest(spark, root)
      .filter(col("path").contains("/_")).count() == 0,
      "compaction must not register bookkeeping parquet as data")
  }

  test("sessionizeNative: built-in session_window matches the batch sessionizer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_native_sess").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").parquet(dir)
    val q = EventStream.sessionizeNative(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val dummyTs = new java.sql.Timestamp((maxUs + 6L * 3600L * 1000000L) / 1000L)
      Seq((999999L, dummyTs, 999999L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("native_sessions")
      .filter(col("user_id") =!= 999999L)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))).toSet
    val want = graft.operators.LogAnalytics.sessionize(spark, sf).collect()
      .map { r =>
        val startUs = java.time.LocalDateTime
          .parse(r.getAs[String]("session_start").replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
        (r.getAs[Long]("user_id"),
         startUs.getEpochSecond * 1000000L + startUs.getNano / 1000L,
         r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"))
      }.toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("runningUserCounts: idle users are evicted after the event-time TTL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ttl").toString
    def batch(uid: Long, at: String) =
      Seq((uid, java.sql.Timestamp.valueOf(at), uid, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batch(1L, "2024-01-01 00:00:00").write.mode("append").parquet(dir)
    val q = EventStream.runningUserCounts(EventStream.read(spark, dir), ttlMinutes = 120)
      .toDF("user_id", "n")
      .writeStream.format("memory").queryName("ttl_counts")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // another user 10h later pushes the watermark far past user 1's TTL
      batch(2L, "2024-01-01 10:00:00").write.mode("append").parquet(dir)
      q.processAllAvailable()
      // user 1 returns: counter must have been evicted, so it restarts
      batch(1L, "2024-01-01 10:30:00").write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val user1 = spark.table("ttl_counts").filter(col("user_id") === 1L)
      .collect().map(_.getAs[Long]("n")).toSeq
    assert(user1.count(_ == 1L) == 2, s"expected two fresh n=1 updates, got $user1")
    assert(!user1.contains(2L),
      s"state survived past TTL (n=2 seen): $user1")
  }

  test("sessionizeStream: an out-of-order event bridges two open sessions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_late").toString
    def batch(rows: (Long, String)*) =
      rows.map { case (id, at) => (id, java.sql.Timestamp.valueOf(at), 1L, "click", 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // two open sessions for user 1: [00:00] and [00:40] (gap 30m)
    batch(1L -> "2024-01-01 00:00:00", 2L -> "2024-01-01 00:40:00")
      .write.mode("append").parquet(dir)
    val q = EventStream.sessionizeStream(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // out-of-order (but above-watermark) event at 00:20: within the
      // gap of BOTH open sessions, so all three events are one session.
      // Folding only against the most recent session would wrongly
      // leave [00:00] as its own 1-event session.
      batch(3L -> "2024-01-01 00:20:00").write.mode("append").parquet(dir)
      q.processAllAvailable()
      // far-future event closes everything
      batch(4L -> "2024-01-01 12:00:00").write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("late_sessions").filter(col("user_id") === 1L)
      .collect()
      .map(r => (r.getAs[Long]("session_start_us"), r.getAs[Long]("n_events"),
        r.getAs[Long]("duration_us")))
      .sortBy(_._1).toSeq
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    assert(sessions == Seq((t0, 3L, 40L * 60 * 1000000L)),
      s"the 00:20 event must bridge both open sessions into one: $sessions")
  }

  test("Rollup: incremental refresh equals full recompute; second refresh reads only new files") {
    import graft.sources.Rollup
    val root = Files.createTempDirectory("graft_rollup").toString
    // zero prune grace so the version-bound assertion below can
    // observe reclamation without waiting out the real window
    spark.conf.set("graft.rollup.pruneGraceMs", "0")
    def batch(n: Int, svc: String) =
      Tables.events(spark, sf).limit(n)
        .select(col("ts").as("timestamp"), lit(svc).as("service_name"),
                col("event_type").as("severity_text"), col("props").as("body"))
    def fullAgg() = LogSync.table(spark, root)
      .groupBy(col("service_name"), col("severity_text"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    def rollupMap() = Rollup.read(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    // batch 1: 6 files → sync → refresh folds all of them
    batch(300, "sA").repartition(6).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val p1 = Rollup.refresh(spark, root)
    assert(p1 == 6, s"first refresh must fold the 6 initial files, got $p1")
    assert(rollupMap() == fullAgg(), "rollup after batch 1 == full recompute")
    // batch 2: 3 more files → sync → refresh touches ONLY those 3
    batch(150, "sB").repartition(3).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val p2 = Rollup.refresh(spark, root)
    assert(p2 == 3, s"incremental refresh must process exactly the 3 new files, got $p2")
    assert(rollupMap() == fullAgg(), "merged rollup == full recompute over both batches")
    // idempotent: nothing new → no work, no new version
    assert(Rollup.refresh(spark, root) == 0)
    // a later sync must NOT register rollup bookkeeping parquet as data
    assert(LogSync.sync(spark, root) == 0,
      "_rollup metadata files must be invisible to sync")
    assert(fullAgg().values.sum == 450L)
    // version dirs stay BOUNDED: refreshes ran twice, but a per-batch
    // maintenance cadence must not accumulate one full copy each —
    // only the current and previous versions survive the advance
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_rollup"))
      .map(_.getPath.getName).filter(_.matches("v[0-9]+")).sorted.toSeq
    spark.conf.unset("graft.rollup.pruneGraceMs")
    assert(versions == Seq("v1", "v2"),
      s"superseded rollup versions must be pruned: $versions")
  }

  test("Rollup: row-level DML and restatements trigger a rebuild — counts never stale") {
    import graft.sources.{LakeDml, LogCompact, Rollup}
    val root = Files.createTempDirectory("graft_rollup_dml").toString
    Tables.events(spark, sf).limit(300)
      .select(col("ts").as("timestamp"),
        concat(lit("s"), col("user_id") % 2).as("service_name"),
        col("event_type").as("severity_text"), col("props").as("body"))
      .repartition(4).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    def fullAgg() = LogSync.table(spark, root)
      .groupBy(col("service_name"), col("severity_text"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    def rollupMap() = Rollup.read(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    // 0. a delete BEFORE the first refresh: the first fold must not
    // count the retracted rows (and must not lock the overcount in by
    // recording the registry token against a raw fold)
    LakeDml.deleteMor(spark, root,
      col("service_name") === "s1" && col("severity_text") === "view")
    assert(Rollup.refresh(spark, root) == 4)
    assert(rollupMap() == fullAgg(),
      "the FIRST refresh must already apply MOR deletes")
    assert(!rollupMap().contains(("s1", "view")))
    // 1. MOR position delete after the fold → refresh must rebuild
    LakeDml.deleteMor(spark, root,
      col("service_name") === "s0" && col("severity_text") === "view")
    assert(Rollup.refresh(spark, root) > 0, "registry movement must trigger a rebuild")
    assert(rollupMap() == fullAgg(), "rollup must equal recompute after deleteMor")
    // 2. equality delete → rebuild again
    import spark.implicits._
    LakeDml.deleteEq(spark, root, Seq("purchase").toDF("severity_text"))
    Rollup.refresh(spark, root)
    assert(rollupMap() == fullAgg(), "rollup must equal recompute after deleteEq")
    assert(!rollupMap().exists(_._1._2 == "purchase"))
    // 3. compaction restates every folded file → rebuild, still equal
    LogCompact.compact(spark, root)
    Rollup.refresh(spark, root)
    assert(rollupMap() == fullAgg(), "rollup must equal recompute after compaction")
    // 4. CoW delete → rebuild, still equal
    LakeDml.delete(spark, root, col("severity_text") === "signup")
    Rollup.refresh(spark, root)
    assert(rollupMap() == fullAgg(), "rollup must equal recompute after CoW delete")
    // 5. appends AFTER the dust settles stay incremental (fold, not rebuild:
    // processed count == the new files only) and idempotent
    Tables.events(spark, sf).limit(50)
      .select(col("ts").as("timestamp"), lit("s9").as("service_name"),
        col("event_type").as("severity_text"), col("props").as("body"))
      .coalesce(1).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    assert(Rollup.refresh(spark, root) == 1,
      "a plain append after DML must fold incrementally, not rebuild")
    assert(rollupMap() == fullAgg())
    assert(Rollup.refresh(spark, root) == 0)
  }

  test("a crashed DML commit neither resurrects rows via sync nor leaks files") {
    import graft.sources.{LakeDml, LogCompact}
    val root = Files.createTempDirectory("graft_dmlcrash").toString
    Tables.events(spark, sf).limit(100)
      .select(col("ts").as("timestamp"), lit("s0").as("service_name"),
        col("event_type").as("severity_text"), col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val want = LogSync.table(spark, root).count()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // a COMPLETED DML commit leaves no pending journal behind
    LakeDml.delete(spark, root, col("severity_text") === "view")
    val afterDelete = LogSync.table(spark, root).count()
    val pendingDir = new org.apache.hadoop.fs.Path(s"$root/_dml_pending")
    assert(!fs.exists(pendingDir) || fs.listStatus(pendingDir).isEmpty,
      "a committed DML must clean up its pending journal")

    // simulate a CRASH between the staged move and the manifest swap:
    // a restated copy of a registered file sits in live space, its
    // destination journaled, the manifest untouched
    val victim = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull).select("path").head.getString(0)
    val orphan = new org.apache.hadoop.fs.Path(root, "part-crashed-dml.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(victim),
      fs, orphan, false, spark.sparkContext.hadoopConfiguration)
    val journal = new org.apache.hadoop.fs.Path(s"$root/_dml_pending/pcrash")
    fs.mkdirs(journal.getParent)
    val out = fs.create(journal, true)
    out.write(fs.makeQualified(orphan).toString.getBytes("UTF-8")); out.close()

    // sync must NOT register the journaled orphan (it would duplicate
    // every surviving row of the restated file)
    assert(LogSync.sync(spark, root) == 0,
      "sync must exclude journaled in-flight DML output")
    assert(LogSync.table(spark, root).count() == afterDelete)

    // vacuum (after grace) reclaims the orphan AND its journal
    LogCompact.vacuum(spark, root, graceMs = 0L)
    assert(!fs.exists(orphan), "vacuum must reclaim the crashed commit's file")
    assert(!fs.exists(journal), "vacuum must age out the satisfied journal")
    assert(LogSync.sync(spark, root) == 0)
    assert(LogSync.table(spark, root).count() == afterDelete)
    assert(want > afterDelete)
  }

  test("deletesSince: retractions between polls surface exactly once; folds don't") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delcdc").toString
    Tables.events(spark, sf).limit(200)
      .select(col("ts").as("timestamp"),
        concat(lit("s"), col("user_id") % 2).as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .repartition(3).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val mark0 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    // nothing deleted yet → empty changelog
    assert(LogSync.deletesSince(spark, root, mark0).count() == 0)

    // a position delete surfaces the FULL deleted rows
    val wantGone = LogSync.table(spark, root)
      .filter(col("severity_text") === "view" && col("service_name") === "s0")
      .select("span_id").collect().map(_.getString(0)).toSet
    LakeDml.deleteMor(spark, root,
      col("severity_text") === "view" && col("service_name") === "s0")
    val inc1 = LogSync.deletesSince(spark, root, mark0)
    assert(inc1.filter(col("__delete_kind") === "pos").count() == wantGone.size)
    assert(inc1.select("span_id").collect().map(_.getString(0)).toSet == wantGone,
      "the changelog must carry the deleted rows themselves")
    assert(inc1.filter(col("body").isNull).count() == 0,
      "position retractions carry full rows")
    val mark1 = LogSync.deleteHighWaterMark(spark, root).get

    // an equality delete surfaces its KEYS (other columns null)
    Thread.sleep(20)
    LakeDml.deleteEq(spark, root, Seq("e3", "e4").toDF("span_id"))
    val inc2 = LogSync.deletesSince(spark, root, mark1)
    assert(inc2.count() == 2 &&
      inc2.filter(col("__delete_kind") === "eq").count() == 2)
    assert(inc2.select("span_id").collect().map(_.getString(0)).toSet == Set("e3", "e4"))
    assert(inc2.filter(col("body").isNotNull).count() == 0,
      "equality retractions are keyed — non-key columns are null")
    // the earlier retraction does NOT resurface after its mark
    assert(inc2.filter(col("__delete_kind") === "pos").count() == 0)
    val mark2 = LogSync.deleteHighWaterMark(spark, root).get

    // a fold re-files earlier retractions — the changelog must skip it
    Thread.sleep(20)
    LakeDml.deleteMor(spark, root, col("severity_text") === "signup")
    LakeDml.compactDeletes(spark, root)
    val inc3 = LogSync.deletesSince(spark, root, mark2)
    val signups = inc3.filter(col("severity_text") === "signup").count()
    assert(inc3.count() == signups && signups > 0,
      s"after a fold, only the NEW retraction surfaces: ${inc3.count()} vs $signups")
    // and the full history from mark0 still reads each retraction once
    val all = LogSync.deletesSince(spark, root, mark0)
    assert(all.count() == wantGone.size + 2 + signups,
      "each retraction surfaces exactly once across the whole history")
  }

  test("CDC triple: appends, upserts, and retractions each surface on their own channel") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdctriple").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(60)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val mark0 = LogSync.highWaterMark(spark, root).get
    Thread.sleep(20)

    // an UPSERT: replaced values surface on upsertsSince, NOT on the
    // append stream
    val targets = LogSync.table(spark, root).limit(5)
      .select(col("timestamp"), col("service_name"), col("severity_text"),
        col("span_id"), lit("UPDATED").as("body"))
    val novel = LogSync.table(spark, root).limit(1)
      .select(col("timestamp"), col("service_name"), col("severity_text"),
        lit("novel-1").as("span_id"), lit("NEW").as("body"))
    LakeDml.upsertMor(spark, root, targets.unionByName(novel), Seq("span_id"))
    assert(LogSync.tableSince(spark, root, mark0).count() == 0,
      "replacements must not masquerade as appends")
    val ups = LogSync.upsertsSince(spark, root, mark0)
    assert(ups.count() == 6)
    assert(ups.select("body").collect().map(_.getString(0)).toSet ==
      Set("UPDATED", "NEW"))

    // an EQUALITY retraction: keys on deletesSince, FULL rows (the
    // post-upsert values!) on deletedRowsSince
    val dmark = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    val victimKeys = ups.filter(col("body") === "UPDATED").limit(2)
      .select("span_id").collect().map(_.getString(0)).toSeq
    LakeDml.deleteEq(spark, root, victimKeys.toDF("span_id"))
    val keyed = LogSync.deletesSince(spark, root, dmark)
    assert(keyed.count() == 2 && keyed.filter(col("body").isNull).count() == 2)
    val full = LogSync.deletedRowsSince(spark, root, dmark)
    assert(full.count() == 2, s"materialized retractions: ${full.count()}")
    assert(full.select("body").collect().map(_.getString(0)).toSet == Set("UPDATED"),
      "materialization must surface the CURRENT (upserted) values, not originals")
    assert(full.select("span_id").collect().map(_.getString(0)).toSet ==
      victimKeys.toSet)

    // an upsertEq's INTERNAL retraction is not a genuine delete: the
    // default retraction channels stay silent (the new value surfaces
    // on upsertsSince — a keyed consumer replaces by key), while the
    // opt-in full stream materializes ONLY the retracted OLD row —
    // never the same-sequence surviving inserts
    Thread.sleep(20)
    val dmark2 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    val reclass = LogSync.table(spark, root).filter(col("body") === "UPDATED")
      .limit(1).select(col("timestamp"), col("service_name"),
        col("severity_text"), col("span_id"), lit("V2").as("body"))
    val key2 = reclass.select("span_id").head.getString(0)
    LakeDml.upsertEq(spark, root, reclass, Seq("span_id"))
    assert(LogSync.deletesSince(spark, root, dmark2).count() == 0,
      "upsert-born retractions must not surface as genuine deletes")
    assert(LogSync.deletedRowsSince(spark, root, dmark2).count() == 0,
      "nor materialize on the default full-row channel")
    assert(LogSync.upsertsSince(spark, root, dmark2)
      .filter(col("span_id") === key2).count() == 1,
      "the replacement value is the upsert channel's job")
    val full2 = LogSync.deletedRowsSince(spark, root, dmark2,
      includeUpserts = true)
    assert(full2.count() == 1 &&
      full2.head.getAs[String]("body") == "UPDATED" &&
      full2.head.getAs[String]("__delete_op") == "upsert",
      s"only the retracted OLD row may materialize: ${full2.collect().toSeq}")
    assert(LogSync.table(spark, root)
      .filter(col("span_id") === key2).head.getAs[String]("body") == "V2")

    // a RE-ADDED key after the retraction window surfaces as an
    // append, and never retro-enters the retraction channel
    Thread.sleep(20)
    Tables.events(spark, sf).limit(1)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        lit("view").as("severity_text"), lit(victimKeys.head).as("span_id"),
        lit("REBORN").as("body"))
      .write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    assert(LogSync.deletedRowsSince(spark, root, dmark)
      .filter(col("body") === "REBORN").count() == 0)
    assert(LogSync.tableSince(spark, root, mark0)
      .filter(col("body") === "REBORN").count() == 1)
  }

  test("convertEqDeletes: a CDC retraction stream retires eq deletes with NO data rewrite") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_eqconvert").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(120)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(3).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val mark0 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    val ids = LogSync.table(spark, root)
      .select("span_id").as[String].collect().sorted.toSeq

    // the CdcApply steady state: 3× the old forced-compaction
    // threshold of alternating upsert/delete retraction commits
    val nCommits = 3 * LakeDml.DeleteCompactionThreshold
    (0 until nCommits).foreach { i =>
      if (i % 2 == 0) {
        val k = ids(i / 2)
        val up = LogSync.table(spark, root).filter(col("span_id") === k)
          .select(col("timestamp"), col("service_name"),
            col("severity_text"), col("span_id"),
            lit(s"U$i").as("body"))
        LakeDml.upsertEq(spark, root, up, Seq("span_id"))
      } else LakeDml.deleteEq(spark, root,
        Seq(ids(60 + i / 2)).toDF("span_id"))
    }
    val eqActive = LogSync.deleteEntries(spark, root).count(_.isEq)
    assert(eqActive == nCommits,
      s"each commit leaves one active eq delete: $eqActive")

    // state BEFORE conversion: full table content, active data file
    // set, and the changelog a lagging consumer would read
    val before = LogSync.table(spark, root)
      .select("span_id", "body").orderBy("span_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dataBefore = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull).select("path")
      .collect().map(_.getString(0)).toSet
    val delsBefore = LogSync.deletesSince(spark, root, mark0)
      .select("span_id").as[String].collect().sorted.toSeq

    // force the PAST-CAP branch (root scan + candidate join): this
    // test certifies the no-driver-path fallback; the bloom and
    // steady-state specs cover the explicit-path fast branch
    spark.conf.set("graft.lake.convertExplicitPathCap", "0")
    val (retired, posRows) =
      try LakeDml.convertEqDeletes(spark, root)
      finally spark.conf.unset("graft.lake.convertExplicitPathCap")
    assert(retired == nCommits && posRows > 0)
    assert(LogSync.deleteEntries(spark, root).count(_.isEq) == 0,
      "the per-scan eq anti-join count must drop to zero")
    val dataAfter = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull).select("path")
      .collect().map(_.getString(0)).toSet
    assert(dataAfter == dataBefore,
      "conversion must not rewrite, add, or drop any data file")
    val after = LogSync.table(spark, root)
      .select("span_id", "body").orderBy("span_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(after == before, "reads must be value-identical across conversion")
    // the changelog still surfaces each original retraction exactly
    // once (converted position files are op="fold", skipped)
    val delsAfter = LogSync.deletesSince(spark, root, mark0)
      .select("span_id").as[String].collect().sorted.toSeq
    assert(delsAfter == delsBefore,
      "a lagging deletesSince consumer must see the same retractions")
    // idempotent: nothing left to convert
    assert(LakeDml.convertEqDeletes(spark, root) == ((0, 0L)))
  }

  test("convertEqDeletes: a key-column bloom index prunes the candidate scan") {
    import graft.sources.{LakeDml, LakeIndex}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_eqconvidx").toString
    // three single-file batches with disjoint key prefixes — the
    // shape a span-indexed lake has, where a retraction batch's keys
    // live in a handful of files
    Seq("a", "b", "c").foreach { tag =>
      Tables.events(spark, sf).orderBy(col("event_id")).limit(40)
        .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
          col("event_type").as("severity_text"),
          concat(lit(tag), col("event_id")).as("span_id"),
          col("props").as("body"))
        .coalesce(1).write.mode("append").parquet(root)
      LogSync.sync(spark, root)
    }
    LakeIndex.build(spark, root, "span_id")
    val victims = LogSync.table(spark, root)
      .filter(col("span_id").startsWith("a")).limit(2)
      .select("span_id").as[String].collect().toSeq
    LakeDml.deleteEq(spark, root, victims.toDF("span_id"))
    val want = LogSync.table(spark, root).count()
    val eqs = LogSync.deleteEntries(spark, root).filter(_.isEq)
    val total = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull).count()
    val cand = LakeDml.convertCandidateRel(spark, root, Seq("span_id"), eqs)
      .count()
    assert(cand < total && cand >= 1,
      s"bloom probe must prune the candidate files: $cand of $total")
    // pruning never changes the outcome
    val (retired, posRows) = LakeDml.convertEqDeletes(spark, root)
    assert(retired == 1 && posRows == 2)
    assert(LogSync.table(spark, root).count() == want)
    assert(LogSync.table(spark, root)
      .filter(col("span_id").isin(victims: _*)).count() == 0)
    assert(LogSync.deleteEntries(spark, root).count(_.isEq) == 0)
  }

  test("CDC triple composition: a keyed consumer converges to the table across a mixed history") {
    import graft.sources.{LakeDml, LogCompact}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdcconverge").toString
    def mkRows(lo: Int, hi: Int) = Tables.events(spark, sf)
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))

    // the derived store the contract promises a consumer can maintain
    // WITHOUT ever rescanning the lake: insert from tableSince,
    // replace-by-key from upsertsSince, remove-by-key from
    // deletesSince (driver map — the spec's store, not the mechanism)
    var store = Map.empty[String, String]
    var dataMark = new java.sql.Timestamp(0L)
    var delMark = new java.sql.Timestamp(0L)
    def poll(): Unit = {
      val appends = LogSync.tableSince(spark, root, dataMark)
        .select("span_id", "body").collect()
      val ups = LogSync.upsertsSince(spark, root, dataMark)
        .select("span_id", "body").collect()
      val dels = LogSync.deletesSince(spark, root, delMark)
        .select("span_id").collect()
      appends.foreach(r => store += r.getString(0) -> r.getString(1))
      ups.foreach(r => store += r.getString(0) -> r.getString(1))
      dels.foreach(r => store -= r.getString(0))
      LogSync.highWaterMark(spark, root).foreach(m => dataMark = m)
      LogSync.deleteHighWaterMark(spark, root).foreach(m => delMark = m)
      Thread.sleep(20)
    }
    def tableNow(): Map[String, String] = LogSync.table(spark, root)
      .select("span_id", "body").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // 1. seed append + 2. second append
    mkRows(0, 60).coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root); poll()
    mkRows(60, 90).coalesce(1).write.mode("append").parquet(root)
    LogSync.sync(spark, root); poll()
    assert(store == tableNow(), "converged after appends")

    // 3. keyed upsert (replacements + a novel key)
    val ups = LogSync.table(spark, root)
      .filter(col("span_id").isin("e1", "e2", "e3"))
      .withColumn("body", lit("UPD"))
      .unionByName(LogSync.table(spark, root).filter(col("span_id") === "e5")
        .withColumn("span_id", lit("novel-1")).withColumn("body", lit("NEW")))
    LakeDml.upsertEq(spark, root, ups, Seq("span_id")); poll()
    assert(store == tableNow(), "converged after upsertEq")

    // 4. keyed retraction (including a row the upsert just wrote)
    LakeDml.deleteEq(spark, root, Seq("e2", "e10").toDF("span_id")); poll()
    assert(store == tableNow(), "converged after deleteEq")

    // 5. maintenance must be INVISIBLE to the consumer: conversion
    // re-files retractions as op="fold", compaction registers
    // rewrites — neither channel may resurface anything
    LakeDml.convertEqDeletes(spark, root)
    LogCompact.compact(spark, root)
    val before = store
    poll()
    assert(store == before, "maintenance surfaces no changelog entries")
    assert(store == tableNow(), "converged across convert + compact")

    // 6. post-compaction life continues on the same marks
    LakeDml.upsertEq(spark, root,
      LogSync.table(spark, root).filter(col("span_id") === "e7")
        .withColumn("body", lit("UPD2")), Seq("span_id"))
    mkRows(90, 100).coalesce(1).write.mode("append").parquet(root)
    LogSync.sync(spark, root); poll()
    assert(store == tableNow(),
      "the triple keeps a keyed consumer exactly convergent for the lake's whole life")
  }

  test("convertEqDeletes: per-group commit survives a crash mid-loop — retired groups stay retired") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_eqconvcrash").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(60)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    // two groups; processing order is deterministic by column set:
    // "severity_text" sorts before "span_id", so severity converts
    // first and span_id second
    LakeDml.deleteEq(spark, root, Seq("view").toDF("severity_text"))
    LakeDml.deleteEq(spark, root, Seq("e1", "e2").toDF("span_id"))
    // simulate a crash INSIDE the second group: its delete parquet
    // vanishes from disk, so the group's conversion scan fails after
    // the first group already committed
    val spanEntry = LogSync.deleteEntries(spark, root)
      .find(e => e.isEq && e.eqCols == Seq("span_id")).get
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(spanEntry.path), false)
    intercept[Exception] { LakeDml.convertEqDeletes(spark, root) }
    // the first group's eq entries are RETIRED despite the crash —
    // tombstoned in their own per-group swap, its position rows
    // registered; the crashed group alone stays active for the rerun.
    // (Pre-fix behavior — one registry swap at the very end — would
    // leave BOTH groups active and every rerun would re-convert and
    // re-append the first group's position rows.)
    val leftEq = LogSync.deleteEntries(spark, root).filter(_.isEq)
    assert(leftEq.map(_.eqCols) == Seq(Seq("span_id")),
      s"only the crashed group may stay active: ${leftEq.map(_.eqCols)}")
    assert(LogSync.deleteEntries(spark, root).exists(e =>
      !e.isEq && e.op == "fold"),
      "the committed group's position rows must be registered")
  }

  test("deletesSince pos path: forced cap-0 root-scan agrees with the explicit-path read") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delcap").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(120)
      .select(col("ts").as("timestamp"),
        concat(lit("s"), col("user_id") % 3).as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(3).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val mark0 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    LakeDml.deleteMor(spark, root, col("severity_text") === "view")
    def read() = LogSync.deletesSince(spark, root, mark0)
      .select("span_id").as[String].collect().sorted.toSeq
    val explicit = read()
    assert(explicit.nonEmpty)
    // cap 0 forces the no-driver-path fallback: root scan restricted
    // by the (file, pos) semi-join — must agree row-for-row
    spark.conf.set("graft.lake.deletesSinceExplicitPathCap", "0")
    val viaRoot =
      try read()
      finally spark.conf.unset("graft.lake.deletesSinceExplicitPathCap")
    assert(viaRoot == explicit,
      "the capped fallback must surface exactly the same retractions")
  }

  test("compact: an interleaved eq delete lands above the restated files — no resurrection") {
    import graft.sources.{LakeDml, LogCompact}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_seqtie").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(80)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(4).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val nBefore = LogSync.table(spark, root).count()
    // the race the planning reservation exists for: the compaction
    // scan is already frozen (its delete set resolved) when a CDC
    // retraction commits. Without the reservation the delete's
    // nextSeq TIES the restated files' planning sequence and the
    // strictly-below rule resurrects e5/e6 in the compacted files.
    LogCompact.compactImpl(spark, root,
      graft.sources.LogWriter.DefaultMaxRecordsPerFile, None, None,
      () => { LakeDml.deleteEq(spark, root, Seq("e5", "e6").toDF("span_id")); () })
    val t = LogSync.table(spark, root)
    assert(t.filter(col("span_id").isin("e5", "e6")).count() == 0,
      "rows retracted mid-compaction must stay retracted (no resurrection)")
    assert(t.count() == nBefore - 2)
    // structurally: the interleaved delete's sequence sits STRICTLY
    // ABOVE the restated files' (reservation honored), and compact
    // did not tombstone it (registered after the planning capture)
    val delSeq = LogSync.deleteEntries(spark, root).filter(_.isEq).map(_.seq).max
    val restatedSeq = LogSync.manifest(spark, root)
      .filter(col("removed_at").isNull && col("op") === "rewrite")
      .agg(max(col("seq"))).head().getLong(0)
    assert(delSeq > restatedSeq,
      s"delete seq $delSeq must exceed the restated files' $restatedSeq")
    // the reservation is released after the swap — nothing lingers
    assert(LogSync.reservedSeqs(spark, root).isEmpty)
  }

  test("eq-delete sequence attach: forced-shuffle path agrees with the broadcast path") {
    import graft.sources.LakeDml
    import spark.implicits._
    val root = Files.createTempDirectory("graft_seqcap").toString
    Tables.events(spark, sf).orderBy(col("event_id")).limit(60)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val ids = LogSync.table(spark, root)
      .select("span_id").as[String].collect().sorted.toSeq
    LakeDml.deleteEq(spark, root, ids.take(3).toDF("span_id"))
    def readAll(): Seq[String] = LogSync.table(spark, root)
      .select("span_id").as[String].collect().sorted.toSeq
    val viaBroadcast = readAll()
    assert(viaBroadcast.size == 57)
    // force the manifest-cardinality attach past its broadcast cap:
    // the anti-join must shuffle and produce the identical table
    spark.conf.set("graft.lake.seqBroadcastRowCap", "0")
    try assert(readAll() == viaBroadcast,
      "the shuffled sequence attach must agree with the broadcast one")
    finally spark.conf.unset("graft.lake.seqBroadcastRowCap")
  }

  test("tableBetween: manifest zone-maps prune files, result equals the direct filter") {
    val root = LakeAnalytics.lakeRoot(spark, sf)
    val (kept, total) = LogSync.statsPruneCounts(spark, root, "2024-01-12", "2024-01-14")
    assert(total > 0)
    assert(kept > 0 && kept < total,
      s"a 2-day window over a multi-week lake must skip files: kept=$kept total=$total")
    val from = lit("2024-01-12 00:00:00").cast("timestamp")
    val until = lit("2024-01-14 00:00:00").cast("timestamp")
    val want = LogSync.table(spark, root)
      .filter(col("timestamp") >= from && col("timestamp") < until).count()
    val got = LogSync.tableBetween(spark, root, "2024-01-12", "2024-01-14").count()
    assert(got == want && got > 0,
      s"pruning must never change results: got=$got want=$want")
  }

  test("tableMerged: a column added by later files reads as union schema, nulls for old") {
    val root = Files.createTempDirectory("graft_evolve").toString
    val base = Tables.events(spark, sf).limit(200)
      .select(col("ts").as("timestamp"), lit("s0").as("service_name"),
        col("props").as("body"))
    base.write.mode("append").parquet(root)
    assert(LogSync.sync(spark, root) >= 1)
    // the converter starts emitting a new attribute column
    base.withColumn("deploy_id", lit("v2"))
      .write.mode("append").parquet(root)
    assert(LogSync.sync(spark, root) >= 1)
    val merged = LogSync.tableMerged(spark, root)
    assert(merged.columns.contains("deploy_id"),
      "union schema must include the late-added column")
    val byDeploy = merged.groupBy(col("deploy_id")).count().collect()
      .map(r => Option(r.getString(0)) -> r.getAs[Long]("count")).toMap
    assert(byDeploy == Map(None -> 200L, Some("v2") -> 200L),
      s"old files must surface null for the new column: $byDeploy")
  }

  test("compact: sorted rewrite tightens zone-maps so time windows prune files") {
    import graft.sources.LogCompact
    val root = Files.createTempDirectory("graft_sortcompact").toString
    val ev = Tables.events(spark, sf)
      .select(col("ts").as("timestamp"),
        concat(lit("s"), col("user_id") % 4).as("service_name"), col("props").as("body"))
    val total = ev.count()
    // hash-repartitioned write: every one of the 8 files spans ~the
    // whole month, so zone-maps cannot prune a narrow window
    ev.repartition(8).write.mode("append").parquet(root)
    assert(LogSync.sync(spark, root) >= 8)
    val (k0, t0) = LogSync.statsPruneCounts(spark, root, "2024-01-10", "2024-01-12")
    assert(k0 == t0, s"interleaved files should all overlap the window: $k0/$t0")
    val want = LogSync.tableBetween(spark, root, "2024-01-10", "2024-01-12").count()
    // compaction range-partitions by timestamp: output files get
    // disjoint time ranges, and the re-statted manifest reflects it
    LogCompact.compact(spark, root, maxRecordsPerFile = math.max(1L, total / 8))
    val (k1, t1) = LogSync.statsPruneCounts(spark, root, "2024-01-10", "2024-01-12")
    assert(t1 >= 8 && k1 < t1,
      s"sorted rewrite must make the window prunable: kept=$k1 total=$t1")
    val got = LogSync.tableBetween(spark, root, "2024-01-10", "2024-01-12").count()
    assert(got == want, "clustering must not change query results")
  }

  test("viewToPurchase: stream-stream interval join equals the batch join") {
    val dir = Files.createTempDirectory("graft_ssj").toString
    Tables.events(spark, sf).limit(2000)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .write.mode("append").parquet(dir)
    val q = EventStream.viewToPurchase(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("ssj_pairs")
      .outputMode("append").start()
    try { q.processAllAvailable(); q.processAllAvailable() } finally q.stop()
    val got = spark.table("ssj_pairs").collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("lag_us"))).toSet
    // Tables.events already emitted µs timestamps, so the rewritten
    // parquet reads back as TimestampType on both the stream and here
    val ev = spark.read.parquet(dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val want = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("view_ts"))).as("lag_us"))
      .collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("lag_us"))).toSet
    assert(want.nonEmpty, "corpus should contain view->purchase pairs within 30 min")
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("viewToPurchaseOuter: unmatched views emit NULL exactly once after watermark closes") {
    val dir = Files.createTempDirectory("graft_ssjo").toString
    Tables.events(spark, sf).limit(2000)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .write.mode("append").parquet(dir)
    val q = EventStream.viewToPurchaseOuter(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("ssjo_pairs")
      .outputMode("append").start()
    try { q.processAllAvailable(); q.processAllAvailable() } finally q.stop()
    val rows = spark.table("ssjo_pairs").collect()
    val matched = rows.filter(!_.isNullAt(2))
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"))).toSet
    val unmatchedIds = rows.filter(_.isNullAt(2)).map(_.getAs[Long]("view_id")).toSeq
    // batch reference
    val ev = spark.read.parquet(dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val batchMatched = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("purchase_id")).collect()
      .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(matched == batchMatched, "matched pairs identical to the inner/batch join")
    // the engine may only emit a NULL row once the watermark PROVES no
    // purchase can arrive: views older than maxTs - 1h - 30min with no
    // batch match must all have emitted exactly once; newer unmatched
    // views may legitimately still sit in state at stop
    val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val horizon = maxTs - (60L + 30L) * 60L * 1000000L
    val mustEmit = views.filter(unix_micros(col("view_ts")) < horizon)
      .collect().map(_.getAs[Long]("view_id")).toSet -- batchMatched.map(_._1)
    assert(mustEmit.nonEmpty, "need some provably-unconverted views at this sf")
    assert(mustEmit.subsetOf(unmatchedIds.toSet),
      s"missing null emissions: ${(mustEmit -- unmatchedIds.toSet).take(5)}")
    assert(unmatchedIds.distinct.size == unmatchedIds.size,
      "each unconverted view emits exactly once")
    // no view appears both matched and null-emitted
    assert((unmatchedIds.toSet & batchMatched.map(_._1)).isEmpty)
  }

  test("anomalyStream: streamed verdicts equal the batch operator on closed buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_anom").toString
    // one type, 8 quiet hours then a 10x spike at hour 9, quiet after
    val perHour = Seq(5, 5, 5, 5, 5, 5, 5, 5, 50, 5)
    var id = 0L
    def rows(hours: Seq[Int], counts: Seq[Int]) =
      hours.zip(counts).flatMap { case (h, n) =>
        (0 until n).map { i =>
          id += 1
          (id, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:${i % 60}%02d:00"),
            1L, "click", 0.0, "{}")
        }
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows(0 until 10, perHour).write.mode("append").parquet(dir)
    val q = EventStream.anomalyStream(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("anom_alerts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // two far-future sentinels: the watermark lags one batch, and a
      // group is only invoked when it has input — so the first advances
      // the watermark past the real buckets, the second triggers the
      // invocation that closes them
      rows(Seq(30), Seq(1)).write.mode("append").parquet(dir)
      q.processAllAvailable()
      rows(Seq(60), Seq(1)).write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_alerts")
      .filter(col("bucket") < "2024-01-02").collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n"),
        r.getAs[Long]("trailing_n"), r.getAs[Boolean]("is_anomaly")))
      .sortBy(_._1).toSeq
    assert(streamed.length == 10, s"all 10 real buckets must close: $streamed")
    // only the spike hour alerts, and only once trailing window is full
    assert(streamed.count(_._4) == 1 && streamed(8)._4, s"exactly hour 8 alerts: $streamed")
    assert(streamed(8)._2 == 50 && streamed(8)._3 == 6 * 5)
    // exact agreement with the batch operator's integer verdicts
    val batchRows = graft.operators.LogAnalytics.anomaly(spark, sf).collect()
    assert(batchRows.nonEmpty) // batch path alive on the standard table too
  }

  test("trendStream: streamed EWMA equals the batch operator bit-for-bit on closed buckets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_trend").toString
    // one type, a varied 10-hour series (ramps + a spike)
    val perHour = Seq(5, 8, 13, 7, 5, 40, 9, 5, 5, 12)
    var id = 0L
    def rows(hours: Seq[Int], counts: Seq[Int]) =
      hours.zip(counts).flatMap { case (h, n) =>
        (0 until n).map { i =>
          id += 1
          (id, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:${i % 60}%02d:00"),
            1L, "click", 0.0, "{}")
        }
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows(0 until 10, perHour).write.mode("append").parquet(s"$dir/events.parquet")
    val q = EventStream.trendStream(
        EventStream.read(spark, s"$dir/events.parquet"))
      .writeStream.format("memory").queryName("trend_points")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // watermark sentinels (see anomalyStream spec)
      rows(Seq(30), Seq(1)).write.mode("append").parquet(s"$dir/events.parquet")
      q.processAllAvailable()
      rows(Seq(60), Seq(1)).write.mode("append").parquet(s"$dir/events.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trend_points")
      .filter(col("bucket") < "2024-01-02").collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n"), r.getAs[Double]("ewma")))
      .sortBy(_._1).toSeq
    assert(streamed.length == 10, s"all 10 real buckets must close: $streamed")
    // bit-for-bit agreement with the batch lag polynomial on the same data
    val batch = graft.operators.LogAnalytics.trend(spark, dir).collect()
      .filter(r => r.getAs[String]("bucket") < "2024-01-02")
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("n"), r.getAs[Double]("ewma")))
      .sortBy(_._1).toSeq
    assert(streamed == batch,
      s"stream and batch EWMA must be identical:\n  stream=$streamed\n  batch=$batch")
  }

  test("windowedHeavyHitters: streamed per-window bounds hold vs exact batch counts") {
    val dir = Files.createTempDirectory("graft_hhstream").toString
    Tables.events(spark, sf).limit(4000)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .write.mode("append").parquet(dir)
    val q = EventStream.windowedHeavyHitters(EventStream.read(spark, dir), m = 32)
      .writeStream.format("memory").queryName("hh_windows")
      .outputMode("append").start()
    try { q.processAllAvailable(); q.processAllAvailable() } finally q.stop()
    val got = spark.table("hh_windows").collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("user_id")) ->
        (r.getAs[Long]("est_min"), r.getAs[Long]("est_max")))
    assert(got.nonEmpty, "watermark must have closed at least one window")
    val exact = spark.read.parquet(dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("user_id").cast("string").as("u"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("h"), r.getAs[String]("u")) -> r.getAs[Long]("n")).toMap
    got.foreach { case (key, (lo, hi)) =>
      val t = exact.getOrElse(key, 0L)
      assert(lo <= t && t <= hi, s"window/user $key: bounds [$lo,$hi] exclude true $t")
    }
  }

  test("windowSeverity equals the direct events aggregate over the window") {
    val got = LakeAnalytics.windowSeverity(spark, sf).collect()
      .map(r => (r.getAs[String]("service_name"), r.getAs[String]("severity_text")) ->
        r.getAs[Long]("n")).toMap
    val from = lit("2024-01-12 00:00:00").cast("timestamp")
    val until = lit("2024-01-14 00:00:00").cast("timestamp")
    val want = Tables.events(spark, sf)
      .filter(col("ts") >= from && col("ts") < until)
      .groupBy(concat(lit("svc-"), col("user_id") % 10).as("s"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got == want, "zone-map-pruned window query must be lossless")
  }

  test("tableSince: appends after the mark consumed once; rewrites and old appends skipped") {
    val root = Files.createTempDirectory("graft_inc").toString
    def write(n: Int, skip: Int) = Tables.events(spark, sf).orderBy("event_id")
      .offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
              col("props").as("body"))
      .repartition(4)
      .write.mode("append").parquet(root)
    write(60, 0)
    LogSync.sync(spark, root)
    val mark0 = LogSync.highWaterMark(spark, root).get
    // nothing new since the newest registration
    assert(LogSync.tableSince(spark, root, mark0).count() == 0)
    Thread.sleep(50)
    write(40, 60)
    LogSync.sync(spark, root)
    val inc = LogSync.tableSince(spark, root, mark0)
    assert(inc.count() == 40, "incremental read = exactly the second batch")
    // compaction is a REWRITE commit: it must not re-surface old rows
    // to an incremental consumer, and the tombstoned second-batch
    // append files must stay readable (consumer lag < vacuum horizon)
    Thread.sleep(50)
    graft.sources.LogCompact.compact(spark, root)
    assert(LogSync.tableSince(spark, root, mark0).count() == 40,
      "rewrite commit must be invisible to the incremental reader")
    // the mark advances past the rewrite: a consumer polling after
    // compaction sees nothing new
    val mark1 = LogSync.highWaterMark(spark, root).get
    assert(LogSync.tableSince(spark, root, mark1).count() == 0)
    // sanity: the full table still reads exactly once per row
    assert(LogSync.table(spark, root).count() == 100)
  }

  test("branch: zero-copy pin survives appends and compaction; rebranch moves the pin") {
    val root = Files.createTempDirectory("graft_branch").toString
    def write(n: Int, skip: Int) = Tables.events(spark, sf).orderBy("event_id")
      .offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
              col("props").as("body"))
      .repartition(3)
      .write.mode("append").parquet(root)
    write(60, 0)
    LogSync.sync(spark, root)
    LogSync.branch(spark, root, "exp1")
    val pinned = LogSync.tableBranch(spark, root, "exp1")
    assert(pinned.count() == 60)
    // no data was copied: the branch dir holds only manifest rows
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val branchFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_branch_exp1"))
    assert(branchFiles.forall(_.getLen < 64 * 1024), "branch must be metadata-only")
    // main evolves: append + compaction; the branch must not move
    write(40, 60)
    LogSync.sync(spark, root)
    Thread.sleep(50)
    graft.sources.LogCompact.compact(spark, root)
    assert(LogSync.table(spark, root).count() == 100)
    assert(LogSync.tableBranch(spark, root, "exp1").count() == 60,
      "branch must still read the pinned (now tombstoned) files")
    // re-branching under the same name moves the pin to the current state
    LogSync.branch(spark, root, "exp1")
    assert(LogSync.tableBranch(spark, root, "exp1").count() == 100)
  }

  test("layout evolution is rejected with guidance; zone-map clustering is the evolve path") {
    val root = Files.createTempDirectory("graft_evolvepart").toString
    LogWriter.write(
      Tables.events(spark, sf).limit(200)
        .select(col("ts").as("timestamp"),
          concat(lit("svc-"), col("user_id") % 3).as("service_name"),
          col("props").as("body")),
      root, layout = LogWriter.DailyLayout)
    LogSync.sync(spark, root)
    // cross-depth directory evolution would leave the root unreadable
    // (old-depth files coexist until vacuum): compact must refuse and
    // point at the supported path
    val e = intercept[IllegalArgumentException] {
      graft.sources.LogCompact.compact(spark, root,
        layout = Some(Seq("service_name")))
    }
    assert(e.getMessage.contains("clusterBy"), s"guidance missing: ${e.getMessage}")
    // the table stayed readable throughout
    assert(LogSync.table(spark, root).count() == 200)
    // same-layout compaction with clusterBy (the supported evolution)
    // still works and keeps results identical
    val before = LogSync.table(spark, root)
      .groupBy("service_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Thread.sleep(50)
    graft.sources.LogCompact.compact(spark, root,
      clusterBy = Some(Seq("service_name", "timestamp")))
    val after = LogSync.table(spark, root)
      .groupBy("service_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before, "clustered rewrite must not change query results")
  }

  test("vacuum honors branch pins; dropBranch releases them") {
    val root = Files.createTempDirectory("graft_branch_vac").toString
    def write(n: Int, skip: Int) = Tables.events(spark, sf).orderBy("event_id")
      .offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
              col("props").as("body"))
      .repartition(3)
      .write.mode("append").parquet(root)
    write(60, 0)
    LogSync.sync(spark, root)
    LogSync.branch(spark, root, "pin")
    write(40, 60)
    LogSync.sync(spark, root)
    Thread.sleep(60)
    graft.sources.LogCompact.compact(spark, root) // tombstones every pre-compaction file
    Thread.sleep(60)
    // zero grace: without the pin every tombstoned file would be reclaimed
    val removedPinned = graft.sources.LogCompact.vacuum(spark, root, graceMs = 0)
    assert(LogSync.tableBranch(spark, root, "pin").count() == 60,
      s"branch must survive vacuum (removed $removedPinned files)")
    assert(LogSync.table(spark, root).count() == 100, "main table intact")
    // releasing the pin lets the next vacuum reclaim the branch's files
    LogSync.dropBranch(spark, root, "pin")
    Thread.sleep(60)
    val removedAfter = graft.sources.LogCompact.vacuum(spark, root, graceMs = 0)
    assert(removedAfter > 0, "released files must be reclaimed")
    assert(LogSync.table(spark, root).count() == 100, "main table still intact")
    intercept[IllegalArgumentException] {
      LogSync.tableBranch(spark, root, "pin")
    }
  }

  test("LakeFollow: two appends + a compaction land exactly-once, replay included") {
    import graft.streaming.LakeFollow
    val root = Files.createTempDirectory("graft_follow_lake").toString
    val marks = Files.createTempDirectory("graft_follow_marks").toString
    def write(n: Int, skip: Int): Unit = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("event_id"), col("ts").as("timestamp"),
              lit("svc").as("service_name"), col("props").as("body"))
      .repartition(2)
      .write.mode("append").parquet(root)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long] // event_ids landed
    def drain(): Unit = LakeFollow.poll(spark, root, marks).foreach { inc =>
      seen ++= inc.rows.select("event_id").collect().map(_.getLong(0))
      LakeFollow.commit(spark, root, marks, inc)
    }
    // append 1
    write(60, 0); LogSync.sync(spark, root)
    // replay: poll twice WITHOUT committing — the increment must be
    // the same both times (nothing consumed until commit)
    val p1 = LakeFollow.poll(spark, root, marks).get
    val p1again = LakeFollow.poll(spark, root, marks).get
    assert(p1.paths == p1again.paths, "uncommitted increment must replay identically")
    drain()
    assert(seen.sorted == (0L until 60L), s"append 1 lands exactly once")
    assert(LakeFollow.poll(spark, root, marks).isEmpty, "caught up after commit")
    // append 2 + compaction: only the new rows emit — the compaction's
    // rewrite files carry no new rows and must be invisible to CDC
    write(40, 60); LogSync.sync(spark, root)
    Thread.sleep(60)
    graft.sources.LogCompact.compact(spark, root)
    drain()
    assert(seen.sorted == (0L until 100L),
      "append 2 lands exactly once; compaction re-emits nothing")
    assert(LakeFollow.poll(spark, root, marks).isEmpty)
    // a poll bounded below the backlog drains it over multiple rounds
    val marks2 = Files.createTempDirectory("graft_follow_marks2").toString
    var rounds = 0
    var n2 = 0L
    var inc2 = LakeFollow.poll(spark, root, marks2, maxFilesPerPoll = 1)
    while (inc2.nonEmpty && rounds < 50) {
      assert(inc2.get.paths.length == 1)
      n2 += inc2.get.rows.count(); LakeFollow.commit(spark, root, marks2, inc2.get)
      rounds += 1
      inc2 = LakeFollow.poll(spark, root, marks2, maxFilesPerPoll = 1)
    }
    assert(n2 == 100L && rounds > 1,
      s"bounded polls must drain the backlog one file per round ($rounds rounds)")
    // the continuous form: a third append consumed by the streaming query
    val buf = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    write(20, 100); LogSync.sync(spark, root)
    val ckpt = Files.createTempDirectory("graft_follow_ckpt").toString
    val q = LakeFollow.follow(spark, root, marks, ckpt,
      (rows, _) => rows.select("event_id").collect().foreach(r => buf.add(r.getLong(0))))
    // the rate clock needs a tick to exist before processAllAvailable
    // has anything to drain
    try { Thread.sleep(1500); q.processAllAvailable() } finally q.stop()
    assert(seen.size == 100 && buf.size() == 20,
      s"stream consumes exactly the third append, got ${buf.size()}")
    assert(LakeFollow.poll(spark, root, marks).isEmpty)
  }

  test("LakeFollow: consumed store folds to a watermark — bounded by live files, replay intact") {
    import graft.streaming.LakeFollow
    val root = Files.createTempDirectory("graft_fold_lake").toString
    val marks = Files.createTempDirectory("graft_fold_marks").toString
    def write(n: Int, skip: Int): Unit = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("event_id"), col("ts").as("timestamp"),
              lit("svc").as("service_name"), col("props").as("body"))
      .repartition(4)
      .write.mode("append").parquet(root)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = LakeFollow.poll(spark, root, marks).foreach { inc =>
      seen ++= inc.rows.select("event_id").collect().map(_.getLong(0))
      LakeFollow.commit(spark, root, marks, inc)
    }
    def explicitRows(): Long = LakeFollow.consumedStore(spark, marks)._1.count()
    // several append→consume cycles, a compaction between them
    var appended = 0
    (0 until 3).foreach { i =>
      write(20, i * 20); appended += 4; LogSync.sync(spark, root); drain()
    }
    val beforeFold = explicitRows()
    assert(beforeFold == appended, s"pre-compaction store lists all $appended files")
    Thread.sleep(60)
    graft.sources.LogCompact.compact(spark, root) // tombstones all 12 appends
    // next consumed increment triggers the fold at ITS commit
    write(20, 60); LogSync.sync(spark, root); drain()
    val afterFold = explicitRows()
    assert(afterFold == 4,
      s"tombstoned consumed paths must fold into the watermark: store has $afterFold rows " +
        s"(was $beforeFold + 4 new)")
    assert(LakeFollow.consumedStore(spark, marks)._2.nonEmpty, "watermark row written")
    // the full consumed set is still reconstructible for corpus readers
    assert(LakeFollow.consumedPaths(spark, root, marks).count() == (appended + 4).toLong,
      "explicit ∪ watermark-implied must equal the historical consumed set")
    // no re-emission: every path is consumed explicitly or via watermark
    assert(LakeFollow.poll(spark, root, marks).isEmpty, "nothing re-emits after the fold")
    assert(seen.sorted == (0L until 80L), "all rows landed exactly once across the fold")
    // an unconsumed tombstoned append must BLOCK the watermark, not vanish:
    // append two files, consume NOTHING, compact, then append+consume one more
    write(10, 80); LogSync.sync(spark, root)
    Thread.sleep(60)
    graft.sources.LogCompact.compact(spark, root)
    write(10, 90); LogSync.sync(spark, root); drain(); drain()
    // drains pick up: the unconsumed pre-compaction appends AND the new file
    assert(seen.sorted == (0L until 100L),
      "rows appended before an unconsumed compaction still land exactly once")
    assert(LakeFollow.poll(spark, root, marks).isEmpty)
  }

  test("DedupFollow: streamed increments' pairs union to the exact batch edge set") {
    import graft.streaming.{DedupFollow, LakeFollow}
    import graft.operators.Dedup
    val root = Files.createTempDirectory("graft_deddup_lake").toString
    val marks = Files.createTempDirectory("graft_deddup_marks").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    // stream the corpus in three arrival batches (uncapped df so the
    // per-increment index equals the batch index — see Scaladoc)
    val cap = 1000000
    val streamed = scala.collection.mutable.Set.empty[(Long, Long)]
    Seq(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)).foreach { batch =>
      batch.write.mode("append").parquet(root)
      LogSync.sync(spark, root)
      val inc = LakeFollow.poll(spark, root, marks).get
      val pairs = DedupFollow.incrementPairs(spark, root, marks, inc, dfCap = cap)
        .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")))
      pairs.foreach { p =>
        assert(!streamed.contains(p), s"pair $p emitted by two increments")
      }
      streamed ++= pairs
      LakeFollow.commit(spark, root, marks, inc)
    }
    assert(LakeFollow.poll(spark, root, marks).isEmpty, "stream caught up")
    val batchEdges = Dedup.ngramJaccardOn(docs, cap).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(batchEdges.nonEmpty)
    assert(streamed.toSet == batchEdges,
      s"streamed dedup must equal batch dedup: missing ${batchEdges -- streamed}, " +
        s"extra ${streamed.toSet -- batchEdges}")
  }

  test("CurateFollow: streamed decisions union to the exact batch gate on ordered arrival") {
    import graft.streaming.{CurateFollow, LakeFollow}
    import graft.operators.Curation
    val root = Files.createTempDirectory("graft_curfollow_lake").toString
    val marks = Files.createTempDirectory("graft_curfollow_marks").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val ids = docs.select("doc_id").collect().map(_.getAs[Long](0)).sorted
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val streamed = scala.collection.mutable.Map.empty[Long, (Long, Double, String)]
    Seq(docs.filter(col("doc_id") < cut1),
        docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
        docs.filter(col("doc_id") >= cut2)).foreach { batch =>
      batch.write.mode("append").parquet(root)
      LogSync.sync(spark, root)
      val inc = LakeFollow.poll(spark, root, marks).get
      def decide() = CurateFollow.incrementDecisions(spark, root, marks, inc)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Int]("n_tokens").toLong, r.getAs[Double]("quality"),
            r.getAs[String]("reason"))).toMap
      val d = decide()
      assert(decide() == d, "pre-commit replay must reproduce identical decisions")
      d.keys.foreach { id =>
        assert(!streamed.contains(id), s"doc $id decided by two increments")
      }
      streamed ++= d
      LakeFollow.commit(spark, root, marks, inc)
    }
    assert(LakeFollow.poll(spark, root, marks).isEmpty, "stream caught up")
    val batch = Curation.curate(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens").toLong, r.getAs[Double]("quality"),
          r.getAs[String]("reason"))).toMap
    assert(batch.values.exists(_._3 == "duplicate"), "corpus must exercise dup path")
    assert(streamed.toMap == batch,
      "streamed curation must equal the batch gate on doc_id-ordered arrival")
  }

  test("ContaminationFollow: streamed leakage flags union to the exact batch pass, in any arrival order") {
    import graft.streaming.{ContaminationFollow, LakeFollow}
    import graft.operators.Curation
    val root = Files.createTempDirectory("graft_confollow_lake").toString
    val marks = Files.createTempDirectory("graft_confollow_marks").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the same eval-holdout stand-in as the batch operator: doc_id < 20
    val ev = ContaminationFollow.evalSet(spark, docs.filter(col("doc_id") < 20))
    try {
      val train = docs.filter(col("doc_id") >= 20)
      val ids = train.select("doc_id").collect().map(_.getAs[Long](0)).sorted
      val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
      val streamed = scala.collection.mutable.Map.empty[Long, Long]
      // REVERSED arrival order — decontamination is stateless, so the
      // stream must match the batch pass regardless of arrival order
      // (the dedup/curate gates need doc_id order; this one must not)
      Seq(train.filter(col("doc_id") >= cut2),
          train.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
          train.filter(col("doc_id") < cut1)).foreach { batch =>
        batch.write.mode("append").parquet(root)
        LogSync.sync(spark, root)
        val inc = LakeFollow.poll(spark, root, marks).get
        def flags() = ContaminationFollow.incrementHits(spark, inc, ev)
          .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
        val f = flags()
        assert(flags() == f, "pre-commit replay must reproduce identical flags")
        f.keys.foreach { id =>
          assert(!streamed.contains(id), s"doc $id flagged by two increments")
        }
        streamed ++= f
        LakeFollow.commit(spark, root, marks, inc)
      }
      assert(LakeFollow.poll(spark, root, marks).isEmpty, "stream caught up")
      val batch = Curation.contamination(spark, sf).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
      assert(batch.nonEmpty, "the corpus must exercise the leakage path")
      assert(streamed.toMap == batch,
        "streamed decontamination must equal the batch pass in any order")
    } finally ev.release()
  }

  test("PackFollow: streamed spans equal the batch packer on ordered arrival; carry is per-source") {
    import graft.streaming.{LakeFollow, PackFollow}
    import graft.operators.TrainPrep
    val root = Files.createTempDirectory("graft_packfollow_lake").toString
    val marks = Files.createTempDirectory("graft_packfollow_marks").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val ids = docs.select("doc_id").collect().map(_.getAs[Long](0)).sorted
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val streamed = scala.collection.mutable.Map.empty[Long, (String, Int, Long, Long)]
    Seq(docs.filter(col("doc_id") < cut1),
        docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
        docs.filter(col("doc_id") >= cut2)).foreach { batch =>
      batch.write.mode("append").parquet(root)
      LogSync.sync(spark, root)
      val inc = LakeFollow.poll(spark, root, marks).get
      def spans() = PackFollow.incrementSpans(spark, root, marks, inc)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("source"), r.getAs[Int]("toks"),
            r.getAs[Long]("bin"), r.getAs[Long]("offset"))).toMap
      val s = spans()
      assert(spans() == s, "pre-commit replay must reproduce identical spans")
      s.keys.foreach { id =>
        assert(!streamed.contains(id), s"doc $id packed by two increments")
      }
      streamed ++= s
      LakeFollow.commit(spark, root, marks, inc)
    }
    assert(LakeFollow.poll(spark, root, marks).isEmpty, "stream caught up")
    // batch twin: the manifest's span lists, exploded to per-doc rows
    val batch = TrainPrep.packManifest(spark, sf).select(
        col("source"), col("bin"), explode(col("spans")).as("sp"))
      .select(col("sp.doc_id"), col("source"), col("sp.toks"),
        col("bin"), col("sp.offset"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), r.getAs[Int]("toks"),
          r.getAs[Long]("bin"), r.getAs[Long]("offset"))).toMap
    assert(batch.values.exists(_._3 > 0), "corpus must fill more than one bin")
    assert(streamed.toMap == batch,
      "streamed packing must equal the batch packer on doc_id-ordered arrival")
    // every offset lands inside its bin; carry state is source-cardinality
    streamed.values.foreach { case (_, _, _, off) =>
      assert(off >= 0 && off < 512, s"offset $off outside [0, budget)") }
    val carry = PackFollow.carrySnapshot(spark, root, marks)
    assert(carry.nonEmpty, "carry store populated after polls")
    val nSources = docs.select("source").distinct().count()
    assert(carry.get.count() <= nSources,
      "carry state must stay at source cardinality")
  }

  test("lake_merged: pre-evolution files read as NULL scope_version, totals conserved") {
    import graft.operators.LakeAnalytics
    val rows = LakeAnalytics.mergedSchema(spark, sf).collect()
    val vers = rows.map(_.getAs[String]("ver")).toSet
    assert(vers.contains("(pre-evolution)") && vers.contains("1.0"),
      s"both schema generations must appear, got $vers")
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == spark.read.parquet(s"$sf/events.parquet").count(),
      "merged read must cover every row of both generations")
  }

  test("rewriteManifests: registries consolidate row-preserving; reads, travel, MOR deletes intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rwman").toString
    def write(n: Int, skip: Int) = Tables.events(spark, sf).orderBy("event_id")
      .offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"))
      .repartition(4)
      .write.mode("append").parquet(root)
    // three sync rounds: each APPENDS its own manifest part-files —
    // the unbounded planning-time growth rewriteManifests curbs
    write(40, 0); LogSync.sync(spark, root)
    val cut = new java.sql.Timestamp(System.currentTimeMillis()); Thread.sleep(1100)
    write(30, 40); LogSync.sync(spark, root)
    write(30, 70); LogSync.sync(spark, root)
    // two MOR commits populate the DELETE registry with two parts; a
    // CoW delete leaves a manifest tombstone the rewrite must keep
    graft.sources.LakeDml.deleteMor(spark, root, col("span_id") === "e5")
    graft.sources.LakeDml.deleteMor(spark, root, col("span_id") === "e9")
    graft.sources.LakeDml.delete(spark, root, col("span_id") === "e7")
    val liveBefore = LogSync.table(spark, root)
      .select("span_id").as[String].collect().toSet
    assert(liveBefore.size == 97)
    val asOfBefore = LogSync.tableAsOf(spark, root, cut).count()
    val regBefore = LogSync.manifest(spark, root)
      .select(col("path"), col("removed_at").isNull.as("live")).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).sorted.toSeq

    val st = graft.sources.LogCompact.rewriteManifests(spark, root)
    assert(st.dataPartsBefore > st.dataPartsAfter && st.dataPartsAfter >= 1, s"$st")
    assert(st.deletePartsBefore > st.deletePartsAfter && st.deletePartsAfter >= 1,
      s"two MOR commits must leave a consolidatable delete registry: $st")

    // row-preserving: live rows, the historic snapshot, every registry
    // row (tombstones included), and both MOR deletes all survive
    assert(LogSync.table(spark, root)
      .select("span_id").as[String].collect().toSet == liveBefore)
    assert(LogSync.tableAsOf(spark, root, cut).count() == asOfBefore,
      "time travel must resolve identically through the rewritten registry")
    val regAfter = LogSync.manifest(spark, root)
      .select(col("path"), col("removed_at").isNull.as("live")).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).sorted.toSeq
    assert(regAfter == regBefore, "the rewrite must not change a registry row")

    // already-consolidated registries are a no-op (no version churn)
    val st2 = graft.sources.LogCompact.rewriteManifests(spark, root)
    assert(st2.dataPartsBefore == st2.dataPartsAfter &&
      st2.deletePartsBefore == st2.deletePartsAfter, s"$st2")

    // the sync lease released: ingest continues, reads stay whole
    write(10, 100); LogSync.sync(spark, root)
    assert(LogSync.table(spark, root).count() == 107)
  }

  test("rewriteManifests is invisible to incremental consumers (CDC poll, tableSince)") {
    import graft.streaming.LakeFollow
    val root = Files.createTempDirectory("graft_rwman_cdc").toString
    val marks = Files.createTempDirectory("graft_rwman_marks").toString
    def write(n: Int, skip: Int): Unit = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("event_id"), col("ts").as("timestamp"),
        lit("svc").as("service_name"), col("props").as("body"))
      .repartition(3)
      .write.mode("append").parquet(root)
    write(50, 0); LogSync.sync(spark, root)
    write(20, 50); LogSync.sync(spark, root)
    // drain the consumer to caught-up
    val inc0 = LakeFollow.poll(spark, root, marks).get
    assert(inc0.rows.count() == 70)
    LakeFollow.commit(spark, root, marks, inc0)
    val mark = LogSync.highWaterMark(spark, root).get
    // the rewrite changes not one registry ROW — a CDC consumer and an
    // incremental reader must both see nothing new (a rewrite that
    // re-emitted the lake would double every downstream pipeline)
    val st = graft.sources.LogCompact.rewriteManifests(spark, root)
    assert(st.dataPartsBefore > st.dataPartsAfter)
    assert(LakeFollow.poll(spark, root, marks).isEmpty,
      "a registry rewrite must emit nothing to CDC")
    assert(LogSync.tableSince(spark, root, mark).count() == 0,
      "a registry rewrite must be invisible to tableSince")
    // and the NEXT real append still lands exactly once
    write(15, 70); LogSync.sync(spark, root)
    val inc1 = LakeFollow.poll(spark, root, marks).get
    assert(inc1.rows.count() == 15)
    LakeFollow.commit(spark, root, marks, inc1)
    assert(LakeFollow.poll(spark, root, marks).isEmpty)
    assert(LogSync.tableSince(spark, root, mark).count() == 15)
  }

  test("sync auto-merges the manifest past manifestMergeMinParts; delete registry untouched") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def currentManifestDir(root: String): org.apache.hadoop.fs.Path =
      fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath)
        .filter(p => p.getName == "_manifest" || p.getName.matches("_manifest_v[0-9]+"))
        .maxBy(p => if (p.getName == "_manifest") 0
          else p.getName.stripPrefix("_manifest_v").toInt)
    def manifestParts(root: String): Int =
      fs.listStatus(currentManifestDir(root))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    def dmanifestDirs(root: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .count(_.getPath.getName.matches("_dmanifest(_v[0-9]+)?"))
    val root = Files.createTempDirectory("graft_automerge").toString
    def write(n: Int, skip: Int): Unit = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("event_id"), col("ts").as("timestamp"),
        lit("svc").as("service_name"), col("props").as("body"))
      .repartition(2)
      .write.mode("append").parquet(root)
    spark.conf.set("graft.lake.manifestMergeMinParts", "4")
    try {
      // each round appends 2 registry part-files; without the
      // auto-merge the dir would grow 2-per-round forever — with the
      // threshold at 4 it consolidates whenever a round lands on or
      // past it, so the count stays bounded by minParts + per-round
      // arrivals across ANY number of rounds
      (0 until 5).foreach { i => write(20, i * 20); LogSync.sync(spark, root) }
      assert(manifestParts(root) <= 3,
        s"auto-merge must keep the registry bounded, got ${manifestParts(root)} parts")
      // SYNC never touches the delete registry (its bounding runs at
      // DML-append time under the DML lease, not here)
      graft.sources.LakeDml.deleteMor(spark, root, col("event_id") === lit(3L))
      val dDirs = dmanifestDirs(root)
      write(20, 100); LogSync.sync(spark, root)
      assert(dmanifestDirs(root) == dDirs,
        "sync's auto-merge must never swap the delete registry")
      // row-preserving through every merge, delete still applied
      assert(LogSync.table(spark, root).count() == 119)
    } finally spark.conf.unset("graft.lake.manifestMergeMinParts")
  }

  test("concurrent manifest swaps: the version claim admits one; the loser fails loudly") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    // two rewriters that both planned against the same version: the
    // exists-then-rename window used to let the second rename REPLACE
    // the first's committed dir on rename-replaces filesystems — the
    // claim (atomic create + token verify) admits exactly one
    val root = Files.createTempDirectory("graft_swaprace").toString
    Tables.events(spark, sf).orderBy("event_id").limit(40)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    val before = LogSync.manifest(spark, root).collect().map(_.toString).sorted.toSeq
    val planned = LogSync.manifestVersion(spark, root)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val racers = (1 to 2).map { _ =>
      Future {
        gate.await()
        scala.util.Try(LogSync.swapManifest(spark, root,
          LogSync.manifest(spark, root), Some(planned)))
      }
    }
    gate.countDown()
    val results = Await.result(Future.sequence(racers), 120.seconds)
    assert(results.count(_.isSuccess) == 1,
      s"exactly one swap must win, got ${results.count(_.isSuccess)}")
    results.collect { case scala.util.Failure(e) => e }.foreach { e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException] &&
        e.getMessage.contains("swap conflict"),
        s"the loser must fail loudly with a conflict, got: $e")
    }
    assert(LogSync.manifestVersion(spark, root) == planned + 1,
      "exactly one version advance")
    val after = LogSync.manifest(spark, root).collect().map(_.toString).sorted.toSeq
    assert(after == before, "the winning swap must carry every registry row")
    assert(LogSync.table(spark, root).count() == 40)
  }

  test("native multi-spec read: a layout-flipped root serves through LogSync.table, equal to the exported chain") {
    // the shared two-generation fixture (hourly dirs + daily dirs):
    // Spark's own discovery rejects the mixed tree, so this read can
    // only succeed through the per-generation multi-spec scan
    val root = LakeAnalytics.specEvolveRoot(spark, sf)
    val native = LakeAnalytics.specEvolveNativeSeverity(spark, sf).collect().toSeq
    val chain = LakeAnalytics.specEvolveSeverity(spark, sf).collect().toSeq
    assert(native.nonEmpty && native == chain,
      s"native(${native.size}) != chain(${chain.size})")
    // pruning still reaches each generation's scan: a service filter
    // shows up as a PartitionFilter on the unioned read
    val plan = formattedPlan(LogSync.table(spark, root)
      .filter(col("service_name") === "svc-0"))
    assert(plan.linesIterator.exists(l =>
      l.trim.startsWith("PartitionFilters:") && l.contains("service_name")),
      s"partition filters must reach the per-generation scans:\n$plan")
  }

  test("native multi-spec read: MOR deletes and time travel ride the per-generation union") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_multispec").toString
    def batch(n: Int, skip: Int) = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
    LogWriter.write(batch(20, 0), root, layout = LogWriter.HourlyLayout)
    LogSync.sync(spark, root)
    val preFlip = new java.sql.Timestamp(System.currentTimeMillis())
    LogWriter.write(batch(15, 20), root, layout = LogWriter.DailyLayout)
    LogSync.sync(spark, root)
    assert(LogSync.table(spark, root).count() == 35)
    // a position delete lands on a row of the HOURLY generation; the
    // anti-join must resolve per-generation row ordinals through the
    // union (the _metadata identities materialize per scan)
    val stats = graft.sources.LakeDml.deleteMor(spark, root, col("span_id") === "e3")
    assert(stats.rowsChanged == 1)
    assert(LogSync.table(spark, root).count() == 34)
    assert(LogSync.table(spark, root).filter(col("span_id") === "e3").count() == 0)
    // an equality delete on the DAILY generation applies too
    graft.sources.LakeDml.deleteEq(spark, root, Seq("e25").toDF("span_id"))
    assert(LogSync.table(spark, root).count() == 33)
    // time travel to the pre-flip instant reads the hourly generation
    // alone, deletes not yet applied
    assert(LogSync.tableAsOf(spark, root, preFlip).count() == 20)
    // a CoW delete whose AFFECTED FILES span BOTH generations: the
    // commit's complement read groups per generation (one row from
    // the hourly batch, one from the daily batch, one commit)
    val cow = graft.sources.LakeDml.delete(spark, root,
      col("span_id").isin("e7", "e27"))
    assert(cow.rowsChanged == 2, s"CoW across generations: $cow")
    assert(LogSync.table(spark, root).count() == 31)
    assert(LogSync.table(spark, root)
      .filter(col("span_id").isin("e7", "e27")).count() == 0)
    // the retraction changelog reads its targets per generation too
    val retracted = LogSync.deletedRowsSince(spark, root,
      new java.sql.Timestamp(0L))
    assert(retracted.filter(col("span_id") === "e3").count() == 1)
    // a bloom sidecar builds across generations and routes the lookup
    assert(graft.sources.LakeIndex.build(spark, root, "span_id", 4096) > 0)
    assert(graft.sources.LakeIndex.lookup(spark, root, "span_id",
      Seq("e5", "e30")).count() == 2)
  }

  test("ONE sync round spanning two layout generations registers with per-generation stats") {
    val root = Files.createTempDirectory("graft_mixedround").toString
    def batch(n: Int, skip: Int) = Tables.events(spark, sf)
      .orderBy(col("event_id")).offset(skip).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"),
        concat(lit("e"), col("event_id")).as("span_id"),
        col("props").as("body"))
    // BOTH generations land before the first sync — the round's
    // fresh-file list spans two directory shapes, which used to die in
    // statsFor's explicit-path partition discovery
    LogWriter.write(batch(10, 0), root, layout = LogWriter.HourlyLayout)
    LogWriter.write(batch(10, 10), root, layout = LogWriter.DailyLayout)
    assert(LogSync.sync(spark, root) > 0)
    assert(LogSync.table(spark, root).count() == 20)
    // zone-map stats computed for BOTH generations (the svc axis is a
    // partition DIR for hourly files, a dir for daily too — and the
    // time axis a data column in each)
    assert(LogSync.manifest(spark, root)
      .filter(col("min_ts").isNull || col("min_svc").isNull).count() == 0,
      "every registered file must carry zone-map stats")
  }
}
