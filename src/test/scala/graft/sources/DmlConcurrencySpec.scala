package graft.sources

import scala.concurrent._
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

/** MULTI-WRITER DML on one lake root — the seam the r15 verdict named
  * as the last race-unprotected commit path: MOR DML used to append
  * to the delete registry and allocate its sequence OUTSIDE any lease
  * (the documented single-writer rule). Two concurrent
  * `deleteEq`/`upsertEq` commits could then interleave registry
  * appends through one shared `_temporary` dir (a silently lost
  * registration) and compute the SAME sequence number (an upsert's
  * inserts tying a foreign delete's sequence and wrongly surviving
  * it). The DML lease ([[LogSync.withDmlLease]]) + leased sequence
  * allocation ([[LogSync.allocateSeq]]) close both; these specs are
  * the two-thread proof. A realistic collision: a CDC sink applying
  * retractions while an operator issues an ad-hoc GDPR delete.
  *
  * House rule (learned in round 15): if one of these races flakes,
  * suspect the PRODUCT first — the last flaky race spec here was a
  * genuine double-claim bug.
  */
class DmlConcurrencySpec extends graft.SparkSpec {

  /** Events-shaped lake with `n` rows, ids 0 until n. */
  private def seeded(n: Int): String = {
    val root = tempDir("graft_dmlrace")
    Tables.events(spark, sf).limit(n)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"), col("event_id"),
        col("props").as("body"))
      .coalesce(2).write.mode("append").parquet(root)
    LogSync.sync(spark, root)
    root
  }

  private def activeSeqs(root: String): Seq[Long] =
    LogSync.deleteEntries(spark, root).map(_.seq)

  test("every registry commit stamps strictly above the previous high-water mark (no instant ties)") {
    import spark.implicits._
    val root = seeded(40)
    // back-to-back commits on a fast machine land inside one
    // millisecond — exactly the tie the monotone-stamp rule closes:
    // a consumer's strictly-greater mark poll between two instant-tied
    // commits would lose the second one forever
    (0 until 3).foreach(i => LakeDml.delete(spark, root, col("event_id") === i))
    (3 until 8).foreach(i =>
      LakeDml.deleteEq(spark, root, Seq(i.toLong).toDF("event_id")))
    LogCompact.compact(spark, root)
    // data manifest: sync + 3 CoW rewrites + compaction = 5 commits,
    // 5 DISTINCT strictly-increasing instants
    val dataStamps = LogSync.manifest(spark, root)
      .select("registered_at").distinct().collect()
      .map(_.getTimestamp(0).getTime).sorted.toSeq
    assert(dataStamps.size == 5, s"expected 5 distinct data stamps: $dataStamps")
    assert(dataStamps == dataStamps.distinct.sorted)
    // delete registry: 5 eq commits (+ compaction's fold tombstones
    // touch removed_at only) = 5 distinct registration instants
    val delStamps = LogSync.deleteManifestDf(spark, root)
      .select("registered_at").distinct().collect()
      .map(_.getTimestamp(0).getTime).sorted.toSeq
    assert(delStamps.size == 5, s"expected 5 distinct delete stamps: $delStamps")
    // the marks stay a strict total order over commits: every stamp
    // strictly greater than every earlier commit's
    assert((dataStamps ++ delStamps).forall(_ > 0))
    assert(LogSync.table(spark, root).count() == 32)
  }

  test("concurrent equality deletes: no lost registration, no duplicated sequence") {
    val root = seeded(60)
    import spark.implicits._
    (0 until 3).foreach { round =>
      val before = LogSync.deleteEntries(spark, root).map(_.path).toSet
      val gate = new java.util.concurrent.CountDownLatch(1)
      // two writers retract DISJOINT keys at the same instant
      val ids = Seq(Seq(0L + round * 4, 1L + round * 4),
                    Seq(2L + round * 4, 3L + round * 4))
      val racers = ids.map { ks =>
        Future {
          gate.await()
          LakeDml.deleteEq(spark, root, ks.toDF("event_id"))
        }
      }
      gate.countDown()
      val stats = Await.result(Future.sequence(racers), 300.seconds)
      // BOTH commits succeed (the lease WAITS, it does not refuse) and
      // BOTH registrations survive — the lost-append interleave would
      // drop one
      assert(stats.forall(_.filesAdded >= 1), s"round $round: $stats")
      val after = LogSync.deleteEntries(spark, root)
      assert(after.map(_.path).toSet.size - before.size ==
        stats.map(_.filesAdded).sum,
        s"round $round: a concurrent registration was lost")
      // every registered sequence is unique across the registry
      val seqs = activeSeqs(root)
      assert(seqs.distinct.size == seqs.size,
        s"round $round: duplicated sequence numbers in $seqs")
    }
    // the read applies every retraction: 3 rounds x 4 ids
    assert(LogSync.table(spark, root).count() == 60 - 12)
    assert(LogSync.table(spark, root)
      .filter(col("event_id") < 12).count() == 0)
  }

  test("concurrent upsertEq pair: distinct shared sequences, both halves of both commits land") {
    val root = seeded(40)
    val cols = LogSync.table(spark, root).columns
    // each writer restates ITS OWN key with a marker body
    def restated(id: Long, tag: String) =
      LogSync.table(spark, root)
        .filter(col("event_id") === id)
        .withColumn("body", lit(tag))
        .select(cols.map(col): _*).cache()
    val upA = restated(5L, "writer-A"); upA.count()
    val upB = restated(7L, "writer-B"); upB.count()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val racers = Seq(upA -> "writer-A", upB -> "writer-B").map { case (u, _) =>
      Future {
        gate.await()
        LakeDml.upsertEq(spark, root, u, Seq("event_id"))
      }
    }
    gate.countDown()
    val stats = Await.result(Future.sequence(racers), 300.seconds)
    assert(stats.forall(s => s.filesAdded >= 2 && s.rowsChanged == 1),
      s"both upserts must commit an insert half and a delete half: $stats")
    // the two commits' equality deletes carry DIFFERENT sequences —
    // a tie would let one writer's old row survive the other's
    // retraction window
    val eqSeqs = LogSync.deleteEntries(spark, root).filter(_.isEq).map(_.seq)
    assert(eqSeqs.distinct.size == eqSeqs.size,
      s"upsert sequences must be distinct, got $eqSeqs")
    // reads converge: one row per key, each carrying its writer's value
    val t = LogSync.table(spark, root).cache()
    assert(t.count() == 40)
    assert(t.filter(col("event_id") === 5L).select("body")
      .head.getString(0) == "writer-A")
    assert(t.filter(col("event_id") === 7L).select("body")
      .head.getString(0) == "writer-B")
    t.unpersist(); upA.unpersist(); upB.unpersist()
  }

  test("DML appends racing the explicit registry rewrite: nothing lost") {
    import spark.implicits._
    val root = seeded(50)
    // pre-load some registry parts so the rewrite has work
    (0 until 3).foreach(i => LakeDml.deleteEq(spark, root, Seq(40L + i).toDF("event_id")))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val appender = Future {
      gate.await()
      (0 until 4).map(i =>
        LakeDml.deleteEq(spark, root, Seq(30L + i).toDF("event_id")))
    }
    val rewriter = Future {
      gate.await()
      LogCompact.rewriteManifests(spark, root, targetBytes = 1L)
    }
    gate.countDown()
    val appends = Await.result(appender, 300.seconds)
    Await.result(rewriter, 300.seconds)
    assert(appends.forall(_.filesAdded >= 1))
    // every one of the 7 retraction commits is still registered —
    // the rewrite's read-swap could not lose a concurrent append
    val eqs = LogSync.deleteEntries(spark, root).filter(_.isEq)
    assert(eqs.size == 7,
      s"expected all 7 equality-delete registrations to survive, got ${eqs.size}")
    assert(LogSync.table(spark, root).count() == 50 - 7)
  }

  test("deleteMor racing compactDeletes: fold retires only what it read, nothing lost") {
    val root = seeded(48)
    // seed enough position-delete commits that the fold has work
    (0 until 3).foreach(i =>
      LakeDml.deleteMor(spark, root, col("event_id") === lit(40L + i)))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val deleter = Future {
      gate.await()
      (0 until 3).map(i =>
        LakeDml.deleteMor(spark, root, col("event_id") === lit(20L + i)))
    }
    val folder = Future {
      gate.await()
      LakeDml.compactDeletes(spark, root)
    }
    gate.countDown()
    val dels = Await.result(deleter, 300.seconds)
    Await.result(folder, 300.seconds)
    assert(dels.forall(_.rowsChanged == 1))
    // every retraction holds — the fold tombstones exactly the files it
    // merged, so a registration appended mid-fold can never vanish
    assert(LogSync.table(spark, root).count() == 48 - 6)
    assert(LogSync.table(spark, root)
      .filter(col("event_id").isin(20L, 21L, 22L, 40L, 41L, 42L)).count() == 0)
    val seqs = activeSeqs(root)
    assert(seqs.distinct.size == seqs.size, s"duplicated sequences in $seqs")
  }

  test("sync racing a DML commit: the append and the retraction never tie a sequence") {
    import spark.implicits._
    val root = seeded(40)
    // fresh files on disk awaiting registration — the racing sync's work
    Tables.events(spark, sf).orderBy(col("event_id")).offset(40).limit(10)
      .select(col("ts").as("timestamp"), lit("svc").as("service_name"),
        col("event_type").as("severity_text"), col("event_id"),
        col("props").as("body"))
      .coalesce(1).write.mode("append").parquet(root)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val syncer = Future { gate.await(); LogSync.sync(spark, root) }
    val deleter = Future {
      gate.await()
      LakeDml.deleteEq(spark, root, Seq(3L).toDF("event_id"))
    }
    gate.countDown()
    assert(Await.result(syncer, 300.seconds) > 0)
    assert(Await.result(deleter, 300.seconds).filesAdded >= 1)
    // sequences are unique PER COMMIT across both registries: two sync
    // commits and one retraction — three distinct values, no tie (a
    // tie was survivable for data-vs-delete but uniqueness is the
    // invariant fold/convert bookkeeping reasons from)
    val dataSeqs = LogSync.manifestDf(spark, root)
      .select(coalesce(col("seq"), lit(0L))).distinct()
      .collect().map(_.getLong(0)).toSet
    val eqSeq = LogSync.deleteEntries(spark, root).filter(_.isEq).map(_.seq).toSet
    assert(dataSeqs.size == 2, s"two sync commits expected, seqs $dataSeqs")
    assert(eqSeq.size == 1 && !dataSeqs.contains(eqSeq.head),
      s"the retraction must not tie an append commit: data $dataSeqs eq $eqSeq")
    // id 3 lives only in the first (strictly-below) batch: retracted
    assert(LogSync.table(spark, root).count() == 49)
  }

  test("delete-registry part count stays bounded under a CDC soak (append-time auto-merge)") {
    import spark.implicits._
    val root = seeded(64)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def regParts(): Int = {
      val dir = new org.apache.hadoop.fs.Path(
        LogSync.deleteManifestPath(spark, root))
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    spark.conf.set("graft.lake.deleteManifestMergeMinParts", "4")
    try {
      // 12 retraction batches — a long-lived CDC lake's steady state.
      // Without append-time bounding the dir grows one-plus parts per
      // batch between manual maintenance runs; with the threshold at 4
      // it consolidates whenever a batch lands on or past it.
      (0 until 12).foreach { i =>
        LakeDml.deleteEq(spark, root, Seq(i.toLong).toDF("event_id"))
        assert(regParts() <= 4,
          s"batch $i: registry grew to ${regParts()} parts (bound is 4)")
      }
      // row-preserving through every merge: all 12 retractions apply,
      // and the registry still carries all 12 registrations
      assert(LogSync.table(spark, root).count() == 64 - 12)
      assert(LogSync.deleteEntries(spark, root).count(_.isEq) == 12)
      // the CDC stream still surfaces every retraction exactly once
      val streamed = LogSync.deletedRowsSince(spark, root,
        new java.sql.Timestamp(0L))
      assert(streamed.filter(col("event_id") < 12).count() == 12)
    } finally spark.conf.unset("graft.lake.deleteManifestMergeMinParts")
  }

  test("reads refuse past graft.lake.deleteEntryCap; the uncapped fix paths shrink the registry back under it") {
    import spark.implicits._
    val root = seeded(30)
    // five single-key retractions → five active delete entries
    (0 until 5).foreach { i =>
      LakeDml.deleteEq(spark, root, Seq(i.toLong).toDF("event_id"))
    }
    assert(LogSync.deleteEntries(spark, root).size == 5)
    spark.conf.set("graft.lake.deleteEntryCap", "4")
    try {
      // the per-read driver list is BOUNDED: past the cap the read
      // refuses loudly, naming the maintenance that fixes it, instead
      // of silently materializing entries ∝ active delete files
      val e = intercept[Exception](LogSync.table(spark, root).count())
      assert(e.getMessage.contains("deleteEntryCap") &&
        e.getMessage.contains("COMPACT DELETES"), e.getMessage)
      // the fix paths stay UNCAPPED: fold eq groups to position files,
      // fold position files together — the registry shrinks under the
      // cap without ever lifting it
      val (converted, _) = LakeDml.convertEqDeletes(spark, root)
      assert(converted == 5)
      LakeDml.compactDeletes(spark, root)
      assert(LogSync.deleteEntries(spark, root).size <= 4,
        s"maintenance must shrink the registry under the cap, " +
          s"got ${LogSync.deleteEntries(spark, root).size}")
      // ...and the read works again, rows intact
      assert(LogSync.table(spark, root).count() == 25)
    } finally spark.conf.unset("graft.lake.deleteEntryCap")
  }

  test("a LIVE holder outlasting claimGraceMs keeps the DML lease (heartbeat); the waiter enters only after release") {
    val root = tempDir("graft_leasebeat")
    spark.conf.set("graft.lake.claimGraceMs", "400")
    spark.conf.set("graft.lake.dmlLeaseWaitMs", "20000")
    try {
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val held = new java.util.concurrent.CountDownLatch(1)
      // the holder's leased section runs 4x the grace window — the
      // slow-object-store auto-merge scenario. Without the heartbeat
      // the waiter's active reclaim fires at ~400 ms and both threads
      // run "inside the lease" at once.
      val holder = Future {
        LogSync.withDmlLease(spark, root) {
          order.add("hold-start"); held.countDown()
          Thread.sleep(1600)
          order.add("hold-end")
        }
      }
      held.await()
      val waiter = Future {
        LogSync.withDmlLease(spark, root) { order.add("wait-enter") }
      }
      Await.result(holder, 60.seconds)
      Await.result(waiter, 60.seconds)
      assert(order.toArray.toSeq == Seq("hold-start", "hold-end", "wait-enter"),
        s"waiter entered while the live holder held: ${order.toArray.toSeq}")
    } finally {
      spark.conf.unset("graft.lake.claimGraceMs")
      spark.conf.unset("graft.lake.dmlLeaseWaitMs")
    }
  }

  test("deleteEntries is listing-cached: quiescent reads reuse the parsed list, every registry mutation invalidates") {
    import spark.implicits._
    val root = seeded(30)
    LakeDml.deleteEq(spark, root, Seq(1L).toDF("event_id"))
    // quiescent: a re-read folds over the held registry rows and starts
    // no job, and a time-travel read leaves the current state alone
    def jobsOf[A](f: => A): (A, Seq[String]) = graft.SparkJobs.during(spark)(f)
    val e1 = LogSync.deleteEntries(spark, root)
    val (e2, quiet) = jobsOf(LogSync.deleteEntries(spark, root))
    assert(quiet.isEmpty && e2 == e1, s"a quiescent re-read started $quiet")
    LogSync.deleteEntries(spark, root,
      asOf = Some(new java.sql.Timestamp(0L)))
    val (e2b, afterAsOf) = jobsOf(LogSync.deleteEntries(spark, root))
    assert(afterAsOf.isEmpty && e2b == e1,
      s"a re-read after an asOf read started $afterAsOf")
    // every mutation class invalidates via the listing signature:
    // append (a new retraction)...
    LakeDml.deleteEq(spark, root, Seq(2L).toDF("event_id"))
    val e3 = LogSync.deleteEntries(spark, root)
    assert(e3 != e1 && e3.count(_.isEq) == 2)
    // ...conversion + fold (version swaps)...
    LakeDml.convertEqDeletes(spark, root)
    LakeDml.compactDeletes(spark, root)
    val e4 = LogSync.deleteEntries(spark, root)
    assert(e4 != e3 && e4.count(_.isEq) == 0 && e4.nonEmpty)
    // ...and the reads stay correct throughout
    assert(LogSync.table(spark, root).count() == 28)
  }

  test("a LIVE slow manifest swap keeps its version claim (heartbeat); a racing swap refuses instead of reclaiming") {
    val root = seeded(40)
    spark.conf.set("graft.lake.claimGraceMs", "300")
    try {
      val schema = LogSync.manifestDf(spark, root).schema
      val rows = LogSync.manifestDf(spark, root).collect().toSeq
      val planned = LogSync.manifestVersion(spark, root)
      // a staging write that outlives the grace window — the
      // millions-of-manifest-rows-on-a-slow-store scenario, compressed:
      // each row's write pays 500 ms through the predicate
      val crawl = udf((p: String) => { Thread.sleep(500); true })
      val slowNext = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
        .filter(crawl(col("path")))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val holder = Future {
        gate.await()
        LogSync.swapManifest(spark, root, slowNext, Some(planned))
      }
      val racer = Future {
        gate.await()
        Thread.sleep(400) // past the grace window, mid-staging-write
        intercept[LogSync.ManifestConflictException] {
          LogSync.swapManifest(spark, root,
            spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
            Some(planned))
        }
      }
      gate.countDown()
      Await.result(holder, 120.seconds)
      val refused = Await.result(racer, 120.seconds)
      // without the claim heartbeat the racer's janitor judges the live
      // claim mtime-stale, retires it, and both writers share the
      // version's staging dir — the mutual clobber the claim prevents.
      // With it, the racer refuses LOUDLY and the holder's commit lands.
      assert(refused.getMessage.contains("claimed") ||
        refused.getMessage.contains("re-plan"), refused.getMessage)
      assert(LogSync.manifestVersion(spark, root) == planned + 1,
        "exactly the holder's swap must have committed")
      assert(LogSync.table(spark, root).count() == 40)
    } finally spark.conf.unset("graft.lake.claimGraceMs")
  }

  test("retireStaleClaim re-verifies staleness after winning the rename: a freshened claim is restored, not retired") {
    val dir = tempDir("graft_retire")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def residue(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .map(_.getPath.getName).filter(_.contains(".reclaim_"))
    // genuinely stale: old mtime survives the rename (rename preserves
    // mtime), the re-verify agrees, the claim retires
    val stale = new org.apache.hadoop.fs.Path(s"$dir/claim_stale")
    assert(ClaimFile.tryClaim(fs, stale, "old"))
    fs.setTimes(stale, System.currentTimeMillis() - 60000, -1)
    // a GENUINELY stale claim is stale in both liveness signals: age
    // the creation beat's embedded wall clock along with the mtime
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("claim_stale.hb_")).foreach { s =>
        val o = fs.create(s.getPath, true)
        try o.write(s"old\n${System.currentTimeMillis() - 60000}".getBytes("UTF-8"))
        finally o.close()
      }
    assert(LogSync.retireStaleClaim(fs, stale, System.currentTimeMillis() - 1000))
    assert(!fs.exists(stale) && residue().isEmpty)
    // the TOCTOU the re-verify closes: the caller observed a stale
    // claim, but by rename time a FRESH writer holds the path (the
    // stale holder released, a new claim landed). The winning rename
    // must notice the fresh mtime, rename the live claim back, and
    // report no-retire.
    val live = new org.apache.hadoop.fs.Path(s"$dir/claim_live")
    assert(ClaimFile.tryClaim(fs, live, "fresh-holder"))
    assert(!LogSync.retireStaleClaim(fs, live, System.currentTimeMillis() - 60000),
      "a freshly-claimed path must not be retired")
    assert(fs.exists(live), "the live claim must be restored after the aborted retire")
    val in = fs.open(live)
    val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(got == "fresh-holder", "the live holder's token must survive the aborted retire")
    assert(residue().isEmpty, s"aborted retire left residue: ${residue()}")
  }
}
