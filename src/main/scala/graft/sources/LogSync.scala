package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.graft.PartitionBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}

/** Incremental file registration — the reference's log-sync service
  * (scripts/sync-logs.sh): scan the lake for parquet files, diff
  * against the already-registered state, register only new files,
  * idempotently.
  *
  * The reference keeps state in a text file and a REST catalog; here
  * the manifest is itself a parquet table of (path, registered_at)
  * under `<root>/_manifest` (underscore prefix: invisible to data
  * scans), and "the table" is defined as exactly the registered files —
  * same read semantics as its Iceberg catalog (readers never see
  * half-written or unregistered files).
  *
  * Scale design: the LISTING is a driver-side control-plane step (like
  * the reference's `mc find`), and so is the new-file diff while the
  * manifest is small enough to hold driver-side (a distributed
  * anti-join past that cap). [[table]] reads the lake ROOT
  * (partition discovery + pruning intact) with the manifest applied as
  * a broadcast semi-join pruning filter on `input_file_name()` — no
  * million-element path vararg through the driver, no `collect()` on
  * the data path.
  */
object LogSync {

  /** The manifest is VERSIONED: appends (sync) go to the current
    * version dir; a rewrite (compaction, DML, tombstone purge) writes a
    * whole new `_manifest_v<N+1>` dir and makes it visible with one
    * atomic directory rename. Readers resolve the highest version at
    * query time, so there is never a half-swapped manifest to read,
    * and a stale plan (cached Dataset, in-flight query) keeps reading
    * its old — consistent — version until vacuum ages it out, instead
    * of crashing on deleted files. Single-writer per lake, like the
    * reference's sync daemon (multi-writer needs a catalog CAS — the
    * piece Iceberg's REST catalog provides and a bare filesystem
    * cannot).
    */
  private val ManifestVersionRe = "_manifest_v([0-9]+)".r

  private[graft] def manifestVersion(spark: SparkSession, root: String): Int = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root))) return 0
    fs.listStatus(new Path(root)).flatMap { st =>
      st.getPath.getName match {
        case ManifestVersionRe(v) => Some(v.toInt)
        case _ => None
      }
    }.foldLeft(0)((a, b) => math.max(a, b))
  }

  private[sources] def manifestPath(spark: SparkSession, root: String): String = {
    val v = manifestVersion(spark, root)
    if (v == 0) s"$root/_manifest" else s"$root/_manifest_v$v"
  }

  /** Raised when a manifest swap detects another writer advanced the
    * version since this commit planned against it — the single-writer
    * rule, ENFORCED instead of merely documented: without the check
    * two interleaved rewrites each produce a full next-manifest and
    * the second swap silently discards the first's files (lost
    * commit). Retryable: re-plan the whole operation against the new
    * manifest and commit again (what Iceberg's REST catalog does with
    * a 409, re-expressed as a filesystem version CAS).
    */
  final class ManifestConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Replace the manifest wholesale: write `next` as version N+1 and
    * flip it live with an atomic dir rename. The previous version's
    * files are untouched (stale readers stay consistent) until
    * [[LogCompact.vacuum]] removes aged-out versions.
    *
    * `expectVersion` is the CAS guard: the version the writer READ
    * when it planned the rewrite it is now committing. The swap
    * refuses — loudly, with [[ManifestConflictException]] — when the
    * live version moved past it. The target VERSION is then CLAIMED
    * through [[ClaimFile]] (atomic create + token verify — the
    * schema-log commit discipline) before any staging write: two
    * racers that both planned against version N and both passed the
    * exists check used to both rename into `_manifest_v(N+1)`, the
    * second silently replacing the first's committed rows on
    * rename-replaces filesystems (local, S3A). Now at most one
    * passes the claim; the loser throws. A CRASHED winner's claim
    * (target absent, older than `graft.lake.claimGraceMs`) is
    * janitored once, like the schema log's. Callers that rewrite the
    * manifest from a read snapshot MUST pass `expectVersion`; None is
    * reserved for flows that append-then-swap within one
    * already-guarded commit.
    *
    * Honest scope: the CAS catches interleaved REWRITES (DML, compact,
    * vacuum — the lost-manifest failure). A concurrent [[sync]] APPEND
    * to the current version dir does not bump the version, so an
    * append racing a swap can still lose its rows — syncs and rewrites
    * share the single-writer rule (one maintenance owner per lake),
    * as they do in the reference's sync daemon. The seam's actual
    * severity is TEMPORARY INVISIBILITY, not loss: a dropped
    * registration leaves its files on disk and unregistered, which is
    * exactly what the next sync round's fresh-diff anti-join finds —
    * the rows re-register under a fresh registered_at (spec-pinned in
    * ManifestCasSpec), and incremental consumers re-surface them
    * under the followers' existing at-least-once contract. Note for operators
    * running a sync daemon ALONGSIDE DML/compaction: since sync's
    * auto-merge (`graft.lake.manifestMergeMinParts`, default 512) a
    * sync round near the merge threshold can itself ADVANCE the data-
    * manifest version — a DML or compact commit that planned against
    * the pre-sync version then fails with [[ManifestConflictException]]
    * in interleavings where a pure append would have let its CAS pass.
    * Loud and retryable by design (re-plan against the new manifest),
    * but expected, not exceptional, near the threshold. (The DELETE
    * registry has no such seam left: every mutation of it — append,
    * tombstone, consolidation — serializes under [[withDmlLease]].)
    */
  private[graft] def swapManifest(spark: SparkSession, root: String,
                                  next: DataFrame,
                                  expectVersion: Option[Int] = None): Unit =
    casSwapDir(spark, root, next, expectVersion,
      kind = "manifest", dirOf = v => s"$root/_manifest_v$v",
      staging = s"$root/_manifest_swap", versionOf = manifestVersion)

  /** The staleness window every claim/lease janitor and heartbeat
    * reasons from. Staleness is judged by the claim's LIVENESS instant
    * ([[ClaimFile.livenessMs]]): the max of its mtime and the newest
    * content-embedded beat its holder wrote (beat 0 at claim time,
    * then every quarter grace window while a lease is held). The
    * content path makes the mechanism STORE-AGNOSTIC: on an
    * mtime-unfaithful store (copy-rename refreshes mtime, `setTimes`
    * no-ops — plain S3A) the beats alone carry the contract — a live
    * holder keeps beating so it is never reclaimed mid-commit, and a
    * crashed holder's beats stop so it still ages out on schedule
    * (certified against the frozen-mtime `cond://` variant in
    * CondStoreSpec). One residual asymmetry on stores whose mtime
    * reads FRESH forever (rename = copy): a holder that crashed
    * between claim create and beat 0 never ages there — the window is
    * microseconds, and a conditional-PUT [[ClaimFile]] strategy
    * remains the airtight route for such stores.
    */
  private[sources] def claimGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.claimGraceMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Retire a STALE claim by RENAMING it aside before deleting: the
    * rename is the one-winner gate (only one reclaimer's rename of
    * the same source path can succeed), where a bare delete-then-
    * reclaim let two writers that both observed the same stale claim
    * interleave so the slower one deleted the faster one's freshly
    * created claim — both proceeding, re-opening exactly the window
    * the claim closes. True only for the single racer whose rename
    * won; everyone else re-enters the ordinary lost-claim path.
    *
    * The winner RE-VERIFIES staleness on the renamed file before
    * deleting it: between the caller's liveness check and the rename,
    * the observed-stale holder can release and a FRESH writer claim
    * the path — the winning rename would then have retired a LIVE
    * claim (the TOCTOU the old delete-based path had). The renamed
    * file's LIVENESS ([[ClaimFile.livenessMs]]: mtime, which rename
    * preserves on faithful stores, OR the holder's content beats,
    * which survive the rename by construction — they live beside the
    * ORIGINAL claim name) is authoritative: still older than
    * `staleBefore` → genuinely stale, delete (beats included) and
    * retire; fresh → rename it straight back and report no-retire,
    * the caller re-enters the lost-claim path against the live
    * holder. If the rename-back loses to yet another claim of the
    * freed path, the aside file stays as `.reclaim_` residue for the
    * janitor's aging sweep and ITS DISPLACED OWNER KEEPS RUNNING
    * uninterrupted — mid-critical-section there is nothing to
    * "recover"; its heartbeat notices the missing claim
    * ([[heartbeatWhileHeld]]'s consecutive-miss rule), surfaces a
    * warning and stops beating, and the hold degrades to the
    * documented grace-window trade. Same residual as
    * [[ClaimFile.release]], strictly narrower than the unverified
    * retire it replaces.
    */
  private[sources] def retireStaleClaim(fs: org.apache.hadoop.fs.FileSystem,
                               claim: Path, staleBefore: Long): Boolean = {
    val retired = new Path(claim.getParent,
      claim.getName + ".reclaim_" + java.util.UUID.randomUUID().toString.take(8))
    val won =
      try fs.rename(claim, retired)
      catch { case _: java.io.IOException => false }
    won && {
      val stillStale =
        ClaimFile.livenessMs(fs, retired, hbName = Some(claim.getName)) < staleBefore
      if (stillStale) {
        val staleToken =
          try {
            val in = fs.open(retired)
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          } catch { case _: java.io.IOException => "" }
        try fs.delete(retired, false) catch { case _: java.io.IOException => () }
        if (staleToken.nonEmpty)
          ClaimFile.cleanupBeats(fs, claim.getParent, claim.getName, staleToken)
        true
      } else {
        // a live claim was moved aside — put it back, but NEVER over a
        // third writer's claim that landed on the freed path meanwhile:
        // POSIX/S3A rename REPLACES an existing target, so a blind
        // rename-back would delete that writer's live claim (the very
        // double-admit this gate exists to stop). If the path is taken,
        // the aside file stays as aged `.reclaim_` residue and its
        // displaced owner re-enters the ordinary lost-claim path —
        // narrowed, with the exists probe as the (non-atomic, best
        // available without conditional rename) guard.
        try { if (!fs.exists(claim)) fs.rename(retired, claim); () }
        catch { case _: java.io.IOException => () }
        false
      }
    }
  }

  /** The shared claim-then-rename commit of both versioned registries:
    * plan-version CAS, [[ClaimFile]] claim of the target version,
    * in-claim re-check (a racer may have committed between plan and
    * claim), staging write INSIDE the claim (losers never pay it),
    * atomic dir rename, claim released. Crash residue: a claim whose
    * target never landed janitors after `graft.lake.claimGraceMs`
    * (stale-claim retirement goes through [[retireStaleClaim]]'s
    * rename gate, so simultaneous janitors admit one).
    */
  private def casSwapDir(spark: SparkSession, root: String, next: DataFrame,
                         expectVersion: Option[Int],
                         kind: String, dirOf: Int => String, staging: String,
                         versionOf: (SparkSession, String) => Int): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = versionOf(spark, root)
    expectVersion.foreach { v =>
      if (cur != v) throw new ManifestConflictException(
        s"$kind swap conflict under $root: planned against version $v but " +
          s"found $cur — another writer committed since (the lake is " +
          s"single-writer); re-plan the operation against the new $kind " +
          "and retry")
    }
    val vNext = cur + 1
    val target = new Path(dirOf(vNext))
    val claim = new Path(dirOf(vNext) + "_claim")
    val token = java.util.UUID.randomUUID().toString
    val claimed = ClaimFile.tryClaim(fs, claim, token) || {
      val cutoff = System.currentTimeMillis() - claimGraceMs(spark)
      val stale =
        try fs.exists(claim) && !fs.exists(target) &&
          ClaimFile.livenessMs(fs, claim) < cutoff
        catch { case _: java.io.IOException => false }
      stale && retireStaleClaim(fs, claim, cutoff) && ClaimFile.tryClaim(fs, claim, token)
    }
    if (!claimed) throw new ManifestConflictException(
      s"$kind swap conflict under $root: version $vNext is claimed — " +
        "another writer won the race; re-plan and retry (a CRASHED " +
        "writer's claim auto-reclaims after graft.lake.claimGraceMs " +
        "once its target version is verifiably absent)")
    // the claim is held ACROSS the staging write — manifest-cardinality
    // rows, which at millions of files on a slow object store runs past
    // claimGraceMs — so it heartbeats like the leases do: without the
    // beat a LIVE slow writer's claim goes mtime-stale, a janitor
    // retires it, and the reclaimer shares this version's staging dir
    // (the exact _temporary-style mutual clobber the claim prevents)
    try heartbeatWhileHeld(fs, claim, token, claimGraceMs(spark)) {
      // in-claim re-check: a racer may have COMMITTED (not just
      // claimed) between our plan read and our claim
      val cur2 = versionOf(spark, root)
      if (cur2 != cur) throw new ManifestConflictException(
        s"$kind swap conflict under $root: version moved $cur -> $cur2 " +
          "while claiming; re-plan and retry")
      if (fs.exists(target)) throw new ManifestConflictException(
        s"$kind swap conflict under $root: version $vNext already exists — " +
          "another writer won the race; re-plan and retry")
      val stagingPath = new Path(staging)
      fs.delete(stagingPath, true)
      next.write.mode(SaveMode.Overwrite).parquet(staging)
      require(fs.rename(stagingPath, target),
        s"$kind swap rename failed under $root")
    } finally ClaimFile.release(fs, claim, token)
  }

  /** Data dirs of every manifest version EXCEPT the current one (the
    * vacuum candidates), plus the legacy unversioned dir once versions
    * exist.
    */
  private[sources] def staleManifestDirs(spark: SparkSession, root: String): Seq[Path] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = manifestVersion(spark, root)
    if (cur == 0) return Seq.empty
    val versioned = fs.listStatus(new Path(root)).toSeq.map(_.getPath).filter { p =>
      p.getName match {
        case ManifestVersionRe(v) => v.toInt < cur
        case _ => false
      }
    }
    val legacy = new Path(s"$root/_manifest")
    versioned ++ (if (fs.exists(legacy)) Seq(legacy) else Seq.empty)
  }

  /** `removed_at` is the tombstone: null = active, non-null = the file
    * was REPLACED (compaction / DML copy-on-write) at that instant and
    * is no longer part of the table, but must stay known to [[sync]] —
    * a replaced file is still on disk until vacuum, and a manifest that
    * forgot it would re-register it on the next sync round,
    * resurrecting its rows (Iceberg keeps the same knowledge as
    * delete-file metadata).
    */
  private val manifestSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("registered_at", TimestampType, nullable = false),
    StructField("min_ts", TimestampType, nullable = true),
    StructField("max_ts", TimestampType, nullable = true),
    StructField("min_svc", StringType, nullable = true),
    StructField("max_svc", StringType, nullable = true),
    StructField("removed_at", TimestampType, nullable = true),
    // commit kind that produced the file: "append" (sync of newly
    // arrived data) vs "rewrite" (compaction / DML copy-on-write — the
    // rows are NOT new). Null (pre-upgrade manifests) reads as append.
    // This is the one bit Iceberg's snapshot `operation` field carries
    // that incremental consumers need: [[tableSince]] skips rewrites.
    StructField("op", StringType, nullable = true),
    // the file's DATA SEQUENCE NUMBER — Iceberg v2's commit-order
    // token, EXPLICIT and monotone per lake ([[nextSeq]]: max over
    // both manifests + 1), never a timestamp (registration instants
    // tie within a millisecond and the equality-delete strictly-below
    // rule would flip on the tie). All files of one commit share one
    // seq. Null (pre-upgrade manifests) reads as 0 — correctly BELOW
    // any explicitly-sequenced delete, since those files predate it.
    StructField("seq", org.apache.spark.sql.types.LongType, nullable = true),
    // write-time PHYSICAL row count of the file (what Iceberg's
    // record_count carries) and the count of rows whose `timestamp`
    // is NULL — the two numbers [[graft.sources.LakeDml.deleteRange]]
    // needs to drop a file METADATA-ONLY: the zone-map [min_ts,
    // max_ts] ignores nulls, so a file is provably all-inside a time
    // range only when null_ts = 0. Null (pre-upgrade manifests /
    // stat-less lakes) reads as unknown = never droppable by
    // metadata, always sound.
    StructField("rows", org.apache.spark.sql.types.LongType, nullable = true),
    StructField("null_ts", org.apache.spark.sql.types.LongType, nullable = true)))

  /** Stat columns carried per manifest row. Two dimensions: the time
    * axis every log query filters on, and the service axis
    * (`service_name` min/max — useful exactly when service is NOT a
    * partition directory, e.g. a flat or re-clustered lake). Stats are
    * nullable; a null means "no stats, never prune" so old manifests
    * and stat-less lakes stay sound.
    */
  private[sources] val StatCols =
    Seq("min_ts", "max_ts", "min_svc", "max_svc", "rows", "null_ts")

  /** The one data-file walk under a lake root (or a staging dir): every
    * `*.parquet` file, skipping every underscore-prefixed entry below
    * `base` (`_manifest`, `_index`, `_dml_pending`, a `_x.parquet`, ...)
    * — the same convention Spark's own scans use, so bookkeeping parquet
    * is never taken for data. A plain `listStatus` walk that never
    * descends into a skipped subtree: Hadoop's recursive `listFiles`
    * iterator walks and builds a `LocatedFileStatus` (block locations)
    * for every bookkeeping file too — on a 4-core host's local FS,
    * 400–470 ms against 4–6 ms for the same 44 paths of a lake after 7
    * OTLP flushes. Dot-prefixed dirs are walked, as that rule walked
    * them. A missing `base` (or a file) lists nothing.
    */
  private[sources] def listDataFiles(fs: FileSystem, base: Path): Seq[FileStatus] = {
    val root =
      try fs.getFileStatus(base)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    val out = Seq.newBuilder[FileStatus]
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { s =>
        val name = s.getPath.getName
        if (!name.startsWith("_")) {
          if (s.isDirectory) walk(s.getPath)
          else if (name.endsWith(".parquet")) out += s
        }
      }
    if (root.isDirectory) walk(base)
    out.result()
  }

  /** Control-plane listing (the `mc find` analog): raw FS paths of the
    * data files under `dir` ([[listDataFiles]]).
    */
  private[sources] def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val base = new Path(dir)
    listDataFiles(base.getFileSystem(spark.sparkContext.hadoopConfiguration), base)
      .map(_.getPath.toString)
  }

  private[graft] def hasManifest(spark: SparkSession, root: String): Boolean = {
    val p = new Path(manifestPath(spark, root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** In-flight DML output declarations: before [[LakeDml]] moves a
    * staged commit's files into live data space it journals their
    * destination paths under `<root>/_dml_pending/` and removes the
    * journal only AFTER the manifest registers them. [[sync]] excludes
    * every journaled path from its fresh-file diff — a crashed DML
    * commit's moved-but-unregistered files would otherwise register as
    * APPENDS and duplicate the still-active originals they restate.
    * Control-plane: one tiny file per in-flight commit; the
    * never-registered vacuum sweep reclaims crashed commits' files
    * after the grace, and [[LogCompact.vacuum]] ages out the journals
    * themselves.
    */
  private[sources] def pendingDmlDir(root: String) = s"$root/_dml_pending"

  private[sources] def pendingDmlPaths(spark: SparkSession, root: String): Set[String] = {
    val dir = new Path(pendingDmlDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Set.empty
    fs.listStatus(dir).iterator.flatMap { s =>
      val in = fs.open(s.getPath)
      try new String(in.readAllBytes(), "UTF-8").split('\n').iterator
        .map(_.trim).filter(_.nonEmpty).map(normPathStr).toSeq
      finally in.close()
    }.toSet
  }

  /** A registry dir's part files (also a follower's `_consumed_v<N>`
    * marks), read with `mergeSchema`. Spark skips a root path whose
    * name starts with `_` (and warns "All paths were ignored"), so the
    * parts are passed instead of the dir. An empty dir is still read as
    * the dir, with the same schema-inference error.
    */
  private[graft] def readRegistryParts(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    val parts = listDataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      .map(_.getPath.toString)
    spark.read.option("mergeSchema", "true").parquet((if (parts.isEmpty) Seq(path) else parts): _*)
  }

  // manifests written before file stats / tombstones existed lack
  // min_ts/max_ts/min_svc/max_svc/removed_at; surface them as null
  // (= "no stats, never prune" / "active"). mergeSchema because a
  // manifest dir can legitimately hold a mix of old- and new-schema
  // row files after an upgrade (sync appends); manifest dirs are
  // file-count-bounded, so reading every footer is control-plane
  // cost, unlike the data-path mergeSchema caveat on tableMerged.
  private def readManifestDir(spark: SparkSession, path: String): DataFrame = {
    val m = readRegistryParts(spark, path)
    manifestSchema.fields.drop(2).foldLeft(m) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
  }

  private[sources] def manifestDf(spark: SparkSession, root: String): DataFrame =
    registryDf(spark, manifestRows(spark, root))

  /** The data manifest as one consistent snapshot for a multi-step
    * commit (compaction, DML, vacuum): held rows already are one (a
    * LocalRelation, so caching buys nothing and a second commit over
    * the same rows would re-cache the same plan); past the cap the
    * distributed read is cached, to be materialized by the caller's
    * first action and `unpersist`ed when done.
    */
  private[sources] def manifestSnapshot(spark: SparkSession, root: String): DataFrame =
    snapshot(spark, manifestRows(spark, root))

  private def snapshot(spark: SparkSession, reg: Registry): DataFrame = reg match {
    case Left(_) => registryDf(spark, reg)
    case Right(df) => df.cache()
  }

  /** The data manifest as [[registryRows]] (empty rows when there is
    * none yet): its rows, or past the cap the distributed read.
    */
  private[sources] def manifestRows(spark: SparkSession, root: String): Registry =
    if (!hasManifest(spark, root)) Left((manifestSchema, Array.empty[Row]))
    else {
      val path = manifestPath(spark, root)
      registryRows(spark, path)(readManifestDir(spark, path))
    }

  // ---- position-delete sidecar (merge-on-read row deletes) ----

  /** The MOR delete registry mirrors the data manifest's versioning:
    * appends go to the current `_dmanifest[_v<N>]` dir, rewrites
    * (tombstone purge, compaction) swap a whole new version with one
    * atomic rename. One row per POSITION-DELETE FILE under
    * `<root>/_deletes/` (Iceberg v2 shape: parquet rows of
    * `file_path` + `pos` naming deleted row ordinals of specific data
    * files). `rows`/`bytes` are write-time stats — the control-plane
    * numbers the read path's broadcast-vs-shuffle decision and the
    * Iceberg export's manifest entries need without reopening files.
    */
  private[sources] val deleteManifestSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("registered_at", TimestampType, nullable = false),
    StructField("removed_at", TimestampType, nullable = true),
    // delete KIND: "pos" (v2 position deletes — `file_path`+`pos`
    // rows) or "eq" (v2 EQUALITY deletes — key rows of the columns in
    // `eq_cols`). Null (pre-upgrade registries) reads as "pos".
    StructField("kind", StringType, nullable = true),
    // the delete file's sequence number from the same monotone
    // counter as the data manifest's `seq`. Position deletes bind by
    // exact file path so their seq is informational internally (and
    // ordering for export); EQUALITY deletes apply to data files with
    // seq STRICTLY BELOW theirs — the spec rule that lets an upsert's
    // own insert (same seq) survive its delete. Null reads as 0.
    StructField("seq", org.apache.spark.sql.types.LongType, nullable = true),
    // comma-joined equality column NAMES for kind="eq"; null for
    // position deletes. Resolved to Iceberg field ids at export time.
    StructField("eq_cols", StringType, nullable = true),
    // how this delete file came to be: "delete" (a genuine DML
    // retraction commit), "upsert" (the INTERNAL old-value retraction
    // of [[LakeDml.upsertEq]]/[[LakeDml.upsertMor]] — not a genuine
    // delete; the replacement values surface on [[upsertsSince]]), or
    // "fold" ([[LakeDml.compactDeletes]] consolidating earlier commits
    // — same CONTENT, not a new retraction). [[deletesSince]] skips
    // folds (a changelog consumer sees each retraction exactly once,
    // the same conservative rule [[tableSince]] applies to data
    // rewrites) and, by default, upsert-born retractions too. Null
    // (pre-upgrade registries) reads as "delete".
    StructField("op", StringType, nullable = true)))

  private val DeleteManifestVersionRe = "_dmanifest_v([0-9]+)".r

  private[sources] def deleteManifestVersion(spark: SparkSession, root: String): Int = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root))) return 0
    fs.listStatus(new Path(root)).flatMap { st =>
      st.getPath.getName match {
        case DeleteManifestVersionRe(v) => Some(v.toInt)
        case _ => None
      }
    }.foldLeft(0)((a, b) => math.max(a, b))
  }

  private[sources] def deleteManifestPath(spark: SparkSession, root: String): String = {
    val v = deleteManifestVersion(spark, root)
    if (v == 0) s"$root/_dmanifest" else s"$root/_dmanifest_v$v"
  }

  private[sources] def hasDeleteManifest(spark: SparkSession, root: String): Boolean = {
    val p = new Path(deleteManifestPath(spark, root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // registries written before kind/seq/eq_cols existed lack those
  // columns; mergeSchema (a registry dir can mix old- and new-schema
  // row files after an upgrade — the leased append adds parts in
  // place) + null backfill, same discipline as [[readManifestDir]]
  private def readDeleteManifestDir(spark: SparkSession, path: String): DataFrame = {
    val m = readRegistryParts(spark, path)
    deleteManifestSchema.fields.drop(5).foldLeft(m) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
  }

  private[graft] def deleteManifestDf(spark: SparkSession, root: String): DataFrame =
    registryDf(spark, deleteManifestRows(spark, root))

  /** [[manifestSnapshot]] for the delete registry. */
  private[sources] def deleteManifestSnapshot(spark: SparkSession, root: String): DataFrame =
    snapshot(spark, deleteManifestRows(spark, root))

  /** The delete registry as [[registryRows]] (empty rows when there is
    * none yet): its rows, or past the cap the distributed read.
    */
  private def deleteManifestRows(spark: SparkSession, root: String): Registry =
    if (!hasDeleteManifest(spark, root)) Left((deleteManifestSchema, Array.empty[Row]))
    else {
      val path = deleteManifestPath(spark, root)
      registryRows(spark, path)(readDeleteManifestDir(spark, path))
    }

  /** The delete-registry append — callable only while the DML lease
    * is HELD (every caller wraps it in [[withDmlLease]] together with
    * its sequence default; the lease is NOT re-entrant, so a
    * self-locking convenience wrapper would deadlock any caller
    * already inside a leased section — deliberately none exists).
    * Two disciplines replace the old bare `mode(Append)` write:
    *
    *  1. STAGED parts, renamed in: the rows write to a writer-unique
    *     underscore staging dir and the produced parquet parts rename
    *     into the registry dir under fresh UUID names. Two concurrent
    *     appends can therefore never share a FileOutputCommitter
    *     `_temporary` dir (the lost-registration interleave), and the
    *     destination dir resolves INSIDE the lease, so an append can
    *     never land in a registry version a racing swap just
    *     superseded. Registry rows are control-plane cardinality (one
    *     per delete FILE), so the staged job is tiny — the lease hold
    *     stays bounded.
    *  2. SELF-DRIVING part bounding (the delete-registry mirror of
    *     sync's data-manifest auto-merge): a long-lived CDC lake
    *     appends parts every retraction batch and, before this, only
    *     the explicit [[LogCompact.rewriteManifests]] op consolidated
    *     them — unbounded planning-time listing growth between manual
    *     maintenance runs. Once the dir crosses
    *     `graft.lake.deleteManifestMergeMinParts` (default 512; 0
    *     disables) the registry rewrites in place, ROW-PRESERVING
    *     (tombstones and all — time travel and historic delete
    *     application see nothing). Safe exactly because every
    *     registry mutation now runs under this lease.
    */
  private[sources] def appendDeleteManifestLocked(spark: SparkSession, root: String,
                                                  rows: DataFrame): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"$root/_dreg_append_" +
      java.util.UUID.randomUUID().toString.take(8))
    // the SAME atomic-visibility + monotone-stamp discipline as the
    // data manifest's sync append ([[appendManifestAtomic]]): the
    // commit's rows land as ONE renamed part, stamped STRICTLY ABOVE
    // the registry's high-water mark (safe — every registry mutation
    // serializes under the DML lease this method requires), so a
    // [[deleteHighWaterMark]]/[[deletesSince]] poll can neither
    // observe half a commit nor lose a commit to an instant tie.
    val stamp = new java.sql.Timestamp(math.max(math.max(
      System.currentTimeMillis(),
      // durable stamp mark — stale-listing-immune (see [[tsHwmPath]])
      stampFloor(spark, dtsHwmPath(root)) + 1),
      deleteHighWaterMark(spark, root).map(_.getTime + 1).getOrElse(0L)))
    rows.withColumn("registered_at", lit(stamp).cast(TimestampType))
      .select(deleteManifestSchema.fieldNames.map(col).toSeq: _*)
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val dest = new Path(deleteManifestPath(spark, root))
    fs.mkdirs(dest)
    val parts = fs.listStatus(stage)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"atomic delete-registry append under $root staged ${parts.length} " +
        "parts (expected exactly 1 from repartition(1))")
    val unique = new Path(dest,
      s"part-${java.util.UUID.randomUUID().toString}.parquet")
    require(fs.rename(parts.head.getPath, unique),
      s"delete-registry append rename failed: ${parts.head.getPath} -> $unique")
    fs.delete(stage, true)
    // the renames bypassed Spark's write path, so Spark doesn't know
    // the dir changed: a CACHED plan over the registry would keep
    // serving the pre-append listing to every later read (the old
    // mode(Append) write refreshed this implicitly). Same contract,
    // explicit now.
    spark.catalog.refreshByPath(dest.toString)
    // durable stamp mark, recorded after visibility (see [[tsHwmPath]])
    recordStampHwm(spark, dtsHwmPath(root), stamp.getTime)
    val minParts = spark.conf.getOption("graft.lake.deleteManifestMergeMinParts")
      .map(_.toInt).getOrElse(512)
    if (minParts > 0) {
      val parts =
        try fs.listStatus(dest).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        catch { case _: java.io.IOException => Seq.empty }
      if (parts.length >= minParts) {
        // same sizing rule as [[LogCompact.rewriteManifests]]: ~64 MB
        // per consolidated part, never fewer rows
        val target = math.max(1L,
          (parts.map(_.getLen).sum + (64L << 20) - 1) / (64L << 20)).toInt
        swapDeleteManifest(spark, root,
          deleteManifestDf(spark, root).coalesce(target),
          Some(deleteManifestVersion(spark, root)))
      }
    }
  }

  /** [[swapManifest]]'s claim-then-rename CAS discipline for the
    * delete registry — the same [[casSwapDir]] commit.
    */
  private[sources] def swapDeleteManifest(spark: SparkSession, root: String,
                                          next: DataFrame,
                                          expectVersion: Option[Int] = None): Unit =
    casSwapDir(spark, root, next, expectVersion,
      kind = "delete-manifest", dirOf = v => s"$root/_dmanifest_v$v",
      staging = s"$root/_dmanifest_swap", versionOf = deleteManifestVersion)

  /** Tombstone the registry rows for exactly `paths` in ONE CAS swap
    * — the shared retire step of [[LakeDml.compactDeletes]],
    * [[LakeDml.vacuumDeletes]], [[LakeDml.convertEqDeletes]] and
    * [[LogCompact.compact]]'s materialization pass (one place for the
    * normalization + planned-version discipline instead of a copy per
    * maintenance flow).
    */
  private[sources] def tombstoneDeleteEntries(spark: SparkSession, root: String,
                                              paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    val norm = paths.map(normPathStr)
    // the whole read-modify-swap holds the DML lease: without it a
    // registration APPENDED between the registry read and the swap
    // would vanish from the swapped copy (the version CAS cannot see
    // an append — appends don't bump the version)
    withDmlLease(spark, root) {
      val regVersion = deleteManifestVersion(spark, root)
      swapDeleteManifest(spark, root,
        deleteManifestDf(spark, root)
          .withColumn("removed_at",
            when(normPath(col("path")).isin(norm: _*) &&
              col("removed_at").isNull, current_timestamp())
              .otherwise(col("removed_at"))),
        Some(regVersion))
    }
  }

  /** Superseded delete-manifest versions — vacuum candidates, same
    * retention rule as [[staleManifestDirs]].
    */
  private[sources] def staleDeleteManifestDirs(spark: SparkSession,
                                               root: String): Seq[Path] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = deleteManifestVersion(spark, root)
    if (cur == 0) return Seq.empty
    val versioned = fs.listStatus(new Path(root)).toSeq.map(_.getPath).filter { p =>
      p.getName match {
        case DeleteManifestVersionRe(v) => v.toInt < cur
        case _ => false
      }
    }
    val legacy = new Path(s"$root/_dmanifest")
    versioned ++ (if (fs.exists(legacy)) Seq(legacy) else Seq.empty)
  }

  /** One active row-level delete file: position (`kind="pos"`,
    * `file_path`+`pos` rows) or equality (`kind="eq"`, key rows of
    * `eqCols`, applying to data files with seq STRICTLY below `seq`).
    */
  private[graft] final case class DeleteEntry(path: String, rows: Long,
                                              bytes: Long,
                                              kind: String = "pos",
                                              seq: Long = 0L,
                                              eqCols: Seq[String] = Seq.empty,
                                              op: String = "delete") {
    def isEq: Boolean = kind == "eq"
  }

  /** The driver-bytes bound on the delete-entry list below: one
    * active delete FILE costs one [[DeleteEntry]] on the driver per
    * DML-aware read — a path string (~100–200 chars) plus three longs
    * and two short tags, ≲500 heap bytes each, so the default cap of
    * 1M entries bounds the per-read driver crossing at ≲0.5 GB (the
    * same planning-memory class as the chain reader's
    * `graft.chain.explicitFileCap`). Real lakes sit orders of
    * magnitude below it: the registry auto-merge bounds PART count
    * and [[LakeDml.compactDeletes]]/[[LakeDml.vacuumDeletes]]/
    * compaction fold ENTRY count as part of normal maintenance. 0
    * disables the cap.
    */
  private[graft] def deleteEntryCap(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.deleteEntryCap")
      .map(_.toLong).getOrElse(1000000L)

  /** The snapshot-bounded ACTIVE delete-file set (both kinds) —
    * control-plane cardinality (one row per delete FILE; files are
    * bounded by DML commits and folded by [[LakeDml.vacuumDeletes]] /
    * compaction, never by row count). Driver-resident by design: the
    * read path must name these paths explicitly anyway (they live
    * under the underscore tree no data scan lists). The crossing is
    * CAPPED ([[deleteEntryCap]]) on read paths — a lake whose active
    * delete files outgrew maintenance refuses LOUDLY with the fix
    * named instead of silently materializing an unbounded driver
    * list; the fix paths themselves (compaction, delete folding —
    * `capped = false`) stay uncapped so an over-cap registry can
    * always be repaired.
    *
    * Current and time-travel (`asOf`) reads both fold over the delete
    * registry's held rows ([[registryRows]]), so a read of an
    * unchanged registry starts no Spark job; past the registry cap it
    * is one capped collect of the distributed read.
    */
  private[graft] def deleteEntries(spark: SparkSession, root: String,
                                   asOf: Option[java.sql.Timestamp] = None,
                                   capped: Boolean = true
                                  ): Seq[DeleteEntry] = {
    val cap = deleteEntryCap(spark)
    def refuse(): Nothing = sys.error(
      s"delete registry under $root carries more than $cap active " +
        "delete files (graft.lake.deleteEntryCap) — refusing to " +
        "materialize the per-read driver list; fold the registry " +
        "first: LakeDml.compactDeletes / convertEqDeletes / " +
        "vacuumDeletes (SQL: MAINTAIN LAKE ... COMPACT DELETES / " +
        "CONVERT DELETES / VACUUM DELETES) or full compaction, " +
        "or raise the cap")
    // (path, rows, bytes, kind, seq, eq_cols, op) at column indices `i`;
    // a null kind/seq/op is a pre-upgrade row: "pos", 0, "delete"
    val cols = Seq("path", "rows", "bytes", "kind", "seq", "eq_cols", "op")
    def entry(r: Row, i: Seq[Int]) =
      DeleteEntry(r.getString(i(0)), r.getLong(i(1)), r.getLong(i(2)),
        Option(r.getString(i(3))).getOrElse("pos"),
        if (r.isNullAt(i(4))) 0L else r.getLong(i(4)),
        Option(r.getString(i(5))).map(_.split(',').toSeq).getOrElse(Seq.empty),
        Option(r.getString(i(6))).getOrElse("delete"))
    deleteManifestRows(spark, root) match {
      case Left((schema, rows)) =>
        val live = activeAt(rows, schema.fieldIndex("registered_at"),
          schema.fieldIndex("removed_at"), asOf)
        if (capped && cap > 0 && live.length > cap) refuse()
        val i = cols.map(schema.fieldIndex)
        live.map(entry(_, i)).toSeq
      case Right(m) =>
        val bounded = asOf match {
          case Some(ts) => m.filter(col("registered_at") <= lit(ts) &&
            (col("removed_at").isNull || col("removed_at") > lit(ts)))
          case None => m.filter(col("removed_at").isNull)
        }
        val projected = bounded.select(cols.map(col): _*)
        val rows =
          if (!capped || cap <= 0) projected.collect()
          else {
            // LIMIT cap+1: one job either way, and the driver never holds
            // more than cap+1 rows even when the registry is far past it
            val probe = projected
              .limit(math.min(cap, Int.MaxValue - 2L).toInt + 1).collect()
            if (probe.length > cap) refuse()
            probe
          }
        rows.map(entry(_, cols.indices)).toSeq
    }
  }

  /** [[deleteEntries]] restricted to POSITION deletes — the surface
    * for maintenance that folds/retires by target file
    * ([[LakeDml.compactDeletes]]/[[LakeDml.vacuumDeletes]]); equality
    * deletes have no file targets and retire via compaction. UNCAPPED:
    * these are the fix paths an over-cap registry needs to shrink.
    */
  private[graft] def posDeleteEntries(spark: SparkSession, root: String,
                                      asOf: Option[java.sql.Timestamp] = None
                                     ): Seq[DeleteEntry] =
    deleteEntries(spark, root, asOf, capped = false).filterNot(_.isEq)

  /** SEQUENCE RESERVATIONS — the registry entry that closes the
    * compaction/equality-delete interleaving tie: a long-running
    * rewrite captures its commit sequence at PLANNING, long before its
    * output registers, and without a reservation a row-level commit
    * issued in that window computes the SAME nextSeq — an equality
    * delete landing at exactly the restated files' sequence is inert
    * on them (strictly-below rule) and its rows resurrect. A
    * reservation is one tiny file under `<root>/_seq_reserved/`
    * holding the reserved value; [[nextSeq]] counts it, so every
    * commit planned while the rewrite runs lands STRICTLY ABOVE the
    * restated files. Released after the rewrite's swap; a crash
    * leaves the file, which only makes later sequences skip ahead
    * (harmless — monotonicity is the invariant, density is not) until
    * [[LogCompact.vacuum]] ages it out.
    */
  private[sources] def reservedSeqDir(root: String) = s"$root/_seq_reserved"

  private[graft] def reservedSeqs(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(reservedSeqDir(root))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { s =>
      val in = fs.open(s.getPath)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      scala.util.Try(txt.toLong).toOption
    }
  }

  private[sources] def reserveSeq(spark: SparkSession, root: String,
                                  seq: Long): Path = {
    val p = new Path(reservedSeqDir(root),
      s"r${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(seq.toString.getBytes("UTF-8")) finally out.close()
    p
  }

  private[sources] def releaseSeq(spark: SparkSession, reservation: Path): Unit = {
    val fs = reservation.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(reservation, false)
    ()
  }

  /** DURABLE ALLOCATION MARKS — the cache-immune half of commit
    * bookkeeping. [[nextSeq]]'s registry maxes read through Spark, and
    * Spark's session-shared file-status cache can serve a listing
    * taken just before a staged-rename commit landed (the appends
    * invalidate with `refreshByPath`, but a listing STARTED before the
    * rename can be inserted into the cache after the invalidation and
    * linger) — observed as a sync commit tying a racing retraction's
    * sequence despite both allocations holding the DML lease. Every
    * allocation therefore also records its value in a tiny root-level
    * mark file read with a plain uncached `fs.open`: two
    * lease-serialized allocations can never tie regardless of what the
    * Spark-side listing shows. A crash mid-write leaves a torn file
    * that parses as absent, degrading exactly to the derived-max
    * behavior until the next allocation rewrites it.
    */
  private def readLongMark(spark: SparkSession, p: Path): Long = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      scala.util.Try(txt.toLong).getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }
  }

  private def writeLongMark(spark: SparkSession, p: Path, v: Long): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  private[sources] def seqHwmPath(root: String) = new Path(s"$root/_seq_hwm")

  /** The same durable-mark discipline for the MONOTONE `registered_at`
    * STAMPS (data manifest and delete registry): every stamp allocator
    * reads `max(wall clock, listing-derived mark + 1, this mark + 1)`
    * and records its stamp once the commit is VISIBLE (after the
    * rename), so a stale listing can no longer let two commits tie an
    * instant — the strictly-greater `tableSince`/`upsertsSince`/
    * `deletesSince` mark surface stays exact through the same cache
    * seam [[seqHwmPath]] closes for sequences. Recording is
    * max-preserving ([[recordStampHwm]]): a slow committer never
    * regresses the mark below a racer's fresher stamp.
    */
  private[sources] def tsHwmPath(root: String) = new Path(s"$root/_ts_hwm")
  private[sources] def dtsHwmPath(root: String) = new Path(s"$root/_dts_hwm")

  private[sources] def stampFloor(spark: SparkSession, p: Path): Long =
    readLongMark(spark, p)

  private[sources] def recordStampHwm(spark: SparkSession, p: Path,
                                      v: Long): Unit =
    if (v > readLongMark(spark, p)) writeLongMark(spark, p, v)

  /** [[nextSeq]] + durable record in ONE step — the form every
    * sequence ASSIGNMENT must use (plain [[nextSeq]] is only a derived
    * read). Caller MUST hold the DML lease: the record is what makes
    * the next lease holder's allocation strictly above this one even
    * through a stale registry listing.
    */
  private[sources] def nextSeqLocked(spark: SparkSession, root: String): Long = {
    val s = nextSeq(spark, root)
    writeLongMark(spark, seqHwmPath(root), s)
    s
  }

  /** The next commit's sequence number: one past the highest ever
    * assigned across BOTH manifests (data and delete) AND any live
    * planning reservation ([[reserveSeq]]). Each registry's max
    * `coalesce(seq, 0)` folds on the driver over its [[registryRows]];
    * past the cap it is one distributed aggregate. Plus one tiny-dir
    * listing; monotone under the lake's single-writer rule. Tombstoned
    * rows count too — a sequence must never be reused even after the
    * file that held it is vacuumed.
    */
  private[sources] def nextSeq(spark: SparkSession, root: String): Long = {
    def maxSeq(reg: Registry): Long = reg match {
      case Left((schema, rs)) =>
        if (!schema.fieldNames.contains("seq")) 0L
        else {
          val i = schema.fieldIndex("seq")
          rs.iterator.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).foldLeft(0L)(math.max)
        }
      case Right(df) =>
        if (!df.columns.contains("seq")) 0L
        else Option(df.agg(max(coalesce(col("seq"), lit(0L)))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    math.max(math.max(math.max(maxSeq(manifestRows(spark, root)),
      maxSeq(deleteManifestRows(spark, root))),
      reservedSeqs(spark, root).foldLeft(0L)(math.max)),
      // the durable allocation mark: immune to a stale Spark-side
      // registry listing (see [[seqHwmPath]])
      readLongMark(spark, seqHwmPath(root))) + 1
  }

  /** Broadcast the delete rows only while they plausibly fit every
    * executor (manifest `bytes` is compressed parquet; the in-memory
    * relation is larger — stay well under the usual 8 GB broadcast
    * ceiling). Past the cap the anti-join shuffles, which is the
    * correct shape once deletions are data-scale.
    */
  private val BroadcastDeleteBytesCap = 64L * 1024 * 1024

  /** Row cap for broadcasting MANIFEST-cardinality relations (the
    * per-file sequence attach, conversion candidate sets): one row
    * per known file INCLUDING tombstones, so it grows with history
    * until vacuum — at a multi-million-file lake an unconditional
    * broadcast would pressure every executor and the driver. Under
    * the cap the attach broadcasts (a ~100-byte row per file; 1M rows
    * ≈ low hundreds of MB, inside the usual ceiling); past it the
    * join SHUFFLES, the correct shape at that scale. Conf-tunable
    * (`graft.lake.seqBroadcastRowCap`) so specs can force the shuffle
    * path and assert both paths agree.
    */
  private[sources] def seqBroadcastRowCap(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.seqBroadcastRowCap")
      .map(_.toLong).getOrElse(1000000L)

  /** Byte ceiling (compressed parquet, from the dir listing) under
    * which a registry dir is served driver-resident by
    * [[servedRegistry]]. ~32 MB of manifest parquet is roughly the
    * 300k-file mark — comfortably driver-held (the delete-entry
    * crossing already budgets 1M rows ≈ 0.5 GB); past it every read
    * falls back to the distributed scan, the correct shape once the
    * registry itself is data-scale. Conf-tunable so specs can force
    * the fallback and assert both paths agree.
    */
  private[sources] def registryDriverCacheMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.registryDriverCacheMaxBytes")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)

  /** Recursive name:len:mtime listing signature of a registry dir —
    * recursive so a mutation nested below a child directory still
    * changes it. A plain `listStatus` walk for the reason
    * [[listDataFiles]] gives (Hadoop's recursive iterator cost ~2x on
    * the mutation-lake query family when this signature used it); it
    * runs several times per lake read and registries are flat in
    * practice, so the common case is one `listStatus`. Returns
    * (signature, total bytes); (null, MaxValue) when unlistable (never
    * cached).
    */
  private[graft] def registryListingSig(spark: SparkSession, dir: Path): (String, Long) =
    registryListing(spark, dir).fold((null: String, Long.MaxValue))(ls =>
      (listingSig(dir, ls), ls.map(_.getLen).sum))

  private def registryListing(spark: SparkSession, dir: Path): Option[Seq[FileStatus]] =
    try {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val b = Seq.newBuilder[FileStatus]
      def walk(d: Path): Unit =
        fs.listStatus(d).foreach { s =>
          if (s.isDirectory) walk(s.getPath) else b += s
        }
      walk(dir)
      Some(b.result())
    } catch {
      case _: java.io.IOException => None
    }

  private def listingEntry(s: FileStatus): String =
    s"${s.getPath}:${s.getLen}:${s.getModificationTime}"

  private def listingSig(dir: Path, ls: Seq[FileStatus]): String =
    ls.map(listingEntry).sorted.mkString(dir.toString + "|", "|", "")

  /** A registry resolved once: its (schema, rows) held on the driver,
    * or past the cap the distributed read. Folds match on the `Left`;
    * [[registryDf]] turns either side into a DataFrame.
    */
  private[sources] type Registry = Either[(StructType, Array[Row]), DataFrame]

  // (listing signature, merged schema, collected rows) per (session,
  // registry dir) — the one driver-held copy of registry state
  private val registryRowsMemo =
    graft.SessionCaches.memo[String, (String, StructType, Array[Row])]()

  /** A SMALL registry dir (data manifest / delete registry, index
    * sidecar) as driver-resident rows: collected ONCE per (session,
    * dir, listing signature) and re-served until the listing changes.
    * When the dir is unlistable or past [[registryDriverCacheMaxBytes]]
    * it is `Right(read)`: the caller takes the distributed path,
    * size-guarded like every other control-plane crossing. Delete
    * entries, manifest row counts, sequence and stamp maxes and the
    * export/rollup state tokens all fold over these rows.
    *
    * The signature is exact under the registry's RENAME-ONLY mutation
    * contract: every registry write lands as a freshly named part
    * renamed into the dir ([[appendManifestAtomic]],
    * [[appendDeleteManifestLocked]]) or as a whole new version dir
    * swapped in by one rename; no parquet file is ever rewritten in
    * place. An in-place overwrite keeping a file's name and length
    * within the filesystem's mtime granularity would not change the
    * signature, and would serve stale rows.
    *
    * WRITE-THROUGH: a sync round's own append keeps the entry current
    * ([[appendManifestAtomic]]), so neither the next sync nor a
    * follower's next [[highWaterMark]] collects the manifest again. The
    * entry becomes (listing after the rename, schema, held rows ++ the
    * round's rows) only when all of these hold: before the rename the
    * entry's signature equalled the listing; the listing after it is
    * exactly that listing plus the renamed part; and the held schema is
    * [[manifestSchema]] (names and types). Any other case (a foreign
    * append or swap in between, a legacy schema, an unheld entry) leaves
    * the entry to the signature check above, which re-collects.
    *
    * Why: the registry is control-plane metadata consulted by EVERY
    * read (`table`/`tableAsOf`/`tableSince`/stream offsets — typically
    * 2-4 reads per query) and by every sync round, and a
    * `spark.read.parquet` of a KB-scale dir costs a full scan job
    * (~0.25 s of scheduler + footer latency per read, measured).
    * Iceberg/Delta hold exactly this metadata driver-side.
    */
  private[sources] def registryRows(spark: SparkSession, dirStr: String)
                                   (read: => DataFrame): Registry = {
    val (sig, bytes) = registryListingSig(spark, new Path(dirStr))
    if (sig == null || bytes > registryDriverCacheMaxBytes(spark)) return Right(read)
    val (_, schema, rows) = registryRowsMemo.refresh(spark, dirStr)(_._1 == sig) {
      val df = read
      (sig, df.schema, df.collect())
    }
    Left((schema, rows))
  }

  /** A resolved registry as a DataFrame: held rows become a
    * LocalRelation — lets the keep-set semi-join broadcast without any
    * scan job — and the distributed read stays as it is.
    */
  private def registryDf(spark: SparkSession, reg: Registry): DataFrame = reg match {
    case Left((schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)
    case Right(df) => df
  }

  private[sources] def servedRegistry(spark: SparkSession, dirStr: String)
                                     (read: => DataFrame): DataFrame =
    registryDf(spark, registryRows(spark, dirStr)(read))

  /** The held rows live at `asOf` (registered by then and not removed
    * by then), or the untombstoned rows when `asOf` is None — the
    * filter the DataFrame reads apply. Held stamps sit on Spark's
    * microsecond grid, so plain `Timestamp` order matches Spark's
    * comparison against a finer-grained `asOf`.
    */
  private def activeAt(rows: Array[Row], reg: Int, rem: Int,
                       asOf: Option[java.sql.Timestamp]): Array[Row] = asOf match {
    case None => rows.filter(_.isNullAt(rem))
    case Some(ts) => rows.filter(r => !r.isNullAt(reg) && !r.getTimestamp(reg).after(ts) &&
      (r.isNullAt(rem) || r.getTimestamp(rem).after(ts)))
  }

  /** The newest `registered_at` of a resolved registry: a driver fold
    * over held rows (a follower's repeat poll starts no Spark job), one
    * aggregate past the cap.
    */
  private def newestStamp(reg: Registry): Option[java.sql.Timestamp] = reg match {
    case Left((schema, rows)) =>
      val i = schema.fieldIndex("registered_at")
      rows.iterator.filterNot(_.isNullAt(i)).map(_.getTimestamp(i))
        .reduceOption((a, b) => if (b.after(a)) b else a)
    case Right(m) =>
      Option(m.agg(max(col("registered_at"))).head().getTimestamp(0))
  }

  /** TOTAL row count (active + tombstoned) of a resolved registry: the
    * held rows' length, or past the cap one count job per call.
    */
  private def registryRowCount(reg: Registry): Long = reg match {
    case Left((_, rows)) => rows.length.toLong
    case Right(df) => df.count()
  }

  /** TOTAL manifest row count (active + tombstoned) — an UPPER BOUND
    * on every manifest-derived relation's cardinality (keep-sets,
    * seq-attach), used ONLY to pick broadcast vs shuffle. Both join
    * strategies are row-identical, so the bound can cost a suboptimal
    * plan, never a wrong row.
    */
  private[graft] def manifestRowCount(spark: SparkSession, root: String): Long =
    registryRowCount(manifestRows(spark, root))

  /** The keep-set build side of the registered-path semi-join,
    * size-guarded like every other manifest-cardinality relation: one
    * row per kept file, so it grows with the lake — at ~10⁶ files an
    * unconditional broadcast pins ~100+ MB of path strings on every
    * executor for EVERY read (this is the primary read path — all of
    * `table`/`tableAsOf`/`tableBetween`/`tableFor` flow through it).
    * Under [[seqBroadcastRowCap]] the semi-join broadcasts; past it
    * no hint — the join shuffles (AQE still free to broadcast a build
    * side that turns out small). The bound is the row count of
    * `manifest`, the caller's resolved data manifest: an upper bound
    * on the filtered keep-set (conservative — a lake whose TOMBSTONES
    * push the manifest over the cap falls to the shuffle shape early,
    * and AQE recovers the broadcast at runtime).
    */
  private[sources] def sizedKeepSet(spark: SparkSession, manifest: Registry,
                                    paths: DataFrame): DataFrame =
    if (registryRowCount(manifest) <= seqBroadcastRowCap(spark)) broadcast(paths)
    else paths

  /** The lake-state token the Iceberg export and rollup memos are
    * validated by, folded over the held registry rows (no Spark job
    * while both registries are under the cap). `manifest` is
    * `version:active files:newest registration` — plain syncs append
    * without bumping the version, so the count and the newest stamp
    * carry them. `deletes` is SHA-256 over the active delete entries
    * (path, rows, kind, seq), not a 32-bit hash whose collision would
    * skip a needed re-export. Each part reads its registry on first
    * use, so a caller keyed on one part never reads the other.
    */
  private[graft] final class StateToken(manifestPart: => String, deletesPart: => String) {
    lazy val manifest: String = manifestPart
    lazy val deletes: String = deletesPart
  }

  private[graft] def stateToken(spark: SparkSession, root: String): StateToken =
    new StateToken({
      val m = manifestRows(spark, root)
      val (active, newest) = m match {
        case Left((schema, rows)) =>
          val i = schema.fieldIndex("removed_at")
          (rows.count(_.isNullAt(i)).toLong, newestStamp(m))
        case Right(df) =>
          val h = df.agg(count(when(col("removed_at").isNull, 1)),
            max(col("registered_at"))).head()
          (h.getLong(0), Option(h.getTimestamp(1)))
      }
      s"${manifestVersion(spark, root)}:$active:${newest.orNull}"
    }, sha256Hex(deleteEntries(spark, root)
      .map(e => s"${e.path}#${e.rows}#${e.kind}#${e.seq}").sorted.mkString("|")))

  private[graft] def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Apply the row-level deletes in `entries` to a scan carrying
    * `__src` (normalized `_metadata.file_path`).
    *
    * POSITION deletes anti-join on (file, row ordinal) —
    * `_metadata.row_index` is the parquet row ordinal Spark's scan
    * surfaces, exactly the `pos` the delete files record, no window or
    * zipWithIndex pass. No sequence check needed: they bind by exact
    * file path and paths are never reused.
    *
    * EQUALITY deletes anti-join null-safely (`<=>`) on their key
    * columns, restricted to data files whose sequence number is
    * STRICTLY BELOW the delete's (the v2 rule that lets an upsert's
    * same-commit insert survive its own delete). The per-row data
    * sequence attaches from `root`'s manifest (one row per known
    * file, tombstones included so time-travel/branch reads resolve
    * too; seq is immutable per file) — broadcast under
    * [[seqBroadcastRowCap]], shuffled past it. A lake with no
    * equality deletes never pays the attach.
    *
    * Both sides are sized by the DELETED population (manifest
    * `bytes`): broadcast under the cap, shuffle past it.
    */
  // newest collected (file, pos) key sets per DELETE-FILE PATH LIST —
  // delete files are immutable once registered (rewrites mint fresh
  // UUID paths), so the path+bytes list fully identifies the content
  // and no mtime probe is needed
  // LRU-bounded (r19): every delete-file rewrite mints fresh paths, so
  // an unbounded map accumulates up-to-32MB row sets forever. The
  // bound must sit far ABOVE any one query's live working set (one
  // entry per delete file in the chain being read): at 64 entries a
  // read over a longer chain evicted its own entries mid-query and
  // re-collected every delete file on every invocation (measured as
  // part of a ~2x regression on the mutation-lake family). 4096 keeps
  // steady-state reads eviction-free while still bounding lifetime
  // accumulation across rewrites.
  private val posDeleteKeyCache =
    graft.SessionCaches.boundedLru[String, (StructType, Array[Row])](4096)

  /** The (file, pos) key relation of a position-delete entry set,
    * served driver-resident under [[registryDriverCacheMaxBytes]] —
    * the [[servedRegistry]] discipline applied to the OTHER per-read
    * control-plane scan: every read of a lake carrying MOR deletes
    * paid a `spark.read` job (~0.25 s measured) to re-fetch the same
    * immutable KB-scale key files. Past the cap the distributed scan
    * runs unchanged (deletions at data scale keep the data-plane
    * shape).
    */
  private def posDeleteKeys(spark: SparkSession, poss: Seq[DeleteEntry]): DataFrame = {
    def read: DataFrame = spark.read.parquet(poss.map(_.path): _*)
      .select(normPath(col("file_path")).as("__del_file"),
        col("pos").cast("long").as("__del_pos"))
    if (poss.map(_.bytes).sum > registryDriverCacheMaxBytes(spark)) return read
    val key = poss.map(e => s"${e.path}:${e.bytes}").sorted.mkString("|")
    val (schema, rows) = posDeleteKeyCache.computeIfAbsent(key, { _ =>
      val df = read
      (df.schema, df.collect())
    })
    spark.createDataFrame(java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)
  }

  // newest (manifest listing signature, resolved base-scan DataFrame)
  // per (session, scan path): creating the scan re-LISTS the lake
  // root's directory tree (InMemoryFileIndex construction, driver-side,
  // ~0.2 s per query at a few thousand files and growing with file
  // count) and re-infers the parquet schema (a footer job). The
  // resolved relation pins its file-listing snapshot and schema, so it
  // is reusable under exactly the invalidation contract
  // [[registryRows]] relies on: every registered mutation (sync, DML
  // tombstone, compaction swap, vacuum) rewrites the manifest dir,
  // changing the signature — and the schema can only change when new
  // files register. Files present in a stale listing are only dropped
  // ROW-wise by the keep-set semi-join, and files physically deleted
  // are always tombstone-vacuumed through a manifest rewrite first —
  // so a cached listing can never serve rows the current manifest
  // doesn't register, nor point at paths vacuum has removed.
  // Session-keyed (a DataFrame is session-bound), dropped with the
  // session via SessionCaches.
  private val rootScanCache = graft.SessionCaches.memo[String, (String, DataFrame)]()

  private def cachedRootScan(spark: SparkSession, root: String,
                             p: String): DataFrame = {
    val sig = registryListingSig(spark, new Path(manifestPath(spark, root)))._1
    def build(): DataFrame = spark.read.option("basePath", root).parquet(p)
    if (sig == null) return build()
    rootScanCache.refresh(spark, p)(_._1 == sig)((sig, build()))._2
  }

  private[sources] def applyDeletes(spark: SparkSession, df: DataFrame,
                                    root: String,
                                    entries: Seq[DeleteEntry],
                                    currentName: String => String = identity
                                   ): DataFrame = {
    if (entries.isEmpty) return df
    val (eqs, poss) = entries.partition(_.isEq)
    def sized(rel: DataFrame, bytes: Long): DataFrame =
      if (bytes <= BroadcastDeleteBytesCap) broadcast(rel) else rel
    val posApplied =
      if (poss.isEmpty) df
      else {
        val delRows = posDeleteKeys(spark, poss)
        // an evolved caller pre-materializes the ordinal (its alias
        // fold ended `_metadata` resolution); everyone else resolves
        // it here
        val withPos =
          if (df.columns.contains("__pos")) df
          else df.withColumn("__pos", col("_metadata.row_index"))
        withPos
          .join(sized(delRows, poss.map(_.bytes).sum),
            col("__src") === col("__del_file") &&
              col("__pos") === col("__del_pos"), "left_anti")
          .drop("__pos")
      }
    if (eqs.isEmpty) posApplied
    else {
      // per-row data sequence from the manifest (path is unique
      // across active + tombstoned rows; null seq = pre-upgrade = 0).
      // NOTE: this LEFT OUTER join leaks the manifest scan's hidden
      // `_metadata` column into the joined plan (outer joins propagate
      // both children's metadata columns, unlike the semi/anti joins
      // everywhere else in the read path) — so callers must
      // materialize any `_metadata` reference as a real column BEFORE
      // the scan enters applyDeletes (LakeDml.tableWithPos does), or
      // resolution turns ambiguous the moment a lake holds an
      // equality delete.
      val m = manifestRows(spark, root)
      val seqRel = registryDf(spark, m).select(registeredKey(col("path")).as("__seq_src"),
        coalesce(col("seq"), lit(0L)).as("__data_seq"))
      // size-guarded like every other join in this path: the attach
      // relation has manifest cardinality — broadcast under the row
      // cap (the held rows' count, not a job per read), shuffle past it
      val sizedSeqRel =
        if (registryRowCount(m) <= seqBroadcastRowCap(spark)) broadcast(seqRel)
        else seqRel
      val withSeq = posApplied.join(sizedSeqRel,
        col("__src") === col("__seq_src"), "left")
        .drop("__seq_src")
        .withColumn("__data_seq", coalesce(col("__data_seq"), lit(0L)))
      // one anti-join per distinct equality-column set. All files of
      // a set read in ONE scan (a CDC stream leaves one delete file
      // per retraction commit — a per-file union chain would grow the
      // plan linearly in commit count until compaction); each row's
      // own delete sequence attaches via a broadcast of the
      // control-plane (file → seq) list, built as a local relation so
      // no second `_metadata` enters the plan
      import spark.implicits._
      val applied = eqs.groupBy(_.eqCols).foldLeft(withSeq) {
        case (acc, (cols, files)) =>
          val delSeqRel = files.map(e => (registeredKeyStr(e.path), e.seq))
            .toDF("__eqd_file", "__eq_seq")
          val delRows = spark.read.parquet(files.map(_.path): _*)
            .withColumn("__eqd_src", normPath(col("_metadata.file_path")))
            .join(broadcast(delSeqRel), col("__eqd_src") === col("__eqd_file"))
            .select(cols.map(c => col(c).as(s"__eqd_$c")) :+
              col("__eq_seq"): _*)
          // `currentName` resolves a key recorded under a since-retired
          // name (a historic/time-travel read on a renamed lake) to
          // the scan's final column — the values are the same field's
          val cond = cols.map(c => col(currentName(c)) <=> col(s"__eqd_$c"))
            .reduce(_ && _) && col("__data_seq") < col("__eq_seq")
          acc.join(sized(delRows, files.map(_.bytes).sum), cond, "left_anti")
      }
      applied.drop("__data_seq")
    }
  }

  /** [[keepOnly]] for cross-package CDC readers: the lake scan
    * restricted to a `__registered_path` keep-set.
    */
  private[graft] def tableForPaths(spark: SparkSession, root: String,
                                   keep: DataFrame,
                                   deletes: Seq[DeleteEntry] = Seq.empty,
                                   keepSrc: Boolean = false
                                  ): DataFrame =
    keepOnly(spark, root, manifestRows(spark, root), keep, deletes = deletes,
      keepSrc = keepSrc)

  /** Manifest rows that are part of the table NOW (no tombstone). */
  private[sources] def activeManifest(spark: SparkSession, root: String): DataFrame =
    manifestDf(spark, root).filter(col("removed_at").isNull)

  /** The current manifest, for inspection/ops: (path, registered_at,
    * min_ts, max_ts, removed_at) — active rows plus tombstones awaiting
    * vacuum. Resolves the current version; don't read the `_manifest*`
    * dirs directly, a rewrite may have superseded them.
    */
  def manifest(spark: SparkSession, root: String): DataFrame =
    manifestDf(spark, root)

  /** Canonical path form shared by the manifest and
    * `input_file_name()` (scheme spelling differs: `file:/x` vs
    * `file:///x`).
    */
  private[graft] def normPath(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z0-9.+-]+:/+", "/")

  /** The key a manifest or delete-registry path joins a scanned row's
    * `normPath(_metadata.file_path)` on: [[normPath]], then the URI
    * spelling. The registries keep the Hadoop path string, the scan its
    * URI, which %-escapes `%`, spaces and every other character a URI
    * path may not hold (`a%2Fb` is `a%252Fb`, `x y` is `x%20y`). Every
    * comparison of a registered path with a scanned file's identity
    * goes through this key; it is applied to registry-sized relations,
    * never per data row.
    */
  private[graft] def registeredKey(c: Column): Column = uriForm(normPath(c))

  /** [[registeredKey]] for driver-side strings. */
  private[graft] def registeredKeyStr(p: String): String = uriFormStr(normPathStr(p))

  private def uriFormStr(p: String): String =
    if (p == null || !p.startsWith("/")) p else new java.net.URI("f", null, p, null).getRawPath

  private val uriForm = udf((p: String) => uriFormStr(p))

  /** [[normPath]] for driver-side strings (same canonical form). */
  private[graft] def normPathStr(p: String): String =
    p.replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")

  /** Per-file manifest statistics for exactly `paths`, keyed by
    * [[normPathStr]]: the zone map of the time axis (`min_ts`, `max_ts`,
    * `null_ts`) and of the service axis (`min_svc`, `max_svc`), and the
    * physical row count (`rows`), as a [[StatCols]]-ordered row. A file
    * the map lacks (an empty file) registers with null stats.
    *
    * Registration is metadata-only where the footers allow it
    * ([[Footers.stats]], one footer read per file on the driver, no
    * Spark job): every file of a directory-key group must store the time
    * axis as INT64 `TIMESTAMP(MICROS, isAdjustedToUTC=true)` with
    * complete statistics, which every [[LogWriter.lakeWriter]] file
    * does. Any other group takes [[scanStats]], which reads the files
    * and gives the same rows: INT96 or stat-less files, a time or
    * service axis with more than one name (a rename, so one round can
    * mix names), or a service directory value that Spark's partition
    * inference could type as a number, date or timestamp (it would then
    * read as a null string). A directory service value is unescaped as
    * Spark unescapes it.
    *
    * The path list is the CURRENT ROUND'S new files (bounded by ingest
    * rate, not lake size), already driver-resident from the listing.
    */
  private[sources] def statsFor(spark: SparkSession, root: String,
                                paths: Seq[String]): Map[String, Row] = {
    val evoSt = LakeEvolve.state(spark, root)
    val allTs = LakeEvolve.timeAxisNamesOf(evoSt)
    val allSvc = LakeEvolve.svcAxisNamesOf(evoSt)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    val base = normPathStr(fs.makeQualified(new Path(root)).toString) + "/"
    // the `k=v` directory segments below the root
    def dirKeys(p: String): Option[Seq[(String, String)]] = {
      val n = normPathStr(p)
      if (!n.startsWith(base)) None
      else Some(n.stripPrefix(base).split('/').dropRight(1).toSeq
        .filter(_.contains('=')).map { seg => val i = seg.indexOf('='); (seg.take(i), seg.drop(i + 1)) })
    }
    def stringTyped(raw: String): Boolean =
      raw.nonEmpty && raw != ExternalCatalogUtils.DEFAULT_PARTITION_NAME &&
        !raw.stripPrefix("-").stripPrefix("+").headOption.exists(_.isDigit) &&
        scala.util.Try(java.lang.Double.parseDouble(raw)).isFailure
    def fromFooters(group: Seq[String]): Option[Map[String, Row]] =
      if (allTs.length != 1 || allSvc.length != 1) None
      else {
        val svcs = group.map(p => dirKeys(p).flatMap(_.filter(_._1 == allSvc.head) match {
          case Seq() => Some(Footers.SvcColumn(allSvc.head))
          case Seq((k, raw)) if stringTyped(raw) =>
            Some(Footers.SvcDir(k, ExternalCatalogUtils.unescapePathName(raw)))
          case _ => None
        }))
        if (svcs.exists(_.isEmpty)) None
        else {
          val stats = group.zip(svcs.flatten).iterator.map { case (p, svc) =>
            Footers.stats(conf, fs.getFileStatus(new Path(p)), allTs.head, svc).map(p -> _)
          }.takeWhile(_.isDefined).flatten.toSeq
          if (stats.length < group.length) None
          else Some(stats.map { case (p, st) =>
            normPathStr(p) -> Row(st.minTs.map(Footers.timestamp).orNull,
              st.maxTs.map(Footers.timestamp).orNull, st.minSvc.orNull, st.maxSvc.orNull,
              st.rows, st.nullTs)
          }.toMap)
        }
      }
    bySignature(paths).flatMap(g => fromFooters(g).getOrElse(scanStats(spark, root, g))).toMap
  }

  // ONE round can list files from TWO layout generations (the round
  // that first syncs after a layout flip, or a backfill round over a
  // flipped tree) — an explicit-path read with basePath would die in
  // partition discovery exactly like the root scan. Same answer as
  // [[scanRoot]]: group the round's paths by directory-key signature
  // and stat each generation's group under its own consistent shape.
  private def bySignature(paths: Seq[String]): Seq[Seq[String]] =
    paths.groupBy(p => p.split('/').filter(_.contains('=')).map(_.split('=')(0)).toSeq)
      .values.toSeq

  /** [[statsFor]]'s scan: the stats aggregate over the files, run as a
    * Spark job and collected to the driver. The read declares the data
    * schema of the group's first file's footer ([[Footers.schema]]),
    * the file Spark's inference would sample, so no inference job runs;
    * partition columns are still inferred from the directories.
    */
  private[sources] def scanStats(spark: SparkSession, root: String,
                                 paths: Seq[String]): Map[String, Row] = {
    val groups = bySignature(paths)
    if (groups.size > 1) return groups.flatMap(scanStats(spark, root, _)).toMap
    // the stat axes bind the FIELD originally named timestamp /
    // service_name — after a rename the round's files carry the new
    // physical name (or, from a lagging writer, still an old one),
    // and one round can MIX both while the declared schema samples a
    // single footer: request every name the axis has had explicitly
    // (absent ones read null) and coalesce, newest first. ONE state
    // resolution serves all four axis facts.
    val evoSt = LakeEvolve.state(spark, root)
    val allTs = LakeEvolve.timeAxisNamesOf(evoSt)
    val allSvc = LakeEvolve.svcAxisNamesOf(evoSt)
    val dataSchema = Footers.schema(spark, new Path(paths.head))
      .getOrElse(sys.error(s"no parquet footer at ${paths.head}"))
    val dirKeys = paths.head.split('/').filter(_.contains('=')).map(_.split('=')(0)).toSet
    val known = dataSchema.fieldNames.toSet ++ dirKeys
    val extras =
      if (allTs.length + allSvc.length == 2) Nil
      else allTs.filterNot(known).map(n => StructField(n, TimestampType, nullable = true)) ++
        allSvc.filterNot(known).map(n => StructField(n, StringType, nullable = true))
    val probe = spark.read.option("basePath", root)
      .schema(StructType(dataSchema.fields ++ extras)).parquet(paths: _*)
    def has(c: String, t: org.apache.spark.sql.types.DataType): Boolean =
      probe.columns.contains(c) && probe.schema(c).dataType == t
    val tsName = allTs.filter(has(_, TimestampType))
    val svcName = allSvc.filter(has(_, StringType))
    if (tsName.isEmpty && svcName.isEmpty)
      // stat-less lakes get null rows/null_ts too (probing counts
      // would be a read this branch exists to avoid) — null = unknown,
      // so the metadata-drop fast path never fires on them
      return paths.map(p => normPathStr(p) -> Row.fromSeq(StatCols.map(_ => null))).toMap
    val ts = if (tsName.nonEmpty) coalesce(tsName.map(col): _*)
             else lit(null).cast(TimestampType)
    val svc = if (svcName.nonEmpty) coalesce(svcName.map(col): _*)
              else lit(null).cast(StringType)
    // `_metadata.file_path` is a URI string (a `%` or a space in a
    // directory value escaped once more); keyed as the listing's path
    probe
      .groupBy(col("_metadata.file_path").as("uri"))
      .agg(min(ts).as("min_ts"), max(ts).as("max_ts"),
           min(svc).as("min_svc"), max(svc).as("max_svc"),
           count(lit(1)).as("rows"),
           (count(lit(1)) - count(ts)).as("null_ts"))
      .collect().map { r =>
        normPathStr(new Path(new java.net.URI(r.getString(0))).toString) ->
          Row.fromSeq(r.toSeq.tail)
      }.toMap
  }

  /** Fully-statted manifest rows for this round's new files, built on
    * the driver in [[manifestSchema]] order — the stamping step shared
    * by [[sync]], [[LogCompact.compact]] and [[graft.sources.LakeDml]]
    * (one place to extend when a stat column is added). `paths` is
    * always a bounded, driver-resident list (new files of one round /
    * one rewrite); the stats come from [[statsFor]], so a round of
    * µs lake files starts no Spark job here. `registeredAt` defaults to
    * the driver's clock.
    */
  private[sources] def freshManifestRows(spark: SparkSession, root: String,
                                         paths: Seq[String],
                                         op: String = "append",
                                         seq: Option[Long] = None,
                                         registeredAt: Option[java.sql.Timestamp] = None
                                        ): Seq[Row] = {
    val commitSeq = seq.getOrElse(nextSeq(spark, root))
    val stamp = registeredAt.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
    val stats = if (paths.isEmpty) Map.empty[String, Row] else statsFor(spark, root, paths)
    val unknown = Row.fromSeq(StatCols.map(_ => null))
    paths.map { p =>
      val st = stats.getOrElse(normPathStr(p), unknown).toSeq
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        (Seq(p, stamp) ++ st.take(4) ++ Seq(null, op, commitSeq) ++ st.drop(4)).toArray,
        manifestSchema)
    }
  }

  /** Driver-built manifest rows as a DataFrame (a LocalRelation). */
  private[sources] def manifestFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), manifestSchema)

  /** SINGLE-WRITER lease around [[sync]]'s plan-and-append round. Two
    * concurrent syncs of one root would both pass the fresh-file
    * anti-join (each plans against the same manifest state) and
    * double-register every new path — benign for the read path's
    * semi-join keep-set, but the eq-delete `seqRel` LEFT join would
    * then DUPLICATE the file's rows and [[tableSince]] would surface
    * it twice. The lease is a no-overwrite create carrying a
    * writer-unique token re-read after create (the schema-log commit
    * protocol's claim-verify discipline: "atomic" create is really
    * exists-then-create on RawLocalFileSystem / plain S3A, so the
    * surviving content names the real holder); a live concurrent
    * holder → LOUD refusal, never a silent skip. Crash residue (a
    * lease older than `graft.lake.claimGraceMs`, default 15 min — a
    * sync round is minutes, not hours) is reclaimed once.
    */
  private[sources] def withSyncLease[T](spark: SparkSession, root: String)(body: => T): T = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new Path(s"$root/_sync_lease")
    val token = java.util.UUID.randomUUID().toString
    // atomic where the FS allows (O_EXCL locally, server-side on
    // HDFS) + token verify for the rest — see [[ClaimFile]]
    def tryClaim(): Boolean = ClaimFile.tryClaim(fs, lease, token)
    val claimed = tryClaim() || {
      val cutoff = System.currentTimeMillis() - claimGraceMs(spark)
      val stale =
        try fs.exists(lease) && ClaimFile.livenessMs(fs, lease) < cutoff
        catch { case _: java.io.IOException => false }
      stale && retireStaleClaim(fs, lease, cutoff) && tryClaim()
    }
    if (!claimed) sys.error(s"sync lease conflict under $root: another sync " +
      s"holds $lease — sync is single-writer per root; rerun when it " +
      "finishes (a CRASHED sync's lease is auto-reclaimed after " +
      "graft.lake.claimGraceMs of inactivity)")
    try heartbeatWhileHeld(fs, lease, token, claimGraceMs(spark))(body)
    finally ClaimFile.release(fs, lease, token)
  }

  /** Refresh a held lease's LIVENESS every quarter of the grace window
    * while `body` runs: `fs.setTimes` where the store honors it, plus
    * a content beat ([[ClaimFile.writeBeat]] — a monotone counter and
    * wall clock in a sidecar the staleness checks read through
    * [[ClaimFile.livenessMs]]), so the heartbeat holds on
    * mtime-unfaithful stores too. Without it a LEGITIMATE holder whose
    * leased section outlives `graft.lake.claimGraceMs` — a slow object
    * store making the in-lease registry auto-merge swap crawl, a long
    * sync round — is reclaimed MID-COMMIT by an actively-waiting
    * claimer, reopening the double-writer window the lease closes. A
    * crashed holder has no heartbeat thread, so crash residue still
    * ages out on schedule. Each beat re-reads the token first and
    * stops refreshing the moment the lease is no longer ours (a
    * holder already reclaimed past an extreme stall must not extend
    * the RECLAIMER's lease on its behalf; the benign converse —
    * refreshing a reclaimer's fresh lease in the read-beat gap — only
    * delays third-party reclaim of a live holder). A transient read
    * failure skips one refresh and keeps beating — but THREE
    * consecutive FILE-MISSING reads are treated as loss: a displaced
    * holder (claim renamed aside and never restored) must not keep
    * writing beats that read as liveness for a file no claim check
    * can see; it logs a warning and degrades to the documented
    * grace-window trade.
    */
  private def heartbeatWhileHeld[T](fs: org.apache.hadoop.fs.FileSystem,
                                    lease: Path, token: String,
                                    graceMs: Long)(body: => T): T = {
    val interval = math.max(graceMs / 4, 25L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      var ours = true
      var n = 0L // tryClaim wrote beat 0 at claim time
      var consecutiveMissing = 0
      while (!stop.get() && ours) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => ours = false }
        if (!stop.get() && ours) {
          // a CONFIRMED foreign token stops the beat (we were
          // reclaimed; refreshing would extend the reclaimer's lease
          // on its behalf). A transient read failure — object-store
          // throttle, or the instant a janitor's rename-aside holds
          // the file — must NOT: one 503 killing the heartbeat for a
          // minutes-long section silently reverts the holder to the
          // mid-commit-reclaim hazard the beat exists to close. Skip
          // the refresh this round and re-read next beat. MISSING is
          // tracked separately from other failures: persistently
          // absent means displaced, not throttled.
          val verdict: Option[Boolean] =
            try {
              val in = fs.open(lease)
              val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
              consecutiveMissing = 0
              Some(got == token)
            } catch {
              case _: java.io.FileNotFoundException =>
                consecutiveMissing += 1
                None
              case _: java.io.IOException => None
            }
          verdict match {
            case Some(false) => ours = false
            case Some(true) =>
              try fs.setTimes(lease, System.currentTimeMillis(), -1)
              catch { case _: java.io.IOException => () }
              n += 1
              ClaimFile.writeBeat(fs, lease, token, n)
            case None if consecutiveMissing >= 3 =>
              // displaced: a janitor moved the claim aside and a
              // rename-back never landed (or a third writer took the
              // path and was itself released). The work keeps running
              // — aborting a mid-critical-section body would corrupt
              // more than the narrowed double-admit window does — but
              // the beat stops and the displacement is surfaced.
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"graft lease heartbeat: $lease has been missing for " +
                  s"$consecutiveMissing consecutive beats - this holder " +
                  "was displaced (claim retired and not restored); its " +
                  "work continues but is no longer protected by the lease")
              ours = false
            case None => () // transient — keep the beat alive
          }
        }
      }
    }, s"graft-lease-heartbeat-${lease.getName}")
    beat.setDaemon(true)
    beat.start()
    try body finally { stop.set(true); beat.interrupt() }
  }

  /** SERIALIZATION of every DELETE-REGISTRY mutation and every commit
    * SEQUENCE allocation — the multi-writer protection for row-level
    * DML that the sync lease is for sync rounds. Without it two
    * concurrent MOR commits on one root could (a) compute the SAME
    * [[nextSeq]] (breaking the equality-delete strictly-below rule:
    * an upsert's inserts would tie a FOREIGN delete's sequence and
    * wrongly survive it), (b) interleave registry appends through one
    * shared FileOutputCommitter `_temporary` dir (one commit deleting
    * the other's staged part — a lost registration), or (c) append
    * into a registry version dir a racing swap just superseded.
    *
    * Unlike the sync lease (loud refusal — concurrent syncs are
    * redundant work and the holder's round registers the same files),
    * concurrent DML commits are LEGITIMATE independent work (a CDC
    * sink plus an ad-hoc GDPR delete is a realistic collision), so a
    * held lease is WAITED out — bounded spin, default 120 s
    * (`graft.lake.dmlLeaseWaitMs`) — before refusing. The lease is
    * held only across control-plane sections (sequence allocation,
    * registry part renames, registry swaps over file-cardinality
    * rows), never across a data scan or a delete-file write, so the
    * wait is bounded by small driver-side jobs, not by the collided
    * commit's data plane. Crash residue reclaims after
    * `graft.lake.claimGraceMs` through the [[retireStaleClaim]]
    * rename gate.
    */
  private[sources] def withDmlLease[T](spark: SparkSession, root: String)(body: => T): T =
    withWaitingLease(spark, root, "_dml_lease", "DML")(body)

  /** The shared WAITED lease shape behind [[withDmlLease]] and
    * [[withSinkLease]]: claim with bounded spin-wait (concurrent
    * holders are legitimate independent work — unlike the sync lease's
    * loud refusal), liveness-checked stale reclaim, heartbeat while
    * held, token-checked release.
    */
  private def withWaitingLease[T](spark: SparkSession, root: String,
                                  leaseName: String, what: String)(body: => T): T = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new Path(s"$root/$leaseName")
    val token = java.util.UUID.randomUUID().toString
    val waitMs = spark.conf.getOption("graft.lake.dmlLeaseWaitMs")
      .map(_.toLong).getOrElse(120L * 1000)
    val deadline = System.currentTimeMillis() + waitMs
    def claimOnce(): Boolean = ClaimFile.tryClaim(fs, lease, token) || {
      val cutoff = System.currentTimeMillis() - claimGraceMs(spark)
      val stale =
        try fs.exists(lease) && ClaimFile.livenessMs(fs, lease) < cutoff
        catch { case _: java.io.IOException => false }
      stale && retireStaleClaim(fs, lease, cutoff) && ClaimFile.tryClaim(fs, lease, token)
    }
    var claimed = claimOnce()
    while (!claimed && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      claimed = claimOnce()
    }
    if (!claimed) sys.error(s"$what lease conflict under $root: another " +
      s"writer holds $lease past graft.lake.dmlLeaseWaitMs; retry, or " +
      "lower graft.lake.claimGraceMs if the holder is known dead")
    // token-checked: a holder that stalled past the grace window and
    // was reclaimed must not delete the reclaimer's live lease; the
    // heartbeat keeps a LIVE long-running holder (e.g. the in-lease
    // delete-registry auto-merge on a slow store) from being judged
    // stale and reclaimed mid-commit
    try heartbeatWhileHeld(fs, lease, token, claimGraceMs(spark))(body)
    finally ClaimFile.release(fs, lease, token)
  }

  /** Serialization of the DSv2 SINK's check-mode-then-write round
    * ([[GraftDataSource.createRelation]]): without it two concurrent
    * `ErrorIfExists` writers both observe "no manifest" and both land
    * (the mode contract violated under a race), two `Ignore` writers
    * both write (duplicated batch), and two appends share a
    * FileOutputCommitter `_temporary` under the root. Distinct from
    * the sync lease (which [[sync]] itself takes INSIDE this one —
    * lease order sink → sync → dml, never reversed) and deliberately
    * WAITED like DML: concurrent sink writes are legitimate work that
    * serializes, and the loser re-reads the manifest state so its mode
    * arm decides against the winner's outcome. Held across the data
    * write by design — mode exclusivity IS the point — so size
    * `graft.lake.dmlLeaseWaitMs` to the expected batch write time
    * when concurrent sink writers are the norm.
    */
  private[sources] def withSinkLease[T](spark: SparkSession, root: String)(body: => T): T = {
    // a first-ever write targets a root that does not exist yet — the
    // lease file needs its parent before any claim can land
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    withWaitingLease(spark, root, "_sink_lease", "sink")(body)
  }

  /** Allocate the next commit sequence AND reserve it in ONE
    * lease-held step — the multi-writer-safe form of the
    * nextSeq-then-reserveSeq pair: between an unleased read and its
    * reservation a concurrent commit could compute the same value.
    * The caller releases the reservation ([[releaseSeq]]) once its
    * commit's registry rows carry the sequence; a crash leaves the
    * reservation file, which only makes later sequences skip ahead
    * until [[LogCompact.vacuum]] ages it out.
    */
  private[sources] def allocateSeq(spark: SparkSession, root: String): (Long, Path) =
    withDmlLease(spark, root) {
      val s = nextSeqLocked(spark, root)
      (s, reserveSeq(spark, root, s))
    }

  /** Land one commit's data-manifest rows as ONE atomically-visible
    * registration: the driver-built rows ([[freshManifestRows]]) stage
    * to a writer-unique underscore dir as a SINGLE parquet part — a
    * LocalRelation written through `coalesce(1)`, one Spark job (the
    * write; `repartition(1)` would add a shuffle job) — and that one
    * part renames into the live manifest dir under a fresh UUID name.
    * Manifest rows are file-count-cardinality, one per new file of the
    * round, bounded by arrival rate, so one part stays small where the
    * data itself would not. One rename = one visibility event: a
    * concurrent reader ([[highWaterMark]], [[tableSince]], the
    * `graft_watermark`/`graft_changes` SQL poll loop) sees either NONE
    * of the round or ALL of it — never a prefix sharing the round's
    * `registered_at` instant, which is what let a strictly-greater
    * mark poll skip the round's remainder forever. Spark's own append
    * committer cannot give this (it renames each task's part
    * separately), which is why the write is staged by hand. The
    * destination dir resolves immediately before the rename, narrowing
    * the append-vs-swap race to the rename itself (the documented
    * temporary-invisibility seam: a racing manifest SWAP can still
    * strand the part in a superseded version dir, and the next sync
    * round's fresh-diff re-registers the files). The rows are then
    * written through to the held registry ([[registryRows]]' rule).
    */
  private[sources] def appendManifestAtomic(spark: SparkSession, root: String,
                                            rows: Seq[Row]): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"$root/_manifest_append_" +
      java.util.UUID.randomUUID().toString.take(8))
    manifestFrame(spark, rows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val parts = fs.listStatus(stage)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"atomic manifest append under $root staged ${parts.length} parts " +
        "(expected exactly 1 from coalesce(1))")
    val destStr = manifestPath(spark, root)
    val dest = new Path(destStr)
    fs.mkdirs(dest)
    val target = new Path(dest,
      s"part-${java.util.UUID.randomUUID().toString}.parquet")
    val before = registryListing(spark, dest)
    require(fs.rename(parts.head.getPath, target),
      s"manifest append rename failed: ${parts.head.getPath} -> $target")
    fs.delete(stage, true)
    // the rename bypassed Spark's write path — invalidate any cached
    // listing over the manifest dir (same contract as the delete
    // registry's leased append)
    spark.catalog.refreshByPath(dest.toString)
    for (ls0 <- before; ls1 <- registryListing(spark, dest)) {
      val known = ls0.map(listingEntry).toSet
      val added = ls1.filterNot(s => known(listingEntry(s)))
      val exact = added.length == 1 && added.head.getPath.getName == target.getName &&
        ls1.length == ls0.length + 1
      def sameShape(schema: StructType) =
        schema.fields.map(f => (f.name, f.dataType)).sameElements(
          manifestSchema.fields.map(f => (f.name, f.dataType)))
      if (exact) registryRowsMemo.update(spark, destStr) { case (sig, schema, held) =>
        if (sig == listingSig(dest, ls0) && sameShape(schema))
          Some((listingSig(dest, ls1), schema, held ++ rows))
        else None
      }
    }
  }

  /** One sync round: returns the number of newly registered files.
    * The listing is driver-resident ([[listParquet]]), and so is the
    * registered set while the manifest is under
    * [[registryDriverCacheMaxBytes]] ([[registryRows]]): the diff is
    * then a driver set difference on `path`. Past the cap it is a
    * distributed anti-join against the manifest, so the driver never
    * materializes a data-scale registered set. Each new file is
    * registered together with its timestamp zone-map ([[statsFor]]).
    * SINGLE-WRITER per root: the whole plan-and-append round runs
    * under [[withSyncLease]] — a concurrent sync of the same root
    * fails loudly rather than double-registering the files both rounds
    * see as fresh (retry when the holder finishes; its round registers
    * them).
    */
  def sync(spark: SparkSession, root: String): Int = withSyncLease(spark, root) {
    import spark.implicits._
    // in-flight (or crashed) DML output is NOT a fresh append — see
    // [[pendingDmlPaths]]
    val pending = pendingDmlPaths(spark, root)
    val listed = listParquet(spark, root)
      .filterNot(p => pending.contains(normPathStr(p)))
    // diff against EVERY known path, tombstoned included: a replaced
    // file is still on disk until vacuum, and treating it as new would
    // resurrect its (compacted-away / deleted) rows
    val freshPaths: Seq[String] = manifestRows(spark, root) match {
      case Left((schema, rows)) =>
        val i = schema.fieldIndex("path")
        val known = rows.iterator.map(_.getString(i)).toSet
        listed.filterNot(known.contains)
      case Right(m) =>
        listed.toDF("path")
          .join(m.select(col("path")), Seq("path"), "left_anti")
          .as[String].collect().toSeq
    }
    if (freshPaths.nonEmpty) {
      // EVOLVED lakes record any columns this round's footers ADDED
      // into the schema log (registration is the one moment every
      // new file is already being read) — the read side then never
      // probes footers, and two writers adding DIFFERENT columns in
      // separate files both surface (a newest-footer probe would
      // silently drop all but the newest file's additions).
      // ORDER MATTERS: the add commits BEFORE the manifest append.
      // A crash (or a lost race against a concurrent ALTER) between
      // the two leaves the files UNREGISTERED — the rerun's fresh
      // diff re-finds them and retries, and a pre-recorded add is a
      // no-op. The reverse order would register the files first and
      // then lose the column FOREVER on a crash: no later sync
      // re-examines a registered file, and evolved reads trust the
      // log alone.
      LakeEvolve.recordAdds(spark, root, freshPaths)
      // LEASED + RESERVED sequence, like every other commit: an
      // unleased nextSeq here could tie a concurrent MOR commit's
      // sequence (the tie is survivable — same-seq data is exempt
      // from the delete, exactly as if appended after — but unique
      // sequences per commit is the invariant everything else
      // reasons from, so sync holds it too). Sync lease is already
      // held; lease order sync→dml matches rewriteManifests.
      val (commitSeq, seqRes) = allocateSeq(spark, root)
      // ONE atomically-visible registration per round — see
      // [[appendManifestAtomic]]: a watermark/changes poll concurrent
      // with this commit can never observe half the round. The
      // round's `registered_at` is STRICTLY ABOVE every earlier
      // registration (sync is single-writer under the lease, so the
      // bump is safe): two rounds completing within one millisecond
      // would otherwise share an instant, and a mark taken between
      // them would skip the second round on the strictly-greater
      // tableSince filter — with monotone stamps plus atomic
      // visibility, the timestamp-mark surface is exact.
      val stamp = new java.sql.Timestamp(math.max(math.max(
        System.currentTimeMillis(),
        // the durable stamp mark: immune to a stale listing behind
        // highWaterMark's manifest read (see [[tsHwmPath]])
        stampFloor(spark, tsHwmPath(root)) + 1),
        highWaterMark(spark, root).map(_.getTime + 1).getOrElse(0L)))
      try appendManifestAtomic(spark, root,
        freshManifestRows(spark, root, freshPaths, seq = Some(commitSeq),
          registeredAt = Some(stamp)))
      finally releaseSeq(spark, seqRes)
      // recorded AFTER the rename made the round visible, so a mark
      // poll folding this value can never cover invisible rows
      recordStampHwm(spark, tsHwmPath(root), stamp.getTime)
      // SELF-DRIVING registry maintenance (Iceberg's
      // commit.manifest-merge analog): every round appends one-plus
      // part-files here, and an append-only lake otherwise NEVER
      // consolidates — at the reference's ~10 s converter cadence
      // that is ~8 640 parts/day of planning-time listing+footer
      // opens on every read. Once the dir crosses
      // `graft.lake.manifestMergeMinParts` (0 disables), rewrite it
      // in place — the lease is already held, so the swap cannot
      // race another sync; ROW-PRESERVING, so readers/CDC/travel
      // see nothing (spec-pinned). DATA manifest only: the delete
      // registry bounds ITSELF — its appends run under the DML
      // lease ([[appendDeleteManifestLocked]]), which applies the
      // same minParts rule at append time.
      val minParts = spark.conf.getOption("graft.lake.manifestMergeMinParts")
        .map(_.toInt).getOrElse(512)
      if (minParts > 0) {
        val mDir = new Path(manifestPath(spark, root))
        val fsM = mDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val nParts =
          try fsM.listStatus(mDir)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          catch { case _: java.io.IOException => 0 }
        if (nParts >= minParts) {
          LogCompact.rewriteDataManifestLocked(spark, root)
          ()
        }
      }
    }
    freshPaths.length
  }

  /** Raw registered data-file paths (the manifest's `path` column) —
    * the incremental-consumer surface: [[Rollup.refresh]] diffs this
    * against its own processed set to find this round's new files.
    */
  private[sources] def registeredDataPaths(spark: SparkSession, root: String): DataFrame = {
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    activeManifest(spark, root).select(col("path"))
  }

  /** Registered files as a DataFrame filtered to a snapshot bound —
    * the pruning side of [[table]]/[[tableAsOf]].
    */
  private def registeredPaths(spark: SparkSession, manifest: Registry,
                              asOf: Option[java.sql.Timestamp]): DataFrame = {
    val m = registryDf(spark, manifest)
    // a snapshot sees the files registered by then and not yet replaced
    // by then — tombstones make time travel survive compaction/DML (the
    // replaced files are still on disk until vacuum, which is the
    // travel horizon)
    val bounded = asOf match {
      case Some(ts) => m.filter(col("registered_at") <= lit(ts) &&
        (col("removed_at").isNull || col("removed_at") > lit(ts)))
      case None => m.filter(col("removed_at").isNull)
    }
    bounded.select(normPath(col("path")).as("__registered_path"))
  }

  /** The distinct directory-key signatures (ordered `k` names of the
    * `k=v` path segments) across EVERY manifest row, tombstones
    * included — time-travel and branch reads keep serving replaced
    * files until vacuum, so a generation is part of the scan as long
    * as any registered path still lives in it. Computed distributed
    * over the manifest; the collect is one row per GENERATION (a lake
    * flips layout a handful of times in its life, not per file).
    */
  private def layoutSignatures(spark: SparkSession, root: String): Seq[Seq[String]] = {
    // a root path that itself contains `k=v` segments would contribute
    // phantom keys to every signature (and double into the glob) —
    // drop the root's own segments from each
    val rootKeys = root.split('/').count(_.contains('='))
    manifestDf(spark, root)
      .select(expr("transform(filter(split(path, '/'), s -> s like '%=%'), " +
        "s -> split_part(s, '=', 1))").as("sig"))
      .distinct().collect()
      .map(_.getSeq[String](0).drop(rootKeys).toSeq).toSeq.distinct
  }

  /** The conflict-tolerant root scan shared by [[keepOnly]] and
    * [[LakeDml]]'s DML scan: `reader(root)` with the caller's
    * `_metadata`-dependent columns applied by `materialize`, falling
    * back to the NATIVE MULTI-GENERATION scan when Spark's own
    * directory discovery rejects a LAYOUT-FLIPPED root (hourly dirs
    * beside daily dirs, or two key spellings at one depth) — no
    * exported-Iceberg-chain detour: one `reader(glob)` PER
    * directory-key generation, each glob matching exactly its `k=*`
    * segments (so discovery inside each scan sees one consistent
    * shape and yields that generation's partition columns),
    * `materialize` applied per scan (metadata columns do not survive
    * a union), unioned by name with missing columns null — a column
    * that is a partition DIR in one generation and a DATA column in
    * another (DailyLayout's `hour`) coalesces into one output column
    * by name. Everything downstream (keep-set semi-join, MOR deletes,
    * zone-map pruning) rides on top unchanged, and per-generation
    * partition pruning still reaches each scan. Once maintenance
    * rewrites the lake into one layout ([[LogCompact.compact]] keeps
    * the NEWEST generation's layout) and vacuum reclaims the old
    * generation's files, reads take the ordinary single-scan path
    * again (the fallback engages only when discovery rejects the
    * mixed tree).
    */
  private[sources] def scanRoot(spark: SparkSession, root: String,
                                reader: String => DataFrame,
                                materialize: DataFrame => DataFrame,
                                evolved: Boolean): DataFrame =
    try materialize(reader(root))
    catch {
      case e: Throwable
        if String.valueOf(e.getMessage).contains("Conflicting directory") ||
          String.valueOf(e.getMessage).contains("Conflicting partition column names") =>
        if (evolved) throw new IllegalStateException(
          s"lake root $root mixes partition-directory generations AND " +
            "carries a schema log — the native scan serves layout " +
            "generations only on never-evolved lakes; read this one " +
            "through the exported chain (IcebergExport.export + " +
            "readTable resolve each generation under its recorded spec " +
            "and schema)", e)
        val sigs = layoutSignatures(spark, root)
        sigs.sortBy(s => (s.length, s.mkString("/"))).map { keys =>
          val glob =
            if (keys.isEmpty) s"$root/*.parquet"
            else keys.map(k => s"$k=*").mkString(s"$root/", "/", "/*.parquet")
          materialize(reader(glob))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** Explicit-path read with [[scanRoot]]'s multi-generation
    * discipline: `paths` grouped by directory-key signature, each
    * group read under its own consistent shape (`reader` applies the
    * caller's schema/options to a basePath-anchored reader), the
    * caller's `_metadata`-dependent columns applied PER GROUP by
    * `materialize` (metadata columns do not survive a union), groups
    * unioned by name with missing columns null. A single-generation
    * list — the overwhelmingly common case — reads exactly as before
    * (one group, no union). The grouping is driver-side string work
    * over a list that is already driver-resident at every call site
    * (bounded by round / commit / an explicit cap).
    */
  private[graft] def readPathsGrouped(spark: SparkSession, root: String,
      paths: Seq[String],
      reader: org.apache.spark.sql.DataFrameReader =>
        org.apache.spark.sql.DataFrameReader,
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(paths.nonEmpty, "readPathsGrouped needs at least one path")
    val groups = paths.groupBy(
        _.split('/').filter(_.contains('=')).map(_.split('=')(0)).toSeq)
      .toSeq.sortBy(_._1.mkString("/")).map(_._2)
    groups.map(g => materialize(
        reader(spark.read.option("basePath", root)).parquet(g: _*)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The shared read shape: scan the lake ROOT (partition
    * discovery/pruning intact; underscore dirs skipped by the source)
    * with `paths` — a one-column `__registered_path` keep-set —
    * applied as a semi-join on the scan's file identity (broadcast
    * under [[seqBroadcastRowCap]] via [[sizedKeepSet]], which sizes it
    * by `manifest`, the caller's resolved data manifest; shuffled past
    * it), so non-kept files are invisible without any driver-side
    * path list.
    * The identity comes from the DETERMINISTIC `_metadata.file_path`
    * column — `input_file_name()` is nondeterministic, and a
    * nondeterministic projection blocks partition/predicate pushdown
    * past it, un-pruning every reader.
    */
  private def keepOnly(spark: SparkSession, root: String, manifest: Registry,
                       paths: DataFrame,
                       mergeSchema: Boolean = false,
                       deletes: Seq[DeleteEntry] = Seq.empty,
                       evoAsOf: Option[java.sql.Timestamp] = None,
                       keepSrc: Boolean = false): DataFrame = {
    // an EVOLVED lake (rename/promote schema log — [[LakeEvolve]])
    // reads under an explicit request schema (old names at widened
    // types alongside the new) and folds the alias columns into their
    // final names AFTER the delete anti-joins. The row ordinal
    // materializes before the fold because a projection ends
    // `_metadata` resolution; merge-schema semantics are subsumed (the
    // request schema IS the union). Never-evolved lakes take the
    // historical path at the cost of one fs.exists. A TIME-TRAVEL
    // read resolves the state AS OF its anchor ([[LakeEvolve.stateAt]]
    // — snapshot-schema semantics: a pre-drop anchor still surfaces
    // the column, a pre-rename anchor the old name).
    val evo = LakeEvolve.stateAt(spark, root, evoAsOf)
    // `_metadata` identities materialize per scan relation (they do
    // not survive the multi-generation union); the row ordinal only
    // when a position delete will consume it — it must never leak
    // into the output of a lake with no deletes
    val scan = scanRoot(spark, root,
      reader = p => evo match {
        case Some(st) => spark.read.option("basePath", root)
          .schema(LakeEvolve.requestSchema(spark, root, st)).parquet(p)
        case None if mergeSchema => spark.read.option("basePath", root)
          .option("mergeSchema", "true").parquet(p)
        case None =>
          // resolved scan from the signature-keyed relation cache:
          // skips the per-read footer/listing inference job AND the
          // per-read root re-listing; the resulting scan is identical
          // (the cached relation IS a prior resolution over the same
          // registered state)
          cachedRootScan(spark, root, p)
      },
      materialize = df => {
        val s = df.withColumn("__src", normPath(col("_metadata.file_path")))
        if (evo.isEmpty && deletes.exists(!_.isEq))
          s.withColumn("__pos", col("_metadata.row_index"))
        else s
      },
      evolved = evo.isDefined)
    // the keep-set holds manifest paths, the scan URI-form identities
    val keep = paths.select(registeredKey(col("__registered_path")).as("__registered_path"))
    val kept = scan
      .join(sizedKeepSet(spark, manifest, keep),
        col("__src") === col("__registered_path"), "left_semi")
    // the alias fold runs BEFORE the delete anti-joins: an equality
    // delete committed after a rename binds the NEW name, and must
    // match pre-rename files' rows through the coalesce (their values
    // live under the old physical name). The row ordinal materializes
    // first — a projection ends `_metadata` resolution. Historic eq
    // entries recorded under a retired name (time-travel reads; live
    // ones are refused at rename time) map through `currentName`.
    val projected = evo match {
      case Some(st) =>
        val withPos =
          if (deletes.exists(!_.isEq))
            kept.withColumn("__pos", col("_metadata.row_index"))
          else kept
        LakeEvolve.project(withPos, st)
      case None => kept
    }
    val applied = applyDeletes(spark, projected, root, deletes,
      currentName = evo.map(st => (n: String) => st.currentName(n))
        .getOrElse(identity[String] _))
    // keepSrc: a caller splitting one scan by per-file membership (the
    // lake_evolve single-pass read) keeps the normalized source path
    if (keepSrc) applied else applied.drop("__src")
  }

  private def filteredTable(spark: SparkSession, root: String,
                            asOf: Option[java.sql.Timestamp],
                            mergeSchema: Boolean = false): DataFrame = {
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val m = manifestRows(spark, root)
    keepOnly(spark, root, m, registeredPaths(spark, m, asOf), mergeSchema,
      deletes = deleteEntries(spark, root, asOf), evoAsOf = asOf)
  }

  /** The queryable table: exactly the registered files. */
  def table(spark: SparkSession, root: String): DataFrame =
    filteredTable(spark, root, None)

  /** [[table]] with parquet schema merging: an evolving lake (the
    * OTLP converter starts emitting a new attribute column) reads as
    * the UNION schema, old files surfacing null for the new columns —
    * Iceberg's add-column semantics over raw parquet. Off by default:
    * merging reads every file footer at planning, which at millions of
    * files is a real cost — a production deployment would cache the
    * merged schema in the manifest instead of paying it per query.
    */
  def tableMerged(spark: SparkSession, root: String): DataFrame =
    filteredTable(spark, root, None, mergeSchema = true)

  /** Time travel: the table as of a past instant — the files
    * registered by then and not tombstoned by then. Snapshot reads are
    * what the reference gets from Iceberg; the manifest's
    * registration/removal times give the same capability over raw
    * parquet, across compaction and DML rewrites, until
    * [[LogCompact.vacuum]] deletes the replaced files (= snapshot
    * expiry: the travel horizon is the vacuum retention).
    */
  def tableAsOf(spark: SparkSession, root: String, ts: java.sql.Timestamp): DataFrame =
    filteredTable(spark, root, Some(ts))

  /** INCREMENTAL READ: the rows APPENDED after `since` — Iceberg's
    * incremental-consumption semantics over the manifest. A file
    * qualifies when it was registered after `since` by an APPEND
    * commit ([[sync]]); files produced by REWRITE commits (compaction,
    * DML copy-on-write) are skipped — their rows are not new — and a
    * qualifying append file is read even if a later rewrite tombstoned
    * it (the bytes stay on disk until vacuum, exactly like time
    * travel, so the consumer-lag horizon IS the vacuum retention).
    * This is the surface an incremental ETL job polls: each round it
    * processes `tableSince(lastMark)` and advances its mark.
    *
    * The read costs ∝ arrival rate, not lake size: the held manifest
    * rows fold on the driver into the qualifying paths, and exactly
    * those files are read, under the schema [[table]]'s root scan
    * resolves ([[rootScanSchema]]), so no listing, inference or
    * keep-set job runs; a poll right after a sync is one job, none
    * without new files. The driver's fold and the schema derivation
    * (once per sync) still pass over every registered file. The root
    * scan and its keep-set semi-join ([[keepOnly]]) still serve the
    * poll when the registry is past the driver cap,
    * when the lake is evolved ([[LakeEvolve]]'s request schema and
    * alias fold), and when that schema cannot be derived from the
    * registered files.
    */
  def tableSince(spark: SparkSession, root: String, since: java.sql.Timestamp): DataFrame = {
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val m = manifestRows(spark, root)
    // MOR position deletes are deliberately NOT applied: this surface
    // reads APPEND commits only (delete commits are skipped the same
    // way rewrites are — Iceberg's incremental-append default), so a
    // consumer sees each appended row exactly once even if it is
    // later deleted
    val byPath = m match {
      case Left((schema, rows)) if since != null && schema.fieldNames.contains("op") &&
          LakeEvolve.stateAt(spark, root, None).isEmpty =>
        rootScanSchema(spark, root, schema, rows).map { case (read, visible) =>
          val (reg, op, path) = (schema.fieldIndex("registered_at"), schema.fieldIndex("op"),
            schema.fieldIndex("path"))
          val fresh = rows.iterator.filter(r => !r.isNullAt(reg) &&
              r.getTimestamp(reg).after(since) &&
              (r.isNullAt(op) || r.getString(op) == "append"))
            .map(_.getString(path)).filter(visible).toSeq
          if (fresh.isEmpty)
            spark.createDataFrame(java.util.Collections.emptyList[Row](), read)
          else readPathsGrouped(spark, root, fresh, _.schema(read))
            .select(read.fieldNames.map(n => col(s"`${n.replace("`", "``")}`")): _*)
        }
      case _ => None
    }
    byPath.getOrElse {
      val paths = registryDf(spark, m)
        .filter(col("registered_at") > lit(since) &&
          (col("op").isNull || col("op") === "append"))
        .select(normPath(col("path")).as("__registered_path"))
      keepOnly(spark, root, m, paths)
    }
  }

  // (held manifest rows, session conf, derived schema) per (session, root)
  private val rootSchemas = graft.SessionCaches.memo[String,
    (Array[Row], Map[String, String], Option[(StructType, String => Boolean)])]()

  /** The schema [[table]]'s root scan resolves, derived from the held
    * manifest `rows` without a listing, with the test deciding whether
    * a registered path is one the root scan lists at all (no name
    * below the root that Spark's listing skips,
    * [[PartitionBridge.hiddenName]]). The data columns come from the
    * footer of the registered file whose path string sorts first:
    * Spark's non-merging parquet inference reads the first data file
    * ordered by `Path.toString`, the Hadoop form the manifest keeps.
    * The partition columns come from Spark's own inference over the
    * registered files' directories. None, so the caller takes the root
    * scan, when the directories do not form one layout (a layout flip
    * or a stray key), when a partition column types as anything but a
    * string, int or long (the by-path read's cast would have to match
    * inference exactly), or with schema merging on. The registered
    * files stand for the files on disk, as they do once every append
    * is synced. Derived once per registry state and session conf, on
    * the driver: one footer read plus a pass over every registered
    * path and its directory, so this part of a poll grows with the
    * lake's file count, once per sync.
    */
  private def rootScanSchema(spark: SparkSession, root: String, schema: StructType,
                             rows: Array[Row]): Option[(StructType, String => Boolean)] = {
    val conf = spark.conf.getAll
    rootSchemas.refresh(spark, root)(e => (e._1 eq rows) && e._2 == conf) {
      val hadoop = spark.sessionState.newHadoopConf()
      val base = new Path(root).getFileSystem(hadoop).makeQualified(new Path(root))
      val prefix = normPathStr(base.toString) + "/"
      val visible = (p: String) => {
        val n = normPathStr(p)
        n.startsWith(prefix) &&
          !n.stripPrefix(prefix).split('/').exists(PartitionBridge.hiddenName)
      }
      val i = schema.fieldIndex("path")
      val paths = rows.iterator.map(_.getString(i)).filter(visible).toSeq
      val derived =
        if (paths.isEmpty || spark.sessionState.conf.isParquetSchemaMergingEnabled) None
        else for {
          data <- Footers.schema(spark, new Path(paths.min))
          parts <- scala.util.Try(PartitionBridge.partitionSchema(
            spark, base, paths.map(p => new Path(p).getParent).distinct)).toOption
          if parts.forall(f => Seq(StringType, IntegerType, LongType).contains(f.dataType))
        } yield (PartitionBridge.relationSchema(spark, data, parts), visible)
      (rows, conf, derived)
    }._3
  }

  /** The newest registration instant — the mark an incremental
    * consumer records before its next [[tableSince]] poll. Safe to
    * take DURING a concurrent sync: each round's registration lands
    * as one atomically-visible commit ([[appendManifestAtomic]]), so
    * a mark equal to a round's shared `registered_at` instant implies
    * the WHOLE round is visible — the strictly-greater [[tableSince]]
    * filter can never skip a round's remainder (race-spec-pinned in
    * ManifestCasSpec through the `graft_watermark`/`graft_changes`
    * poll loop). [[graft.streaming.LakeFollow]]'s consumed-PATH
    * offsets remain the airtight surface across the (orthogonal)
    * lost-registration self-heal, whose re-registered rows carry a
    * fresh instant and re-surface past a stored mark.
    */
  def highWaterMark(spark: SparkSession, root: String): Option[java.sql.Timestamp] =
    newestStamp(manifestRows(spark, root))

  /** UPSERT increments: the rows WRITTEN by upsert commits
    * ([[LakeDml.upsert]]/[[LakeDml.upsertMor]]/[[LakeDml.upsertEq]] —
    * replacements and novel keys alike, registered op="upsert")
    * after `since`. [[tableSince]] deliberately excludes them (a
    * replacement is not an append; Iceberg's incremental-append rule)
    * — this surface completes the CDC TRIPLE: a derived store polls
    * [[tableSince]] for appends, THIS for new row values, and
    * [[deletesSince]] for retractions, and can maintain itself by key
    * without ever rescanning the lake. Rows are read as INSERTED
    * (later deletes don't mask a changelog entry — the same
    * tombstone-tolerant rule as tableSince); mark with
    * [[highWaterMark]] (upsert registrations move the data manifest).
    */
  def upsertsSince(spark: SparkSession, root: String,
                   since: java.sql.Timestamp): DataFrame = {
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val m = manifestRows(spark, root)
    val paths = registryDf(spark, m)
      .filter(col("registered_at") > lit(since) && col("op") === "upsert")
      .select(normPath(col("path")).as("__registered_path"))
    keepOnly(spark, root, m, paths)
  }

  /** CHANGELOG READ (opt-in): the rows RETRACTED by row-level delete
    * commits registered after `since` — the surface a downstream
    * dedup/rollup/index consumer pairs with [[tableSince]] when
    * append-only increments are not enough (tableSince deliberately
    * never reports deletions; without this, a derived store keeps
    * counting rows the lake retracted).
    *
    * THE CDC RETRACTION CONTRACT (one rule across all three
    * channels): a keyed consumer maintains itself from
    * [[tableSince]] (appends), [[upsertsSince]] (replacement values —
    * replace by key) and THIS (genuine retractions — remove by key).
    * An upsert's INTERNAL old-value retraction ([[LakeDml.upsertEq]]/
    * [[LakeDml.upsertMor]] register it op="upsert" in the delete
    * registry) is NOT a genuine delete — the key still exists with a
    * new value, already surfaced on upsertsSince — so this stream
    * EXCLUDES it by default; a consumer that wants the full physical
    * retraction stream (e.g. an audit trail) passes
    * `includeUpserts = true` and can tell the kinds apart by the
    * `__delete_op` column ("delete" vs "upsert").
    * [[deletedRowsSince]] applies the same rule.
    *
    * POSITION-delete commits surface the FULL deleted rows, tagged
    * `__delete_kind = "pos"`: the recorded (file, pos) pairs join back
    * to their target files, which outlive the delete until vacuum —
    * the consumer-lag horizon is the vacuum retention, exactly
    * [[tableSince]]'s rule. EQUALITY-delete commits surface the
    * retraction KEYS (`__delete_kind = "eq"`, key columns populated,
    * every other column null) — the keyed-retraction shape CDC streams
    * carry; materializing full rows would cost the scan
    * [[LakeDml.deleteEq]] exists to avoid, and a consumer that needs
    * them can join the keys against [[tableAsOf]] at its previous
    * mark. Delete-file FOLDS ([[LakeDml.compactDeletes]], op="fold")
    * are skipped — same content, already surfaced by the original
    * commits — and a delete later materialized by compaction still
    * surfaces (the retraction happened; the registry tombstone only
    * marks the FILE retired). Mark with [[deleteHighWaterMark]].
    *
    * Cost ∝ delete commits since the mark + the data files position
    * deletes target; the target-file list crosses the driver only
    * under `graft.lake.deletesSinceExplicitPathCap` (default
    * [[LakeDml.DefaultMaxRewriteFiles]]) — past it the read falls
    * back to a root scan restricted by the delete-row semi-join
    * (full-read cost, driver-safe), so the driver never holds a
    * lake-cardinality path list whatever the window width.
    */
  def deletesSince(spark: SparkSession, root: String,
                   since: java.sql.Timestamp,
                   includeUpserts: Boolean = false): DataFrame = {
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val tableCols = table(spark, root).schema
    val empty = table(spark, root).limit(0)
      .withColumn("__delete_kind", lit("").cast(StringType))
      .withColumn("__delete_op", lit("").cast(StringType))
    if (!hasDeleteManifest(spark, root)) return empty
    val opFilter =
      if (includeUpserts) coalesce(col("op"), lit("delete")) =!= "fold"
      else coalesce(col("op"), lit("delete")) === "delete"
    val entries = deleteManifestDf(spark, root)
      .filter(col("registered_at") > lit(since) && opFilter)
      .select(col("path"), col("rows"), col("bytes"),
        coalesce(col("kind"), lit("pos")), col("eq_cols"),
        coalesce(col("op"), lit("delete"))).collect()
      .map(r => DeleteEntry(r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), 0L,
        Option(r.getString(4)).map(_.split(',').toSeq).getOrElse(Seq.empty),
        r.getString(5)))
      .toSeq
    if (entries.isEmpty) return empty
    val (eqs, poss) = entries.partition(_.isEq)
    val posRows = poss.groupBy(_.op).map { case (op, files) =>
      import spark.implicits._
      val delRows = spark.read.parquet(files.map(_.path): _*)
      // the targeted data files: usually bounded by the deletes'
      // spread, but that is an EXPECTATION, not an invariant — a wide
      // retraction window (or a consumer catching up after a long
      // lag) can target millions of files, so the path list crosses
      // the driver only under the same capped-planning discipline as
      // [[LakeDml]]'s affected-file list (the count guards BEFORE the
      // collect). Under the cap the read OPENS ONLY the target files
      // — real I/O pruning. Past it, a ROOT scan with the (file, pos)
      // semi-join below doing the restriction keeps the driver safe
      // at full-read cost; the join relation is the delete rows
      // themselves (size-guarded broadcast), never a driver list.
      val explicitCap = spark.conf
        .getOption("graft.lake.deletesSinceExplicitPathCap").map(_.toLong)
        .getOrElse(LakeDml.DefaultMaxRewriteFiles.toLong)
      val targetRel = delRows.select(col("file_path")).distinct()
      val nTargets = targetRel.count()
      // EVOLVED lakes read the targets under the explicit request
      // schema and fold alias names — position deletes may target
      // PRE-RENAME files (rename is legal with active position
      // deletes; only equality deletes block it), whose physical
      // column would otherwise fail to resolve or surface null under
      // the current name depending on which footer Spark samples.
      // __src/__pos materialize BEFORE the fold (a projection ends
      // `_metadata` resolution) — the keepOnly discipline.
      val evoSt = LakeEvolve.state(spark, root)
      def shaped(r: org.apache.spark.sql.DataFrameReader) =
        evoSt.map(st => r.schema(LakeEvolve.requestSchema(spark, root, st)))
          .getOrElse(r)
      def metad(df: DataFrame) = df
        .withColumn("__src", normPath(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      // both arms carry the multi-generation discipline: target lists
      // spanning a layout flip group per generation, and the over-cap
      // root scan re-plans through scanRoot's per-generation fallback
      val raw0 = (if (nTargets <= explicitCap) {
        // a delete row names its target by the scan's URI; the read
        // takes the Hadoop path that URI decodes to
        val targets = targetRel.as[String].collect().toSeq
          .map(t => new Path(new java.net.URI(t)).toString)
        readPathsGrouped(spark, root, targets, shaped, metad)
      } else {
        scanRoot(spark, root,
          p => shaped(spark.read.option("basePath", root)).parquet(p),
          metad, evolved = evoSt.isDefined)
      })
      val raw = evoSt.map(st => LakeEvolve.project(raw0, st)).getOrElse(raw0)
      val keyRel = delRows.select(normPath(col("file_path")).as("__del_file"),
        col("pos").cast("long").as("__del_pos"))
      val sized = if (files.map(_.bytes).sum <= BroadcastDeleteBytesCap)
        broadcast(keyRel) else keyRel
      raw.join(sized, col("__src") === col("__del_file") &&
          col("__pos") === col("__del_pos"), "left_semi")
        .select(tableCols.map(f => col(f.name)): _*)
        .withColumn("__delete_kind", lit("pos"))
        .withColumn("__delete_op", lit(op))
    }
    // a key recorded under a since-retired name (the delete file's
    // physical column) surfaces under the CURRENT name — the same
    // field, renamed after the retraction
    val evoCur = LakeEvolve.state(spark, root)
      .map(st => (n: String) => st.currentName(n)).getOrElse(identity[String] _)
    val eqRows = eqs.groupBy(e => (e.eqCols, e.op)).map {
      case ((keyCols, op), files) =>
        val physOf = keyCols.map(k => evoCur(k) -> k).toMap
        spark.read.parquet(files.map(_.path): _*)
          .select(tableCols.map { f =>
            physOf.get(f.name) match {
              case Some(phys) => col(phys).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }: _*)
          .withColumn("__delete_kind", lit("eq"))
          .withColumn("__delete_op", lit(op))
    }
    (posRows.toSeq ++ eqRows).reduce(_ unionByName _)
  }

  /** [[deletesSince]] with equality retractions MATERIALIZED to full
    * rows: each equality-delete commit's keys semi-join (null-safely)
    * the snapshot JUST BEFORE that commit registered — exactly the
    * rows the delete removed, because a later commit's snapshot
    * already has every earlier delete applied (no double-surfacing)
    * and rows re-added after a delete sit outside its snapshot.
    * Position retractions pass through from [[deletesSince]]
    * unchanged.
    *
    * PRICED opt-in: this pays ONE snapshot-bounded scan per
    * equality-delete commit in the window — the very scan
    * [[LakeDml.deleteEq]] exists to avoid — so it fits review-rate
    * retractions (a GDPR queue), not a high-rate CDC stream; stream
    * consumers should take the keys from [[deletesSince]] and join
    * their own store.
    *
    * Same retraction contract as [[deletesSince]]: upsert-born
    * retractions (op="upsert") are excluded by default — pass
    * `includeUpserts = true` to materialize the OLD rows an upsert
    * replaced (tagged `__delete_op = "upsert"`).
    */
  def deletedRowsSince(spark: SparkSession, root: String,
                       since: java.sql.Timestamp,
                       includeUpserts: Boolean = false): DataFrame = {
    val posRows = deletesSince(spark, root, since, includeUpserts)
      .filter(col("__delete_kind") === "pos")
    if (!hasDeleteManifest(spark, root)) return posRows
    val opFilter =
      if (includeUpserts) coalesce(col("op"), lit("delete")) =!= "fold"
      else coalesce(col("op"), lit("delete")) === "delete"
    val eqCommits = deleteManifestDf(spark, root)
      .filter(col("registered_at") > lit(since) && opFilter &&
        coalesce(col("kind"), lit("pos")) === "eq")
      .select(col("path"), col("registered_at"), col("eq_cols"), col("bytes"),
        coalesce(col("seq"), lit(0L)), coalesce(col("op"), lit("delete")))
      .collect()
      .groupBy(r => (r.getTimestamp(1), r.getString(2), r.getLong(4),
        r.getString(5))).toSeq
      .sortBy(_._1._1.getTime)
    val eqRows = eqCommits.map { case ((ts, eqColsStr, delSeq, op), rows) =>
      val keyCols = eqColsStr.split(',').toSeq
      val keys = spark.read.parquet(rows.map(_.getString(0)): _*)
        .select(keyCols.map(c => col(c).as(s"__k_$c")): _*)
      val sizedKeys =
        if (rows.map(_.getLong(3)).sum <= BroadcastDeleteBytesCap) broadcast(keys)
        else keys
      // the pre-delete snapshot, SEQUENCE-bounded: files with
      // seq >= the delete's are exactly what the strictly-below rule
      // exempts (an upsertEq's same-commit inserts share the delete's
      // sequence even when they register a tick earlier), so the seq
      // bound alone excludes them; the time bound uses the delete's
      // own registration instant (`<= ts`, not ts-1 — a data commit
      // sequenced before the delete but registered in the same
      // millisecond must stay in the snapshot, its rows may be
      // exactly what the delete retracted). Earlier deletes apply to
      // the snapshot by the same seq rule (strictly below this one),
      // never this delete itself.
      val m = manifestRows(spark, root)
      val keepPaths = registryDf(spark, m)
        .filter(col("registered_at") <= lit(ts) &&
          (col("removed_at").isNull || col("removed_at") > lit(ts)) &&
          coalesce(col("seq"), lit(0L)) < lit(delSeq))
        .select(normPath(col("path")).as("__registered_path"))
      val snapshot = keepOnly(spark, root, m, keepPaths,
        deletes = deleteEntries(spark, root, Some(ts)).filter(_.seq < delSeq))
      // a key recorded under a retired name matches the snapshot's
      // CURRENT column (the snapshot reads under the evolved schema)
      val snapCur = LakeEvolve.state(spark, root)
        .map(st => (n: String) => st.currentName(n)).getOrElse(identity[String] _)
      val cond = keyCols.map(c => col(snapCur(c)) <=> col(s"__k_$c")).reduce(_ && _)
      snapshot.join(sizedKeys, cond, "left_semi")
        .withColumn("__delete_kind", lit("eq"))
        .withColumn("__delete_op", lit(op))
    }
    (posRows +: eqRows).reduce(_ unionByName _)
  }

  /** The newest delete-registry registration instant — the mark a
    * [[deletesSince]] consumer records before its next poll (the data
    * manifest's [[highWaterMark]] does not move on delete commits).
    * Exact under concurrent DML, like the data mark: every registry
    * commit lands as one atomically-visible part stamped strictly
    * above this mark ([[appendDeleteManifestLocked]]).
    */
  def deleteHighWaterMark(spark: SparkSession, root: String): Option[java.sql.Timestamp] =
    newestStamp(deleteManifestRows(spark, root))

  /** Registered rows with `timestamp` in `[fromIso, untilIso)`
    * (ISO dates, UTC), with FILE-LEVEL pruning from the manifest's
    * zone-map stats: files whose [min_ts, max_ts] cannot intersect the
    * window never join the semi-join pruning set. This is data
    * skipping beyond directory partitioning — it works on
    * unpartitioned lakes and inside partitions (Iceberg manifest
    * min/max semantics); stat-less files (null min_ts) are kept, so
    * pruning is always sound. The row-level filter still applies on
    * top for files that straddle the boundary.
    */
  private def isoTs(iso: String): Column = {
    // parse driver-side as a UTC INSTANT — a string cast(TimestampType)
    // binds the literal to the session zone, silently shifting the
    // documented UTC window boundaries on any non-UTC session
    val inst = java.time.LocalDate.parse(iso)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    lit(java.sql.Timestamp.from(inst))
  }

  /** Zone-map keep predicate, shared by the actual read path and the
    * pruning observable so the spec can never certify a predicate the
    * scan doesn't use: a file survives when its [min_ts, max_ts] may
    * intersect [from, until), and stat-less files always survive.
    */
  private def zoneMapKeep(from: Column, until: Column): Column =
    col("min_ts").isNull || (col("max_ts") >= from && col("min_ts") < until)

  def tableBetween(spark: SparkSession, root: String,
                   fromIso: String, untilIso: String): DataFrame = {
    val (from, until) = (isoTs(fromIso), isoTs(untilIso))
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val m = manifestRows(spark, root)
    val paths = registryDf(spark, m).filter(col("removed_at").isNull)
      .filter(zoneMapKeep(from, until))
      .select(normPath(col("path")).as("__registered_path"))
    // the row filter binds the time axis's CURRENT name (the zone map
    // is the field's; a rename moved only the name)
    val ts = col(LakeEvolve.timeAxis(spark, root))
    keepOnly(spark, root, m, paths, deletes = deleteEntries(spark, root))
      .filter(ts >= from && ts < until)
  }

  /** How many registered files [[tableBetween]] would scan vs. the
    * total registered — the observable for zone-map pruning
    * assertions and for capacity planning.
    */
  def statsPruneCounts(spark: SparkSession, root: String,
                       fromIso: String, untilIso: String): (Long, Long) = {
    val m = activeManifest(spark, root)
    val kept = m.filter(zoneMapKeep(isoTs(fromIso), isoTs(untilIso))).count()
    (kept, m.count())
  }

  /** Service-equality keep predicate over the service zone map: a file
    * whose [min_svc, max_svc] range cannot contain `service` never
    * reaches the scan. On a (service, timestamp)-clustered lake
    * ([[LogCompact.compact]] `clusterBy`) each file covers ~one
    * service, so this prunes like a partition directory would — without
    * the directory.
    */
  private def svcKeep(service: Column): Column =
    col("min_svc").isNull || (service >= col("min_svc") && service <= col("max_svc"))

  /** Registered rows for ONE service in a time window, file-pruned by
    * BOTH manifest zone maps (service min/max AND timestamp min/max)
    * before the scan semi-join — the two-dimensional data-skipping
    * read. Row-level filters still apply on top (files can straddle
    * either boundary), so pruning is sound by construction: it only
    * ever removes files the row filter would empty anyway.
    */
  def tableFor(spark: SparkSession, root: String, service: String,
               fromIso: String, untilIso: String): DataFrame = {
    val (from, until) = (isoTs(fromIso), isoTs(untilIso))
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    val m = manifestRows(spark, root)
    val paths = registryDf(spark, m).filter(col("removed_at").isNull)
      .filter(zoneMapKeep(from, until) && svcKeep(lit(service)))
      .select(normPath(col("path")).as("__registered_path"))
    // both row filters bind their axis's CURRENT name (one state
    // resolution for the pair)
    val evoSt = LakeEvolve.state(spark, root)
    val ts = col(LakeEvolve.timeAxisOf(evoSt))
    val svc = col(LakeEvolve.svcAxisOf(evoSt))
    keepOnly(spark, root, m, paths, deletes = deleteEntries(spark, root))
      .filter(svc === service && ts >= from && ts < until)
  }

  /** (kept, total) registered files [[tableFor]] would scan — the
    * two-dimensional pruning observable.
    */
  def forPruneCounts(spark: SparkSession, root: String, service: String,
                     fromIso: String, untilIso: String): (Long, Long) = {
    val m = activeManifest(spark, root)
    val kept = m.filter(zoneMapKeep(isoTs(fromIso), isoTs(untilIso)) &&
      svcKeep(lit(service))).count()
    (kept, m.count())
  }

  /** Create (or overwrite) a named BRANCH: a ZERO-COPY pin of the
    * current manifest under `_branch_<name>` — no data file is copied
    * or moved, the branch is just a second keep-set over the same
    * bytes (Iceberg's branch/tag story). Writers to main (sync,
    * compaction, DML) never touch the branch, so it stays a
    * consistent snapshot for experiments and reproducibility pins;
    * like time travel, a branch reads tombstoned files until vacuum
    * (the branch-retention horizon IS the vacuum retention).
    */
  /** Branch names build filesystem paths and dropBranch deletes
    * recursively — a separator or `..` segment would escape the
    * `_branch_*` namespace, so EVERY branch entry point validates.
    */
  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"), s"bad branch name '$name'")

  def branch(spark: SparkSession, root: String, name: String): Unit = {
    requireBranchName(name)
    require(hasManifest(spark, root), s"no manifest under $root — run sync first")
    // BOTH pins under the DML lease: the data manifest and the delete
    // registry are pinned as one snapshot. Unleased, a compaction
    // committing between the two reads could tombstone a delete file
    // whose TARGET the data pin still lists active — the branch would
    // then read those rows with the delete dropped (resurrection).
    // Registry mutations all serialize under this lease, so with it
    // held the registry cannot move between the pins; a data-manifest
    // swap landing before the first read just pins the newer snapshot
    // consistently.
    withDmlLease(spark, root) {
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = new Path(s"$root/_branch_swap_$name")
      fs.delete(staging, true)
      manifestDf(spark, root).write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val target = new Path(s"$root/_branch_$name")
      fs.delete(target, true)
      require(fs.rename(staging, target), s"branch rename failed for '$name'")
      // pin the MOR delete state too: a branch must keep answering the
      // rows it answered at creation, so deletes registered LATER must
      // not leak into it (and its pinned delete files must survive
      // vacuum — see branchProtectedPaths)
      if (hasDeleteManifest(spark, root)) {
        val dstaging = new Path(s"$root/_branch_del_swap_$name")
        fs.delete(dstaging, true)
        deleteManifestDf(spark, root).write.mode(SaveMode.Overwrite)
          .parquet(dstaging.toString)
        val dtarget = new Path(s"$root/_branch_del_$name")
        fs.delete(dtarget, true)
        require(fs.rename(dstaging, dtarget),
          s"branch delete-manifest rename failed for '$name'")
      }
    }
  }

  /** Read a branch: the table exactly as pinned by [[branch]] —
    * same root scan + broadcast semi-join as [[table]], keep-set from
    * the branch manifest instead of the live one.
    */
  def tableBranch(spark: SparkSession, root: String, name: String): DataFrame = {
    requireBranchName(name)
    val p = new Path(s"$root/_branch_$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no branch '$name' under $root")
    val paths = spark.read.parquet(p.toString)
      .filter(col("removed_at").isNull)
      .select(normPath(col("path")).as("__registered_path"))
    // the branch's PINNED delete snapshot, not the live registry:
    // deletes committed after the branch must not rewrite its history.
    // Same driver-bytes bound as the live read ([[deleteEntryCap]]):
    // a branch pinned over an oversized registry must refuse loudly,
    // not OOM the driver
    val dp = new Path(s"$root/_branch_del_$name")
    val cap = deleteEntryCap(spark)
    val deletes =
      if (!fs.exists(dp)) Seq.empty
      else {
        val raw = spark.read.option("mergeSchema", "true").parquet(dp.toString)
        val filled = deleteManifestSchema.fields.drop(5).foldLeft(raw) { (df, f) =>
          if (df.columns.contains(f.name)) df
          else df.withColumn(f.name, lit(null).cast(f.dataType))
        }
        val projected = filled.filter(col("removed_at").isNull)
          .select(col("path"), col("rows"), col("bytes"),
            coalesce(col("kind"), lit("pos")), coalesce(col("seq"), lit(0L)),
            col("eq_cols"))
        val rows =
          if (cap <= 0) projected.collect()
          else {
            val probe = projected
              .limit(math.min(cap, Int.MaxValue - 2L).toInt + 1).collect()
            if (probe.length > cap) sys.error(
              s"branch '$name' under $root pins more than $cap active delete " +
                "files (graft.lake.deleteEntryCap) — re-pin the branch after " +
                "folding the registry (COMPACT/CONVERT/VACUUM DELETES), or " +
                "raise the cap")
            probe
          }
        rows
          .map(r => DeleteEntry(r.getString(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getLong(4),
            Option(r.getString(5)).map(_.split(',').toSeq).getOrElse(Seq.empty)))
          .toSeq
      }
    keepOnly(spark, root, manifestRows(spark, root), paths, deletes = deletes)
  }

  /** Delete a branch — releases its pin; the files it alone was
    * protecting become reclaimable by the next vacuum. Validates the
    * name like every branch entry point: this is a RECURSIVE delete,
    * and a path-segment name would escape the `_branch_*` namespace.
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    requireBranchName(name)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$root/_branch_$name"), true)
    fs.delete(new Path(s"$root/_branch_del_$name"), true)
  }

  /** Data paths active in ANY branch — the set [[LogCompact.vacuum]]
    * must never delete, whatever the main manifest says about them
    * (Iceberg's branch-retention rule). Branch manifests are
    * metadata-sized; reading all of them is control-plane cost.
    */
  private[sources] def branchProtectedPaths(spark: SparkSession, root: String): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(new Path(root))) Seq.empty
      else fs.listStatus(new Path(root)).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("_branch_") &&
          !p.getName.startsWith("_branch_swap_") &&
          !p.getName.startsWith("_branch_del_swap_"))
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("path", StringType, nullable = false))))
    else dirs.map(d => spark.read.parquet(d.toString)
        .filter(col("removed_at").isNull).select(col("path")))
      .reduce(_ union _).distinct()
  }

  /** The reference daemon's loop (scripts/sync-logs.sh: `while true;
    * do sync; sleep $SYNC_INTERVAL; done`): run [[sync]] every
    * `intervalMillis` until `rounds` rounds have run (rounds < 0 ⇒
    * forever). Returns the per-round registration counts. Each round is
    * one idempotent [[sync]]; a crash between rounds loses nothing —
    * the next round re-diffs against the manifest.
    */
  def runContinuously(spark: SparkSession, root: String, intervalMillis: Long,
                      rounds: Int = -1): Seq[Int] = {
    val counts = Seq.newBuilder[Int]
    var i = 0
    while (rounds < 0 || i < rounds) {
      counts += sync(spark, root)
      i += 1
      if (rounds < 0 || i < rounds) Thread.sleep(intervalMillis)
    }
    counts.result()
  }
}
