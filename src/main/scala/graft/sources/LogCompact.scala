package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake maintenance: small-file compaction and orphan cleanup — the
  * OPTIMIZE/VACUUM pair every parquet lakehouse needs once a streaming
  * ingester has been appending tiny files (the reference's converter
  * writes a file per 10-second batch; a day of that is 8 640 files per
  * service).
  *
  * Compaction rewrites the REGISTERED table into consolidated files
  * (one write job, partition layout preserved) and swaps the manifest
  * to exactly the new file set, so readers flip from many-small to
  * few-large atomically-per-read (readers resolve the manifest at
  * query time; the swap itself is a write-then-rename, the same
  * caveat as the reference's sync state file). The replaced files stay
  * on disk — invisible to readers — until [[vacuum]] deletes them,
  * giving in-flight queries that already resolved the old manifest
  * time to finish (Iceberg's expire-snapshots model).
  *
  * Note: the swap collapses registration history, so
  * [[LogSync.tableAsOf]] time travel restarts at the compaction point
  * — exactly like snapshot expiry.
  */
object LogCompact {

  /** Grace period before [[vacuum]] may delete an unregistered file.
    * Written-but-not-yet-synced files are a NORMAL state of this lake
    * (LogWriter append → LogSync registration is a window, and
    * LakeIngest crosses it every micro-batch), so "not in the
    * manifest" alone cannot mean garbage — only "not in the manifest
    * AND old" can (Iceberg's remove_orphan_files `older_than`).
    */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  case class CompactStats(filesBefore: Long, filesAfter: Long)

  /** Partition columns of the lake at `root`, inferred from the actual
    * directory structure of a registered data file (`k=v` path
    * segments, in order). Column PRESENCE is not layout: a DailyLayout
    * lake deliberately keeps `hour` as a data column, and compacting it
    * into hourly dirs would re-create the small-files problem the
    * layout was chosen to avoid.
    */
  def inferLayout(spark: SparkSession, root: String): Seq[String] = {
    // newest registration wins: after a deliberate re-layout, a
    // manifest can transiently mix layouts, and an arbitrary limit(1)
    // would flap between them across compactions
    val sample = LogSync.activeManifest(spark, root)
      .orderBy(col("registered_at").desc)
      .select("path").limit(1).collect()
    require(sample.nonEmpty, s"empty manifest under $root — nothing to compact")
    val rootUri = new Path(root).toUri.getPath.stripSuffix("/")
    val rel = new Path(sample(0).getString(0)).toUri.getPath
      .stripPrefix(rootUri).stripPrefix("/")
    rel.split('/').init.toSeq.filter(_.contains('=')).map(_.split('=')(0))
  }

  /** Rewrite the registered table into ≤ one file per partition dir
    * (plus `maxRecordsPerFile` splits) and point the manifest at the
    * new files only. The on-disk partition layout is preserved
    * ([[inferLayout]]); pass `layout` to re-partition deliberately.
    *
    * `clusterBy` chooses the WITHIN-LAYOUT clustering order (default:
    * `timestamp`). On an unpartitioned lake, range-partitioning on
    * e.g. `(service_name, timestamp)` gives the output files disjoint
    * lexicographic (service, time) slices, so BOTH manifest zone maps
    * ([[LogSync.tableFor]]) become selective — the Iceberg sorted/
    * clustered rewrite. Hierarchical sort, not bit-interleaved
    * Z-order, is the right clustering for this workload: log queries
    * are service-EQUALITY × time-RANGE, which lexicographic order
    * serves optimally (each file covers one service's contiguous time
    * slice; a time-only query still prunes to the window fraction
    * within every service run). Z-order wins only when independent
    * RANGE predicates on several columns must all prune, which is not
    * the log-analytics shape.
    */
  def compact(spark: SparkSession, root: String,
              maxRecordsPerFile: Long = LogWriter.DefaultMaxRecordsPerFile,
              layout: Option[Seq[String]] = None,
              clusterBy: Option[Seq[String]] = None): CompactStats =
    compactImpl(spark, root, maxRecordsPerFile, layout, clusterBy, () => ())

  /** [[compact]] with an interleave seam invoked between planning
    * capture and the rewrite — the spec's handle for proving the
    * reserved-sequence tie protection under a mid-compaction
    * row-level commit (production callers use [[compact]]; a real
    * interleaving hits the same window nondeterministically).
    */
  private[graft] def compactImpl(spark: SparkSession, root: String,
                                 maxRecordsPerFile: Long,
                                 layout: Option[Seq[String]],
                                 clusterBy: Option[Seq[String]],
                                 interleaveForTest: () => Unit): CompactStats = {
    require(LogSync.hasManifest(spark, root), s"no manifest under $root — run sync first")

    // the CAS base for both swaps below: the versions this rewrite
    // plans against
    val baseVersion = LogSync.manifestVersion(spark, root)
    val before = LogSync.manifestSnapshot(spark, root)
    val filesBefore = before.filter(col("removed_at").isNull).count()

    // capture the delete-file set AND the commit sequence NOW — the
    // deletes are exactly what the scan below materializes, so the
    // post-rewrite tombstone pass retires EXACTLY these, never a
    // delete committed between scan planning and the swap. What the
    // capture does and does NOT buy under a rule violation (the lake
    // is SINGLE-WRITER; this is the crash-interleaving story, not a
    // concurrency license): a position delete committed mid-compaction
    // is inert on the rewritten files by path but remains visible to
    // time travel, to vacuumDeletes, and to an operator who can
    // re-issue it, rather than vanishing as if materialized. An
    // EQUALITY delete committed mid-compaction is protected by the
    // planning-sequence RESERVATION below: without it, the delete's
    // nextSeq would compute before the compaction registers its
    // output and land at exactly planningSeq — TYING the restated
    // files' sequence, which the strictly-below rule makes inert on
    // the restated rows (resurrection). The reservation file makes
    // every commit planned during the rewrite land STRICTLY ABOVE
    // planningSeq, so an interleaved equality delete keeps applying
    // to the restated rows; it is released only after the swap (a
    // crash leaves sequences skipping ahead, never tying). The
    // manifest-swap CAS ([[LogSync.swapManifest]] expectedVersion)
    // separately catches interleaved DATA writers.
    // leased allocation: plain nextSeq-then-reserve had a window where
    // a concurrent DML commit computes the same value before the
    // reservation file lands
    // UNCAPPED: compaction MATERIALIZES deletes and is the terminal
    // fix path for an over-cap delete registry
    val materializedDeletes = LogSync.deleteEntries(spark, root, capped = false)
    val (planningSeq, reservation) = LogSync.allocateSeq(spark, root)
    try {

    // one job: read old registered files, write consolidated ones. The
    // scan's file list is snapshotted at planning, so the appended
    // output files are not re-read. LAYOUT-RENAMED columns rewrite
    // under their physical directory keys (the rename is a read-side
    // alias; the tree never changes shape), so the partition-column
    // matching below sees the dir-key names.
    val t = LakeEvolve.toPhysicalLayout(LogSync.table(spark, root),
      LakeEvolve.state(spark, root))
    // the adversarial window: the scan above resolved its delete set
    // eagerly, so a commit injected HERE is invisible to the rewrite
    // — exactly the interleaving the reservation protects
    interleaveForTest()
    val current = inferLayout(spark, root)
    val partCols = layout.getOrElse(current).filter(t.columns.contains)
    // DIRECTORY-layout evolution is structurally impossible on a
    // path-discovered lake: the replaced files keep their old k=v
    // depth until vacuum, and Spark's partition discovery rejects a
    // root mixing directory depths (CONFLICTING_PARTITION_COLUMN_NAMES)
    // — the table would be unreadable until vacuum. Evolve by
    // CLUSTERING instead: `clusterBy` + the manifest zone maps give
    // partition-grade pruning with no directories to conflict
    // ([[LogSync.tableFor]]), which is how this lake re-organizes for
    // changed query patterns.
    require(partCols == current,
      s"cannot change the directory layout in place ($current -> $partCols): " +
        "replaced files keep the old depth until vacuum and partition discovery " +
        "would reject the mix; re-organize with clusterBy (zone-map clustering) instead")
    // the default cluster key is the TIME AXIS's current name (a
    // renamed `timestamp` still clusters — the zone map binds the
    // field, not the spelling)
    val tsAxis = LakeEvolve.timeAxis(spark, root)
    val clusterCols = clusterBy
      .getOrElse(if (t.columns.contains(tsAxis)) Seq(tsAxis) else Seq.empty)
      .filter(t.columns.contains)
    // cluster while rewriting: range partitioning gives the output
    // files DISJOINT clusterCols ranges (and the in-partition sort
    // keeps maxRecordsPerFile splits disjoint too), so the manifest
    // zone-maps written below prune a window/service query to ~the
    // files that actually overlap it — compaction doubles as the
    // data-clustering pass (Iceberg's sorted rewrite)
    val consolidated =
      if (partCols.nonEmpty) {
        val re = t.repartition(partCols.map(col): _*)
        if (clusterCols.nonEmpty)
          re.sortWithinPartitions((partCols ++ clusterCols).map(col): _*)
        else re
      } else {
        // unpartitioned lake: size the output file count to
        // maxRecordsPerFile instead of partition dirs
        val target = math.max(1L, (t.count() + maxRecordsPerFile - 1) / maxRecordsPerFile)
        if (clusterCols.nonEmpty)
          t.repartitionByRange(target.toInt, clusterCols.map(col): _*)
            .sortWithinPartitions(clusterCols.map(col): _*)
        else t.repartition(target.toInt)
      }
    LogWriter.lakeWriter(consolidated)
      .mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(root)

    // new files = everything on disk that the OLD manifest does not
    // know about (i.e. exactly the files the rewrite just created),
    // re-statted so zone-map pruning survives compaction. The replaced
    // files are TOMBSTONED, not forgotten: they stay on disk until
    // vacuum, and a manifest that forgot them would let the next sync
    // round re-register them — every pre-compaction row resurrected.
    // Tombstones also keep time travel to pre-compaction snapshots
    // working until vacuum.
    import spark.implicits._
    val listed = listParquet(spark, root).map(_._1).toDF("path")
    val freshPaths = listed.join(before.select("path"), Seq("path"), "left_anti")
      .as[String].collect()
    // monotone stamp above the planning manifest's high-water mark —
    // the shared rule of every data-manifest commit (sync, DML): a
    // rewrite's instant never ties an earlier commit's, so the data
    // high-water mark stays a strict total order over commits
    val rewriteStamp = new java.sql.Timestamp(math.max(math.max(
      System.currentTimeMillis(),
      // durable stamp mark (LogSync.tsHwmPath): stale-listing-immune,
      // like every other data-manifest stamp allocator
      LogSync.stampFloor(spark, LogSync.tsHwmPath(root)) + 1),
      Option(before.agg(max(col("registered_at"))).head().getTimestamp(0))
        .map(_.getTime + 1).getOrElse(0L)))
    val fresh = LogSync.manifestFrame(spark, LogSync.freshManifestRows(spark, root,
      freshPaths.toSeq, op = "rewrite", seq = Some(planningSeq),
      registeredAt = Some(rewriteStamp)))
    val filesAfter = freshPaths.length.toLong

    val manifestCols = fresh.columns.toSeq
    val next = before
      .withColumn("removed_at",
        when(col("removed_at").isNull, current_timestamp()).otherwise(col("removed_at")))
      .select(manifestCols.map(col): _*)
      .union(fresh)
    // versioned swap: new readers resolve the new manifest atomically;
    // plans already holding the old version (cached Datasets, running
    // queries) keep reading it — a consistent pre-compaction snapshot —
    // until vacuum ages it out. CAS against the planning version: an
    // interleaved rewrite raises rather than losing a commit
    LogSync.swapManifest(spark, root, next, Some(baseVersion))
    // stamp mark recorded AFTER the swap made the rewrite visible
    LogSync.recordStampHwm(spark, LogSync.tsHwmPath(root), rewriteStamp.getTime)
    // compaction read the table MOR-applied, so every delete CAPTURED
    // AT PLANNING (position and equality) is now MATERIALIZED in the
    // fresh files; tombstone exactly those registry rows (after the
    // data swap — a crash between leaves the delete rows pointing at
    // tombstoned files, i.e. inert) so readers stop paying the
    // anti-joins and vacuum can reclaim the files. A delete committed
    // AFTER the capture is not touched — see the planning-capture
    // note above. Historic (pre-compaction) reads still apply the
    // tombstoned ones: the tombstone carries removed_at, the same
    // time-travel rule as data files.
    if (materializedDeletes.nonEmpty)
      LogSync.tombstoneDeleteEntries(spark, root, materializedDeletes.map(_.path))
    before.unpersist()
    CompactStats(filesBefore, filesAfter)
    // release even on failure: nothing registered at planningSeq on
    // an abort, and any commit made while reserved already recorded a
    // strictly-higher sequence in its registry — reuse stays safe
    } finally LogSync.releaseSeq(spark, reservation)
  }

  case class ManifestRewriteStats(dataPartsBefore: Int, dataPartsAfter: Int,
                                  deletePartsBefore: Int, deletePartsAfter: Int)

  /** Consolidate the REGISTRIES' accumulated append part-files —
    * Iceberg's `rewrite_manifests`, for the control plane instead of
    * the data. Every [[LogSync.sync]] round and every DML commit
    * APPENDS part-files to the current manifest dir (and MOR commits
    * to the delete registry); compaction and vacuum swap whole new
    * versions but only when they RUN — an append-only telemetry lake
    * (the reference's converter lands a batch every ~10 s: ~8 640
    * sync rounds/day) never rewrites, so after a month every read
    * lists and footer-opens ~10⁵ tiny parquet parts at PLANNING time,
    * pure driver latency the data scan never sees. This rewrites each
    * registry into ceil(bytes / `targetBytes`) files, ROW-PRESERVING
    * — active and tombstoned rows alike, so time travel, branches,
    * and historic delete application are untouched; only the file
    * count changes.
    *
    * Commit discipline: each registry swaps via its versioned CAS
    * ([[LogSync.swapManifest]]/[[LogSync.swapDeleteManifest]] — a
    * concurrent rewrite loses loudly), and the whole pass holds the
    * SYNC LEASE: sync APPENDS to the current version dir without
    * bumping the version, so the CAS alone cannot see an interleaved
    * sync round — without the lease its freshly appended rows would
    * vanish from the swapped copy (a lost registration). Other
    * row-level writers stay excluded by the lake's single-writer
    * rule, same as [[compact]]/[[vacuum]].
    *
    * Superseded registry versions age out through [[vacuum]]'s
    * stale-dir sweep like any other swap's.
    */
  def rewriteManifests(spark: SparkSession, root: String,
                       targetBytes: Long = 64L << 20): ManifestRewriteStats = {
    require(LogSync.hasManifest(spark, root), s"no manifest under $root — run sync first")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: String): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(new Path(dir))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    LogSync.withSyncLease(spark, root) {
      val (dBefore, dAfter) = rewriteDataManifestLocked(spark, root, targetBytes)
      // the DELETE-registry leg holds the DML lease: MOR DML appends
      // run under it (appendDeleteManifestLocked), so the read-count-
      // swap here cannot lose a registration appended mid-rewrite —
      // the registry also self-bounds at append time past
      // graft.lake.deleteManifestMergeMinParts; this explicit op
      // remains the byte-targeted consolidation
      val (delBefore, delAfter) =
        if (!LogSync.hasDeleteManifest(spark, root)) (0, 0)
        else LogSync.withDmlLease(spark, root) {
          val before = parts(LogSync.deleteManifestPath(spark, root))
          val target = math.max(1L,
            (before.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
          if (before.length <= target) (before.length, before.length)
          else {
            LogSync.swapDeleteManifest(spark, root,
              LogSync.deleteManifestDf(spark, root).coalesce(target),
              Some(LogSync.deleteManifestVersion(spark, root)))
            (before.length,
              parts(LogSync.deleteManifestPath(spark, root)).length)
          }
        }
      ManifestRewriteStats(dBefore, dAfter, delBefore, delAfter)
    }
  }

  /** The DATA-manifest leg of [[rewriteManifests]], callable while the
    * sync lease is ALREADY HELD — [[LogSync.sync]]'s auto-merge hook
    * (the lease is not re-entrant, and sync appends under it, so the
    * swap cannot race another sync round). Returns (partsBefore,
    * partsAfter).
    */
  private[sources] def rewriteDataManifestLocked(spark: SparkSession, root: String,
                                                 targetBytes: Long = 64L << 20): (Int, Int) = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: String): Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(new Path(dir))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parts(LogSync.manifestPath(spark, root))
    val target = math.max(1L,
      (before.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
    if (before.length <= target) (before.length, before.length)
    else {
      LogSync.swapManifest(spark, root,
        LogSync.manifestDf(spark, root).coalesce(target),
        Some(LogSync.manifestVersion(spark, root)))
      (before.length, parts(LogSync.manifestPath(spark, root)).length)
    }
  }

  /** Delete two classes of garbage, each after its own `graceMs`
    * window, and return the number of files removed:
    *
    *  1. TOMBSTONED files — replaced by compaction or DML
    *     ([[LogSync]] `removed_at`), aged by their removal time (grace
    *     = time for in-flight readers that resolved the old manifest,
    *     and the time-travel horizon). Their manifest rows are purged
    *     in the same pass (snapshot expiry).
    *  2. NEVER-REGISTERED files older than `graceMs` by modification
    *     time — crash leftovers. The age threshold is what makes this
    *     safe against concurrent ingest: written-but-not-yet-synced
    *     files are unregistered too, and only age distinguishes them.
    *
    * Files pinned by a live BRANCH ([[LogSync.branch]]) are exempt
    * from both classes and keep their tombstone rows — the
    * branch-retention rule; [[LogSync.dropBranch]] releases the pin.
    *
    * The orphan set is computed distributed (anti-join); only the
    * paths to DELETE cross the driver — the `mc rm` control-plane
    * analog.
    */
  def vacuum(spark: SparkSession, root: String,
             graceMs: Long = DefaultVacuumGraceMs): Int = {
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(LogSync.hasManifest(spark, root), s"no manifest under $root — run sync first")
    val cutoffMs = System.currentTimeMillis() - graceMs
    val cutoffTs = new java.sql.Timestamp(cutoffMs)
    val baseVersion = LogSync.manifestVersion(spark, root)
    val m = LogSync.manifestSnapshot(spark, root)
    // files pinned by any branch are NEVER reclaimed (and their
    // tombstones never purged) while the branch lives — the
    // branch-retention rule; dropBranch releases the pin
    val pinned = LogSync.branchProtectedPaths(spark, root)
      .withColumn("__pin", lit(true))
    val marked = m.join(pinned, Seq("path"), "left").cache()

    val dead = marked
      .filter(col("removed_at") <= lit(cutoffTs) && col("__pin").isNull)
      .select("path").as[String].collect()
    val neverRegistered = listParquet(spark, root)
      .filter(_._2 <= cutoffMs).map(_._1).toDF("path")
      .join(m.select("path"), Seq("path"), "left_anti")
      .join(pinned.select("path"), Seq("path"), "left_anti")
      .as[String].collect()

    (dead ++ neverRegistered).foreach(p => fs.delete(new Path(p), false))
    if (dead.nonEmpty) {
      // purge the tombstones whose files are gone — a versioned
      // manifest swap, same commit point as compaction
      val next = marked
        .filter(col("removed_at").isNull || col("removed_at") > lit(cutoffTs) ||
          col("__pin").isNotNull)
        .drop("__pin")
      LogSync.swapManifest(spark, root, next, Some(baseVersion))
    }
    marked.unpersist()
    // superseded manifest versions: only in-flight readers of older
    // snapshots need them; age them out like replaced data files
    val staleDirs = LogSync.staleManifestDirs(spark, root).filter { d =>
      fs.listStatus(d).forall(_.getModificationTime <= cutoffMs)
    }
    staleDirs.foreach(d => fs.delete(d, true))

    // crashed DML commits: (a) staging dirs (`_dml_stage_*`) that
    // never reached the move phase — underscore trees, so no other
    // sweep sees them; (b) `_dml_pending` journals, deletable once
    // every listed destination is either gone from disk (this call's
    // never-registered sweep reclaims them after the grace) or
    // REGISTERED (the crash fell between manifest swap and journal
    // cleanup) — a journal naming a still-unregistered on-disk file
    // must survive, or the next sync would register the restated rows
    // as a fresh append
    fs.listStatus(new Path(root)).iterator
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("_dml_stage_") ||
          s.getPath.getName.startsWith("_dreg_append_")) &&
        s.getModificationTime <= cutoffMs)
      .foreach(s => fs.delete(s.getPath, true))
    // crashed rewrites' sequence reservations: a stale file only makes
    // later sequences skip ahead (monotonicity keeps holding), but it
    // ages out under the same grace rule as every other crash leftover
    val resDir = new Path(LogSync.reservedSeqDir(root))
    if (fs.exists(resDir)) {
      fs.listStatus(resDir).iterator
        .filter(_.getModificationTime <= cutoffMs)
        .foreach { s => fs.delete(s.getPath, false); () }
    }
    // COMMITTED-claim residue: a writer that crashed BETWEEN its
    // commit rename and its claim release leaves a claim file whose
    // TARGET VERSION exists — dead weight that no later writer's
    // janitor touches (those reclaim only target-ABSENT claims, the
    // loud-loser gate, which this sweep deliberately leaves alone).
    // Aged like every other crash leftover.
    val SchemaClaimRe = "_schema_log_claim_v([0-9]+)".r
    val SwapClaimRe = "(_manifest|_dmanifest)_v([0-9]+)_claim".r
    fs.listStatus(new Path(root)).iterator
      .filter(s => s.isFile && s.getModificationTime <= cutoffMs)
      .foreach { s =>
        s.getPath.getName match {
          case SchemaClaimRe(v) if fs.exists(new Path(s"$root/_schema_log_v$v")) =>
            fs.delete(s.getPath, false); ()
          case SwapClaimRe(p, v) if fs.exists(new Path(s"$root/${p}_v$v")) =>
            fs.delete(s.getPath, false); ()
          // a janitor that renamed a stale claim aside and crashed (or
          // whose follow-up delete failed) leaves `<claim>.reclaim_<id>`
          // residue no other sweep matches — aged out like every other
          // crash leftover
          case n if n.contains(".reclaim_") =>
            fs.delete(s.getPath, false); ()
          // orphaned liveness beats (ClaimFile.writeBeat sidecars whose
          // claim vanished without its release/retire sweep — a crash
          // between claim delete and beat cleanup). Aged by the
          // EMBEDDED wall clock, not mtime: on a frozen-mtime store a
          // LIVE holder's beats could read arbitrarily old by mtime,
          // and deleting them would revert the holder to the
          // early-retire hazard the beats close.
          case n if n.contains(".hb_") =>
            val beatMs =
              try {
                val in = fs.open(s.getPath)
                val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
                txt.split('\n').drop(1).headOption
                  .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
                  .getOrElse(s.getModificationTime)
              } catch { case _: java.io.IOException => Long.MaxValue }
            if (beatMs <= cutoffMs) { fs.delete(s.getPath, false); () }
          case _ => ()
        }
      }
    val pendingDir = new Path(LogSync.pendingDmlDir(root))
    if (fs.exists(pendingDir)) {
      import spark.implicits._
      fs.listStatus(pendingDir).iterator
        .filter(_.getModificationTime <= cutoffMs)
        .foreach { j =>
          val in = fs.open(j.getPath)
          val paths = try new String(in.readAllBytes(), "UTF-8").split('\n')
            .map(_.trim).filter(_.nonEmpty).toSeq finally in.close()
          val onDisk = paths.filter(p => fs.exists(new Path(p)))
          val unregistered =
            if (onDisk.isEmpty) 0L
            else onDisk.toDF("path")
              .join(m.select("path"), Seq("path"), "left_anti").count()
          if (unregistered == 0L) fs.delete(j.getPath, false)
        }
    }
    m.unpersist()

    // MOR position-delete files follow the same lifecycle: tombstoned
    // (by compaction or vacuumDeletes) + aged + not pinned by any
    // branch → physically removed, manifest row purged. The whole
    // registry read-purge-swap holds the DML lease so a registration
    // appended by a concurrent MOR commit mid-vacuum cannot vanish
    // from the purged copy
    var deadDeletes = 0
    if (LogSync.hasDeleteManifest(spark, root)) LogSync.withDmlLease(spark, root) {
      val regVersion = LogSync.deleteManifestVersion(spark, root)
      val dm = LogSync.deleteManifestSnapshot(spark, root)
      val deadDel = dm
        .filter(col("removed_at") <= lit(cutoffTs))
        .join(pinned, Seq("path"), "left_anti")
        .select("path").as[String].collect()
      deadDel.foreach(p => fs.delete(new Path(p), false))
      // a delete COMMIT dir (_deletes/d<ts>_<uuid> or e<ts>_<uuid>)
      // whose parquet files are all reclaimed is pure leftover
      // (_SUCCESS marker + empty dir) — without this sweep they
      // accumulate one per DML commit forever on a DML-heavy lake
      deadDel.map(p => new Path(p).getParent).distinct.foreach { dir =>
        if (fs.exists(dir) &&
            !fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")))
          fs.delete(dir, true)
      }
      deadDeletes = deadDel.length
      if (deadDel.nonEmpty) {
        // purge ONLY the rows whose files were actually deleted:
        // branch-PINNED tombstones must keep their manifest rows (the
        // branch-retention rule the data-path purge enforces via
        // __pin) or the branch's historical reads stop applying them
        // and the still-on-disk file becomes untracked after dropBranch
        LogSync.swapDeleteManifest(spark, root, dm
          .join(pinned.withColumnRenamed("__pin", "__dpin"), Seq("path"), "left")
          .filter(col("removed_at").isNull || col("removed_at") > lit(cutoffTs) ||
            col("__dpin").isNotNull)
          .drop("__dpin"), Some(regVersion))
      }
      dm.unpersist()
      val staleDel = LogSync.staleDeleteManifestDirs(spark, root).filter { d =>
        fs.listStatus(d).forall(_.getModificationTime <= cutoffMs)
      }
      staleDel.foreach(d => fs.delete(d, true))
    }
    dead.length + neverRegistered.length + deadDeletes
  }

  /** (path, modificationTimeMs) of every DATA file under `dir` —
    * [[LogSync.listDataFiles]], so [[vacuum]] never deletes
    * underscore-prefixed bookkeeping state as "orphans" and [[compact]]
    * never registers it as data.
    */
  private def listParquet(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val base = new Path(dir)
    LogSync.listDataFiles(base.getFileSystem(spark.sparkContext.hadoopConfiguration), base)
      .map(f => (f.getPath.toString, f.getModificationTime))
  }
}
