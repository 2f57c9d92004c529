package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level DML on the registered lake: copy-on-write DELETE and
  * MERGE-style UPSERT — the right-to-be-forgotten / late-correction
  * operations an append-only log lake eventually needs (what the
  * reference would get from Iceberg's `DELETE FROM`/`MERGE INTO` over
  * its catalog; here re-expressed over the parquet manifest).
  *
  * Copy-on-write: only the files that actually CONTAIN affected rows
  * are rewritten (their complement rows re-written as new files, same
  * partition layout); every other file keeps its bytes and its manifest
  * entry. The commit point is the manifest swap — readers flip
  * atomically-per-read, replaced files stay on disk (invisible) until
  * [[LogCompact.vacuum]], and like compaction the swap collapses
  * registration history ([[LogSync.tableAsOf]] restarts at the DML
  * point — Iceberg snapshot-expiry semantics).
  *
  * At 100 TB the cost model is: one pass to FIND affected files (a
  * metadata-only bloom-sidecar probe when a [[LakeIndex]] exists on the
  * key, else a data scan with whatever partition/zone-map pruning the
  * predicate allows) + a rewrite proportional to the affected files,
  * never a full-lake rewrite.
  */
object LakeDml {

  /** filesRemoved/filesAdded are manifest-entry counts; rowsChanged is
    * deleted rows for [[delete]], matched-and-replaced rows for
    * [[upsert]] (inserts are `updates.count - rowsChanged`).
    */
  case class DmlStats(filesRemoved: Long, filesAdded: Long, rowsChanged: Long)

  /** Ceiling on the affected-file paths a single DML commit collects
    * to the driver. Manifest-scale planning (Iceberg does the same),
    * but a full-lake DELETE at 100 TB would cross millions of paths —
    * past this bound the commit REFUSES with instructions rather than
    * silently ballooning driver memory (the same honesty discipline as
    * [[LogCompact]]'s layout-evolution guard): chunk the predicate
    * (e.g. one partition range per commit) or compact first. ~100k
    * paths ≈ tens of MB of strings — safely inside any driver heap.
    */
  val DefaultMaxRewriteFiles = 100000

  /** Active delete-file count at which a maintenance round folds the
    * position-delete commits ([[compactDeletes]]).
    */
  val DeleteCompactionThreshold = 8

  /** The registered table with the normalized source-file path of every
    * row — the per-row file identity DML decisions join on. With
    * `withPos`, the position-delete identity columns (`__dfile`,
    * `__dpos`) materialize too — BEFORE applyDeletes, because once a
    * lake holds an equality delete that plan contains an outer join
    * against a second scan and any later `_metadata` reference
    * resolves ambiguously (see applyDeletes' seqRel note).
    */
  private def tableWithSrc(spark: SparkSession, root: String,
                           withPos: Boolean = false): DataFrame = {
    val paths = LogSync.activeManifest(spark, root)
      .select(LogSync.registeredKey(col("path")).as("__registered_path"))
    // an evolved lake's DML scan reads through the same request-schema
    // + alias-fold shape as [[LogSync.table]] (a predicate naming the
    // renamed column must match pre-rename rows); `_metadata`-derived
    // identities materialize first, the fold runs before the MOR
    // anti-joins — mirror of [[LogSync]]'s keepOnly ordering
    val evo = graft.sources.LakeEvolve.state(spark, root)
    val entries = LogSync.deleteEntries(spark, root)
    // the scan shares [[LogSync.scanRoot]]'s layout-flip fallback:
    // DML on a multi-generation root resolves each generation under
    // its own directory shape, `_metadata` identities (and the
    // position-delete identity pair) materialized per generation
    val withMeta = LogSync.scanRoot(spark, root,
      reader = p => evo match {
        case Some(st) => spark.read.option("basePath", root)
          .schema(graft.sources.LakeEvolve.requestSchema(spark, root, st))
          .parquet(p)
        case None => spark.read.option("basePath", root).parquet(p)
      },
      materialize = df => {
        val raw = df.withColumn("__src",
          LogSync.normPath(col("_metadata.file_path")))
        val m =
          if (!withPos) raw
          else raw
            .withColumn("__dfile", regexp_replace(col("_metadata.file_path"),
              "^file:/(?!/)", "file:///"))
            .withColumn("__dpos", col("_metadata.row_index"))
        if (evo.isEmpty && entries.exists(!_.isEq))
          m.withColumn("__pos", col("_metadata.row_index"))
        else m
      },
      evolved = evo.isDefined)
    val posReady = evo match {
      case Some(st) =>
        val m = if (entries.exists(!_.isEq))
          withMeta.withColumn("__pos", col("_metadata.row_index"))
        else withMeta
        graft.sources.LakeEvolve.project(m, st)
      case None => withMeta
    }
    val kept = posReady
      .join(LogSync.sizedKeepSet(spark, LogSync.manifestRows(spark, root), paths),
        col("__src") === col("__registered_path"), "left_semi")
    // rows already MOR-deleted (position OR equality) must be
    // invisible to DML decisions: a CoW rewrite that scanned them
    // would RESURRECT them in the complement, and a MOR delete would
    // re-record them
    LogSync.applyDeletes(spark, kept, root, entries,
      currentName = evo.map(st => (n: String) => st.currentName(n))
        .getOrElse(identity[String] _))
  }

  /** Broadcast hint for the distinct update-key relation only while it
    * is control-plane sized; past the cap NO hint — the semi/anti
    * joins shuffle (AQE free to re-pick). An unguarded `broadcast()`
    * here would ship a lake-scale restatement's millions of keys into
    * every executor; the docstring's "update batches are small" is an
    * expectation, not an invariant, so the guard enforces it the same
    * way [[graft.operators.Curation.broadcastIfSmall]] does for
    * near-dup control tables. The count is one cheap job over the
    * already-materialized update frame.
    */
  private[sources] val MaxBroadcastKeys = 1000000L
  private def keyRelSized(keyRel: DataFrame, maxRows: Long = MaxBroadcastKeys): DataFrame =
    if (keyRel.count() <= maxRows) broadcast(keyRel) else keyRel

  /** One job: (affected file list ≤ bound+1 entries, distinct affected
    * file count, matched-row count).
    */
  private def affectedAgg(matched: DataFrame, bound: Int): (Seq[String], Long, Long) = {
    // the file list is sliced to bound+1 entries INSIDE the aggregate:
    // the driver never receives more paths than the guard allows, so
    // the refusal happens BEFORE the crossing it refuses, even when a
    // predicate matches the whole lake
    val row = matched
      .agg(slice(sort_array(collect_set(col("__src"))), 1, bound + 1).as("files"),
           countDistinct(col("__src")).as("nf"),
           count(lit(1)).as("n")).head()
    (row.getSeq[String](0), row.getLong(1), row.getLong(2))
  }

  /** The copy-on-write commit shared by DELETE and UPSERT: rewrite the
    * affected files through `complement` (the rows that SURVIVE),
    * append `inserts`, and swap the manifest to (old minus affected)
    * plus the new files with fresh zone-map stats. Returns
    * (filesRemoved, filesAdded).
    */
  private def commit(spark: SparkSession, root: String, affectedSrcs: Seq[String],
                     complement: DataFrame => DataFrame,
                     inserts: Option[DataFrame],
                     seq: Option[Long] = None): (Long, Long) = {
    import spark.implicits._
    // the CAS base: the manifest version this commit plans against —
    // the swap below refuses if another writer advanced it
    val baseVersion = LogSync.manifestVersion(spark, root)
    val before = LogSync.manifestSnapshot(spark, root)
    // sequence captured at commit PLANNING, before the complement read
    // resolves the deletes it will materialize — the same defensive
    // ordering as [[LogCompact.compact]]'s planning capture. Allocated
    // LEASED + RESERVED ([[LogSync.allocateSeq]]) so a concurrent MOR
    // commit can never compute the same value while this commit's
    // files are still unregistered; released after the swap (finally).
    val (commitSeq, seqReservation) = seq match {
      case Some(s) => (s, None)
      case None =>
        val (s, r) = LogSync.allocateSeq(spark, root)
        (s, Some(r))
    }
    try {
    val affected = before
      .filter(col("removed_at").isNull &&
        LogSync.registeredKey(col("path")).isin(affectedSrcs: _*))
      .select("path").as[String].collect()

    val layout = LogCompact.inferLayout(spark, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // STAGED append: write into a per-commit underscore dir (invisible
    // to data scans and sync) and move the produced files into the
    // lake keeping their k=v subpaths. The moved list IS the commit's
    // output — O(files written) discovery, where a full-lake listing
    // diff is O(lake) driver paths per row-level commit at 100 TB, and
    // would also misregister any file that ARRIVED (written, not yet
    // synced) during the commit as DML output, burying a genuine
    // append under op="rewrite" where tableSince consumers never see
    // it. CRASH STORY: every destination path is JOURNALED under
    // `_dml_pending/` BEFORE the first rename and the journal is
    // removed only after the manifest swap — so a crashed or
    // partially-moved commit's files are (a) excluded from sync's
    // fresh diff (no resurrection-by-append of restated rows) and
    // (b) reclaimed by vacuum's never-registered sweep after the
    // grace, journal included. A crash before any rename leaves only
    // the staging dir, which vacuum also ages out.
    val journals = Seq.newBuilder[Path]
    def appendStaged(df: DataFrame): Seq[String] = {
      val staging = new Path(s"$root/_dml_stage_" +
        java.util.UUID.randomUUID().toString.take(8))
      // layout-renamed columns write back under their physical
      // directory keys (`layout` is the dir-key list; the frame
      // carries current logical names) — the tree never changes shape
      val phys = graft.sources.LakeEvolve.toPhysicalLayout(df,
        graft.sources.LakeEvolve.state(spark, root))
      LogWriter.lakeWriter(phys).mode(SaveMode.Overwrite)
        .partitionBy(layout.filter(phys.columns.contains): _*)
        .parquet(staging.toString)
      val stagingUri = fs.makeQualified(staging).toUri
      // the QUALIFIED form — the same string sync's listing produces,
      // so both the journal exclusion and the manifest registration
      // compare equal to a listed path
      val planned = LogSync.listDataFiles(fs, staging).map { f =>
        val dest = new Path(root, stagingUri.relativize(f.getPath.toUri).getPath)
        (f.getPath, dest, fs.makeQualified(dest).toString)
      }
      val journal = new Path(s"$root/_dml_pending/p" +
        java.util.UUID.randomUUID().toString.take(8))
      fs.mkdirs(journal.getParent)
      val out = fs.create(journal, true)
      try out.write(planned.map(_._3).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      journals += journal
      planned.foreach { case (src, dest, _) =>
        fs.mkdirs(dest.getParent)
        require(fs.rename(src, dest),
          s"DML staged move failed: $src -> $dest")
      }
      fs.delete(staging, true)
      planned.map(_._3)
    }
    val complementPaths =
      if (affected.isEmpty) Seq.empty[String]
      else {
        // the complement read must honor existing MOR deletes (position
        // AND equality): a raw re-read of the affected files would
        // resurrect rows an earlier deleteMor/deleteEq removed. On an
        // evolved lake it reads through the alias fold, so the
        // rewritten files MATERIALIZE the evolution (new names, wide
        // types) — CoW doubles as the physical migration path.
        val evo = graft.sources.LakeEvolve.state(spark, root)
        val entries = LogSync.deleteEntries(spark, root)
        // grouped by layout generation — a CoW rewrite whose affected
        // files span a layout flip reads each generation under its own
        // shape (readPathsGrouped), `_metadata` identities per group
        val raw0 = LogSync.readPathsGrouped(spark, root, affected.toSeq,
          r => evo match {
            case Some(st) => r.schema(
              graft.sources.LakeEvolve.requestSchema(spark, root, st))
            case None => r
          },
          df => {
            val s = df.withColumn("__src",
              LogSync.normPath(col("_metadata.file_path")))
            if (entries.exists(!_.isEq))
              s.withColumn("__pos", col("_metadata.row_index"))
            else s
          })
        val raw = evo match {
          case Some(st) => graft.sources.LakeEvolve.project(raw0, st)
          case None => raw0
        }
        val morApplied = LogSync.applyDeletes(spark, raw, root, entries,
          currentName = evo.map(st => (n: String) => st.currentName(n))
            .getOrElse(identity[String] _)).drop("__src")
        appendStaged(complement(morApplied))
      }
    val insertPaths = inserts.map(appendStaged).getOrElse(Seq.empty)
    val freshPaths = complementPaths ++ insertPaths
    // COMPLEMENT files are REWRITE commits to incremental consumers —
    // they carry pre-existing rows, skipped by tableSince (Iceberg's
    // skip-overwrite incremental default). INSERT files register as
    // op="upsert": their rows are NEW VALUES (an upsert's
    // replacements and novel keys), still excluded from tableSince's
    // append stream — a replacement is not an append — but surfaced
    // by [[LogSync.upsertsSince]], so a changelog consumer gets the
    // full CDC triple (appends + upserts + deletes). Both kinds'
    // data sequence is FRESH (strictly above every active equality
    // delete's): the rewrite materialized those deletes, so they must
    // stop applying to the restated rows — exactly the spec's
    // restatement sequencing.
    val fresh = LogSync.manifestFrame(spark,
      LogSync.freshManifestRows(spark, root, complementPaths.toSeq,
        op = "rewrite", seq = Some(commitSeq)) ++
      LogSync.freshManifestRows(spark, root, insertPaths.toSeq,
        op = "upsert", seq = Some(commitSeq)))

    // rewritten files are TOMBSTONED, not forgotten — they stay on disk
    // until vacuum, and a forgotten path would be re-registered (rows
    // resurrected) by the next sync round.
    // The commit's registered_at stamps STRICTLY ABOVE the base
    // manifest's high-water mark (the sync append's monotone-stamp
    // rule, extended to DML): an [[LogSync.upsertsSince]] consumer's
    // strictly-greater mark poll can then never lose a commit to an
    // instant tie. Recomputed PER CAS ATTEMPT from that attempt's
    // base — the fast-append retry re-plans against a manifest that
    // may already carry a racer's fresh stamp.
    var lastStamp = 0L
    def stampAbove(m: DataFrame): java.sql.Timestamp = {
      val st = new java.sql.Timestamp(math.max(math.max(
        System.currentTimeMillis(),
        // the durable stamp mark (LogSync.tsHwmPath): a stale listing
        // behind the base manifest read can no longer tie this stamp
        // with a concurrent sync round's
        LogSync.stampFloor(spark, LogSync.tsHwmPath(root)) + 1),
        Option(m.agg(max(col("registered_at"))).head().getTimestamp(0))
          .map(_.getTime + 1).getOrElse(0L)))
      lastStamp = st.getTime
      st
    }
    val manifestCols = fresh.columns.toSeq
    def buildNext(base: DataFrame): DataFrame = base
      .withColumn("removed_at",
        when(LogSync.registeredKey(col("path")).isin(affectedSrcs: _*) &&
          col("removed_at").isNull, current_timestamp())
          .otherwise(col("removed_at")))
      .select(manifestCols.map(col): _*)
      .union(fresh
        .withColumn("registered_at", lit(stampAbove(base)).cast("timestamp"))
        .select(manifestCols.map(col): _*))
    // versioned swap: new readers flip atomically; a plan holding the
    // old manifest version (a cached Dataset) keeps its consistent
    // pre-DML snapshot until vacuum ages the version out. CAS on the
    // planning-time version: an interleaved rewrite raises instead of
    // silently losing this commit's (or the other's) files.
    // APPEND-ONLY commits (no affected files — upsertMor/upsertEq
    // insert halves) re-plan trivially on a CAS conflict: the fresh
    // rows are commit-local, so rebuild `next` against the moved
    // manifest and retry — Iceberg's fast-append retry, which is what
    // lets two concurrent eq-upserts both land. REWRITES keep the
    // loud conflict: their complement scan is stale by definition.
    if (affectedSrcs.isEmpty) {
      // TIME-bounded with backoff, not attempt-counted: a losing racer
      // sees "version claimed" for the WHOLE of the winner's staging
      // write (the claim is held across it by design — losers must not
      // pay the write), so N instant retries all land inside one
      // window and prove nothing. The budget shares
      // graft.lake.dmlLeaseWaitMs — the same "how long may a commit
      // wait on contention" knob as the registry lease.
      val deadline = System.currentTimeMillis() +
        spark.conf.getOption("graft.lake.dmlLeaseWaitMs")
          .map(_.toLong).getOrElse(120L * 1000)
      var attempts = 0
      var committed = false
      while (!committed) {
        val (bv, base) =
          if (attempts == 0) (baseVersion, before)
          else (LogSync.manifestVersion(spark, root), LogSync.manifestDf(spark, root))
        try { LogSync.swapManifest(spark, root, buildNext(base), Some(bv)); committed = true }
        catch { case e: LogSync.ManifestConflictException =>
          attempts += 1
          if (System.currentTimeMillis() >= deadline) throw e
          Thread.sleep(math.min(100L * attempts, 1000L))
        }
      }
    } else LogSync.swapManifest(spark, root, buildNext(before), Some(baseVersion))
    // stamp mark recorded AFTER the winning swap made the rows visible
    LogSync.recordStampHwm(spark, LogSync.tsHwmPath(root), lastStamp)
    // registered — the pending journals have done their job (a crash
    // from here on leaves journals listing REGISTERED paths, which
    // sync's anti-join ignores anyway and vacuum ages out)
    journals.result().foreach(j => fs.delete(j, false))
    before.unpersist()
    (affected.length.toLong, freshPaths.length.toLong)
    // release even on failure: nothing registered at commitSeq on an
    // abort, and any commit made while reserved already landed
    // strictly above — a crash leaves the file for vacuum to age out
    } finally seqReservation.foreach(LogSync.releaseSeq(spark, _))
  }

  /** MERGE-ON-READ delete: record the matching rows' positions in
    * Iceberg v2-shaped POSITION-DELETE files instead of rewriting any
    * data file. Cost is O(deleted rows) — one predicate scan plus a
    * write sized by the matches — where [[delete]] (copy-on-write)
    * pays a rewrite of every touched FILE; at 100 TB a one-row
    * deleteMor writes one tiny delete file where CoW rewrites a
    * 512 MB data file. The trade moves to read time: every subsequent
    * [[LogSync.table]] scan anti-joins the accumulated delete rows
    * (broadcast while small, shuffle past the cap), until a
    * [[LogCompact.compact]] materializes them back into clean files —
    * exactly Iceberg's MOR-then-compact lifecycle. CoW [[delete]]
    * stays available as the compaction-style alternative for
    * predicates that gut whole files.
    *
    * Delete files land under `<root>/_deletes/` (underscore tree:
    * invisible to data scans and [[LogSync.sync]]) as parquet rows of
    * (`file_path`, `pos`) — the v2 position-delete schema, rows sorted
    * by (file_path, pos) per the spec — and register in the versioned
    * `_dmanifest` sidecar with write-time row/byte stats.
    * [[graft.sources.IcebergExport.export]] chains them as a real v2
    * delete snapshot; [[LogSync.tableAsOf]] time-travels across them
    * by registration instant, like data files.
    *
    * Returns DmlStats(filesRemoved = 0 — no data file is touched,
    * filesAdded = delete files written, rowsChanged = rows deleted).
    */
  /** The table with the spec-URI file identity and row ordinal
    * materialized as ordinary columns (`__dfile`/`__dpos`) — joins
    * and projections downstream would otherwise lose `_metadata`
    * resolution. file_path takes the URI form the Iceberg export's
    * manifest entries carry (`file:///x`, not Spark's `file:/x`) so
    * external MOR readers string-match it; graft's own read path
    * normalizes both forms anyway.
    */
  private def tableWithPos(spark: SparkSession, root: String): DataFrame =
    tableWithSrc(spark, root, withPos = true)

  /** Write one position-delete commit for `matched` (a frame carrying
    * [[tableWithPos]]'s `__dfile`/`__dpos` columns) and register it in
    * the `_dmanifest` sidecar. Returns (delete files written, rows).
    */
  private def writePositionDeletes(spark: SparkSession, root: String,
                                   matched: DataFrame,
                                   seq: Option[Long] = None,
                                   op: String = "delete"): (Long, Long) = {
    import spark.implicits._
    // persist: the matched scan (predicate/semi-join over the lake,
    // MOR anti-join on top) is the dominant cost — sizing via count()
    // and then writing must not pay it twice
    val positions = matched
      .select(col("__dfile").as("file_path"), col("__dpos").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = positions.count()
    if (n == 0) { positions.unpersist(); return (0L, 0L) }
    // ~4M positions per delete file: each output file is one sorted
    // (file_path, pos) range — individually a spec-valid sorted
    // position-delete file, collectively disjoint
    val nOut = math.max(1L, (n + 4000000L - 1) / 4000000L).toInt
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = s"$root/_deletes/d${System.currentTimeMillis()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    // the Iceberg spec's RESERVED field ids for position-delete
    // columns (file_path = 2147483546, pos = 2147483545): stamped as
    // parquet field-id metadata (Spark's writer emits them with
    // spark.sql.parquet.fieldId.write.enabled, default on) so
    // EXTERNAL engines — which bind delete columns by id, not name —
    // can apply the exported delete files
    val fileMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2147483546L).build()
    val posMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2147483545L).build()
    positions
      .select(col("file_path").as("file_path", fileMeta),
        col("pos").as("pos", posMeta))
      .repartitionByRange(nOut, col("file_path"), col("pos"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .write.parquet(commitDir)
    positions.unpersist()
    val written = fs.listStatus(new Path(commitDir)).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
    // per-file row counts from the footers (control-plane: nOut files)
    val conf = spark.sparkContext.hadoopConfiguration
    val rowsOf = written.map { case (p, len) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val cnt = try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally r.close()
      (p, cnt, len)
    }
    // ONE lease hold for the sequence default AND the registry append:
    // the appended row carrying seq S is visible before the lease
    // releases, so no concurrent commit can compute S again — the
    // reservation-free form of [[LogSync.allocateSeq]], available
    // exactly because nothing happens between allocation and
    // registration here
    LogSync.withDmlLease(spark, root) {
      LogSync.appendDeleteManifestLocked(spark, root,
        rowsOf.toDF("path", "rows", "bytes")
          .withColumn("registered_at", current_timestamp())
          .withColumn("removed_at", lit(null).cast("timestamp"))
          .withColumn("kind", lit("pos"))
          .withColumn("seq", lit(seq.getOrElse(LogSync.nextSeqLocked(spark, root))))
          .withColumn("eq_cols", lit(null).cast("string"))
          .withColumn("op", lit(op)))
    }
    (rowsOf.length.toLong, n)
  }

  /** Does a parquet footer field's PHYSICAL type agree with the
    * sidecar-recorded Spark type? The probe's drift check: a column
    * whose physical type changed across files (int → long promotion)
    * must decline the sidecar fast path, or the delete file would be
    * stamped with the stale narrow type. Conservative by construction:
    * a group (nested) field or a Spark type with no single physical
    * mapping (decimals span INT32/INT64/BINARY/FIXED) answers false —
    * declining only costs the merged-schema fallback, never
    * correctness.
    */
  private def footerTypeMatches(f: org.apache.parquet.schema.Type,
                                dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    if (!f.isPrimitive) return false
    val p = f.asPrimitiveType().getPrimitiveTypeName
    dt match {
      case IntegerType | ShortType | ByteType | DateType => p == INT32
      case LongType | TimestampType | TimestampNTZType => p == INT64
      case FloatType => p == FLOAT
      case DoubleType => p == DOUBLE
      case BooleanType => p == BOOLEAN
      case StringType | BinaryType => p == BINARY
      case _ => false
    }
  }

  def deleteMor(spark: SparkSession, root: String, predicate: Column): DmlStats = {
    val (files, n) = writePositionDeletes(spark, root,
      tableWithPos(spark, root).filter(predicate))
    DmlStats(0, files, n)
  }

  /** Write one EQUALITY-delete commit: `keyRows` (already distinct or
    * not — deduped here) lands as Iceberg v2-shaped equality-delete
    * parquet under `<root>/_deletes/e<ts>_<uuid>/`, columns stamped
    * with the EXPORT's field ids ([[IcebergExport.exportFieldIds]] —
    * external engines bind delete columns by id, so the writer and the
    * exporter must agree), rows sorted by the key columns, registered
    * with kind="eq" and the EXPLICIT sequence `seq`. Returns (delete
    * files written, distinct key rows).
    */
  private def writeEqualityDeletes(spark: SparkSession, root: String,
                                   keyRows: DataFrame, seq: Option[Long],
                                   op: String = "delete"): (Long, Long) = {
    import spark.implicits._
    val cols = keyRows.columns.toSeq
    require(cols.nonEmpty, "equality delete needs at least one key column")
    val keys = keyRows.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = keys.count()
    if (n == 0) { keys.unpersist(); return (0L, 0L) }
    // key columns land with the TABLE's types and the EXPORT's field
    // ids: a caller key frame with a narrower type (int vs long) would
    // otherwise write a delete file whose physical type disagrees with
    // the field id it claims — graft's own <=> join would coerce, an
    // external id-binding reader would not. STEADY STATE reads both
    // from the persisted `_field_ids` sidecar plus one liveness
    // footer (below) — planning cost independent of lake size, where
    // the fallback pays a merged-schema job over every active footer;
    // the first-ever commit (or a delete on a column the sidecar
    // hasn't seen or the newest file lacks) falls back to the
    // merged-schema path, which refreshes the sidecar. The fallback's
    // merged schema matches the field-id
    // universe: a late-evolution column can pass the fieldId require
    // but miss table()'s sampled-footer schema, and that mismatch must
    // fail loudly, not as a bare NoSuchElementException.
    // the sidecar keeps names forever (append-only), so it alone
    // cannot prove a key column still exists in the LIVE lake — and a
    // registered equality delete on a vanished column would turn
    // every subsequent read into an unresolvable-column failure. The
    // liveness probe is ONE footer of the newest registered file
    // (control-plane: a manifest aggregate + one footer read — never
    // a lake listing, which would put an O(files) driver cost back on
    // the per-commit CDC hot path this fast path exists to keep at
    // O(batch)): present there WITH a physical type matching the
    // sidecar's recorded Spark type → live; absent, TYPE-DRIFTED
    // (the sidecar records one type but newer files carry another —
    // stamping the stale type would write a delete file whose
    // physical type disagrees with the lake, the exact hazard for
    // external id-binding readers this comment warns about), or the
    // footer unreadable (transient FS error must not abort the
    // commit) → fall through to the merged path, which either admits
    // the column at its CURRENT widened type or refuses a vanished
    // one LOUDLY at write time, the old contract either way.
    val sidecarInfo = IcebergExport.fieldInfoFromSidecar(spark, root, cols)
      .filter { info =>
        val newest = LogSync.activeManifest(spark, root)
          .orderBy(col("registered_at").desc, col("path").desc)
          .select("path").limit(1).collect().headOption.map(_.getString(0))
        newest.exists { p =>
          scala.util.Try {
            val conf = spark.sparkContext.hadoopConfiguration
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new Path(p), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val fields = try {
              import scala.jdk.CollectionConverters._
              r.getFooter.getFileMetaData.getSchema.getFields.asScala
                .map(f => f.getName -> f).toMap
            } finally r.close()
            cols.forall(c => fields.get(c).exists(f =>
              footerTypeMatches(f, info(c)._2)))
          }.getOrElse(false)
        }
      }
    val (fieldId, tableType) =
      sidecarInfo match {
        case Some(info) =>
          (info.view.mapValues(_._1).toMap, info.view.mapValues(_._2).toMap)
        case None =>
          val fid = IcebergExport.exportFieldIds(spark, root)
          cols.foreach(c => require(fid.contains(c),
            s"equality column '$c' is not a column of the lake at $root"))
          val tt = LogSync.tableMerged(spark, root).schema
            .map(f => f.name -> f.dataType).toMap
          cols.foreach(c => require(tt.contains(c),
            s"equality column '$c' resolves a field id but no merged-schema type at $root"))
          (fid, tt)
      }
    val nOut = math.max(1L, (n + 4000000L - 1) / 4000000L).toInt
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = s"$root/_deletes/e${System.currentTimeMillis()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    keys
      .select(cols.map { c =>
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", fieldId(c).toLong).build()
        col(c).cast(tableType(c)).as(c, meta)
      }: _*)
      .repartitionByRange(nOut, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.parquet(commitDir)
    keys.unpersist()
    val written = fs.listStatus(new Path(commitDir)).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
    val conf = spark.sparkContext.hadoopConfiguration
    val rowsOf = written.map { case (p, len) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val cnt = try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally r.close()
      (p, cnt, len)
    }
    // same one-hold discipline as the position path: sequence default
    // and registry append inside a single DML lease hold
    LogSync.withDmlLease(spark, root) {
      LogSync.appendDeleteManifestLocked(spark, root,
        rowsOf.toDF("path", "rows", "bytes")
          .withColumn("registered_at", current_timestamp())
          .withColumn("removed_at", lit(null).cast("timestamp"))
          .withColumn("kind", lit("eq"))
          .withColumn("seq", lit(seq.getOrElse(LogSync.nextSeqLocked(spark, root))))
          .withColumn("eq_cols", lit(cols.mkString(",")))
          .withColumn("op", lit(op)))
    }
    (rowsOf.length.toLong, n)
  }

  /** EQUALITY delete — the streaming-CDC deletion primitive: every
    * registered row whose `keyRows`-column values match SOME key row
    * is deleted, at a cost of O(distinct keys) — NO lake scan at all,
    * where [[deleteMor]] pays a predicate scan to find positions and
    * [[delete]] additionally rewrites every touched file. This is why
    * Flink-CDC engines write equality deletes: a keyed retraction
    * stream commits in time proportional to the BATCH, not the table.
    *
    * The trade moves further toward read time than [[deleteMor]]'s:
    * every subsequent scan anti-joins the key rows null-safely against
    * data files whose sequence is STRICTLY BELOW the delete's (the v2
    * rule — data appended AFTER the delete, including an upsert's own
    * inserts at the same sequence, survives). [[LogCompact.compact]]
    * materializes and retires them like position deletes;
    * [[IcebergExport.export]] chains them as content=2 equality-delete
    * files with `equality_ids` under interleaving-consistent snapshot
    * sequencing.
    *
    * Returns DmlStats(filesRemoved = 0, filesAdded = delete files
    * written, rowsChanged = DISTINCT KEY rows — the matched-row count
    * is unknowable without the scan this operation exists to avoid).
    */
  def deleteEq(spark: SparkSession, root: String, keyRows: DataFrame): DmlStats = {
    require(LogSync.hasManifest(spark, root),
      s"no manifest under $root — run sync first")
    // seq = None: allocated inside the write's single lease hold,
    // where allocation and registration are one atomic step
    val (files, n) = writeEqualityDeletes(spark, root, keyRows, None)
    DmlStats(0, files, n)
  }

  /** EQUALITY-delete upsert — the Flink-CDC streaming-upsert shape:
    * one logical commit writes (a) the update rows as appended data
    * files and (b) an equality delete on their key columns, both at
    * the SAME sequence number. The delete retracts every matching row
    * of any EARLIER commit (strictly-below rule); the inserts survive
    * their own delete (same sequence is not below). Cost is
    * O(update batch) — no scan, no position lookup: this is what
    * [[upsertMor]]'s predicate scan buys its exact positions with,
    * and at 100 TB the difference between a CDC consumer keeping up
    * and falling behind.
    *
    * ORDERING under the two-registry reality (the data manifest and
    * the delete registry move in two steps; there is no cross-sidecar
    * atomic swap): the INSERTS land first, the delete second. A
    * failure between the steps leaves old+new rows visible (transient
    * duplicate keys) — never the retracted-with-no-replacement state
    * the inverse order would expose — and RE-RUNNING the same upsert
    * heals it: the re-run's delete sits at a higher sequence, so it
    * retracts both the old rows and the first attempt's inserts, and
    * the re-run's inserts replace them.
    *
    * Unlike [[upsertMor]], rows are retracted by KEY even when no
    * matching row exists (a no-op delete), so rowsChanged counts
    * distinct keys, not matched rows. The appended files register as
    * op="upsert": excluded from [[LogSync.tableSince]]'s append
    * stream (a replacement is not an append), surfaced by
    * [[LogSync.upsertsSince]].
    */
  def upsertEq(spark: SparkSession, root: String, updates: DataFrame,
               keys: Seq[String]): DmlStats = {
    require(keys.nonEmpty, "upsertEq needs at least one key column")
    val dataCols = LogSync.table(spark, root).columns
    require(dataCols.forall(updates.columns.contains),
      "updates must carry all table columns; missing " +
        dataCols.filterNot(updates.columns.contains).mkString(","))
    // lineage truncation, same rationale as upsertMor: once the
    // equality delete registers, a recompute of `updates` reading this
    // very table would see its matched rows already deleted
    val ups = updates.select(dataCols.map(col): _*).localCheckpoint(true)
    try {
      // the SHARED sequence spans two registrations (inserts, then the
      // delete), so allocation must RESERVE: between the halves a
      // concurrent commit would otherwise compute the same value and
      // its rows would wrongly survive this upsert's retraction
      val (seq, reservation) = LogSync.allocateSeq(spark, root)
      try {
        // inserts FIRST, at the shared sequence (failure-ordering above)
        val (_, added) = commit(spark, root, Seq.empty,
          complement = identity, inserts = Some(ups), seq = Some(seq))
        // the delete at the SAME sequence — the same-commit rule that
        // makes the inserts survive it. op="upsert": this retraction is
        // the upsert's INTERNAL old-value removal, not a genuine delete
        // — [[LogSync.deletesSince]] excludes it by default (the new
        // values already surface on [[LogSync.upsertsSince]]; a keyed
        // consumer replaces by key), mirroring the data manifest's
        // op="upsert" tagging of the insert half.
        val (delFiles, nKeys) = writeEqualityDeletes(spark, root,
          ups.select(keys.map(col): _*), Some(seq), op = "upsert")
        DmlStats(0, delFiles + added, nKeys)
      } finally LogSync.releaseSeq(spark, reservation)
    } finally { ups.unpersist(); () }
  }

  /** MERGE-ON-READ upsert: rows matching `updates` on `keys` are
    * position-DELETED (no data file rewritten) and ALL update rows —
    * replacements and novel keys alike — append as new files. The
    * MOR twin of [[upsert]]: a matched row costs one (file, pos)
    * delete entry instead of its whole file's rewrite; the appended
    * files register through the ordinary manifest with op="upsert"
    * (their replaced rows are not NEW data — [[LogSync.tableSince]]
    * consumers skip them, the same conservative rule as CoW merge —
    * while [[LogSync.upsertsSince]] surfaces them as the changelog's
    * new values). filesAdded counts delete files + appended data
    * files.
    */
  def upsertMor(spark: SparkSession, root: String, updates: DataFrame,
                keys: Seq[String]): DmlStats = {
    require(keys.nonEmpty, "upsertMor needs at least one key column")
    val dataCols = LogSync.table(spark, root).columns
    require(dataCols.forall(updates.columns.contains),
      "updates must carry all table columns; missing " +
        dataCols.filterNot(updates.columns.contains).mkString(","))
    // LINEAGE-TRUNCATED materialization, not cache(): `updates` may
    // read the very table this merge mutates; once the position
    // deletes register, a recompute (cache-block loss on a real
    // cluster) would see the matched rows already deleted and
    // SILENTLY drop them from the insert half — localCheckpoint
    // fails loudly on block loss instead of corrupting
    val ups = updates.select(dataCols.map(col): _*).localCheckpoint(true)
    try {
      val keyRel = keyRelSized(ups.select(keys.map(col): _*).distinct())
      // op="upsert": these position deletes are the upsert's internal
      // old-value retraction, excluded from [[LogSync.deletesSince]]'s
      // default stream — same contract as [[upsertEq]]'s equality half
      val (delFiles, matched) = writePositionDeletes(spark, root,
        tableWithPos(spark, root).join(keyRel, keys, "left_semi"),
        op = "upsert")
      // the shared CoW commit with an EMPTY affected set appends the
      // update rows and registers them (op="upsert"), no tombstones
      val (_, added) = commit(spark, root, Seq.empty,
        complement = identity, inserts = Some(ups))
      DmlStats(0, delFiles + added, matched)
    } finally { ups.unpersist(); () }
  }

  /** Maintenance: fold the accumulated position-delete files into ONE
    * sorted commit — Iceberg's rewrite-position-deletes action. Every
    * [[deleteMor]]/[[upsertMor]] adds delete files, and each read
    * anti-joins their union; long before the DATA is worth compacting,
    * the delete side alone can be (100 tiny delete commits = 100 file
    * opens per scan). Cost is O(total delete rows); the swap
    * tombstones the old files (same time-travel rule as data — a
    * historic read applies the originals until vacuum) and registers
    * the merged commit. Returns (delete files before, after); no-op
    * below 2 active files.
    */
  def compactDeletes(spark: SparkSession, root: String): (Int, Int) = {
    val entries = LogSync.posDeleteEntries(spark, root)
    if (entries.length < 2) return (entries.length, entries.length)
    val merged = spark.read.parquet(entries.map(_.path): _*)
      .select(col("file_path"), col("pos"))
      .withColumn("__dfile", col("file_path")).withColumn("__dpos", col("pos"))
    // op="fold": same retractions, new file — deletesSince must not
    // surface them a second time
    val (files, _) = writePositionDeletes(spark, root, merged, op = "fold")
    // tombstone the originals in the SAME swap that already holds the
    // merged commit's append (the leased registry append ran inside
    // writePositionDeletes; the swap rewrites the whole registry with
    // the originals tombstoned — readers flip atomically)
    LogSync.tombstoneDeleteEntries(spark, root, entries.map(_.path))
    (entries.length, files.toInt)
  }

  /** Maintenance: CONVERT active equality deletes to position deletes
    * — Iceberg's convert-equality-deletes rewrite action, the
    * scale-safe retirement path for the CDC steady state. Equality
    * deletes cannot FOLD (one merged file needs ONE sequence, and
    * lifting an older delete's keys to a newer sequence would retract
    * data committed between the originals), and retiring them through
    * a full data compaction is an O(lake) rewrite every
    * [[DeleteCompactionThreshold]] retraction batches — infeasible at
    * 100 TB when [[graft.streaming.CdcApply]] lands a batch per poll.
    * Conversion is the third way: for each distinct key-column set,
    * ONE scan restricted to the data files any of its deletes can
    * affect (active AND sequence strictly below the set's newest
    * delete — a fresh post-delete file is never read), matching rows
    * null-safely under each delete's own strictly-below rule, and the
    * matched (file, pos) pairs land as ordinary position-delete files
    * — sequence-safe by construction (position deletes bind by exact
    * path). No data file is rewritten; cost is O(candidate files
    * scanned + matched rows), and the per-scan anti-join burden drops
    * from one eq join per commit to the folded position joins.
    *
    * The new position files register op="fold" — same retractions,
    * already surfaced by the original eq commits, so
    * [[LogSync.deletesSince]] consumers never see them twice — and
    * each group's eq registry entries are tombstoned in their own
    * swap IMMEDIATELY after that group's position deletes register
    * (per-group commit point). Historic reads ([[LogSync.tableAsOf]],
    * branches) keep applying the original eq files until vacuum, the
    * standard tombstone rule.
    *
    * Crash story: within a group, position deletes commit first and
    * the registry swap retiring its eq entries is the group's commit
    * point. A crash between leaves that group's BOTH kinds active —
    * rows doubly deleted, which the anti-join read makes idempotent —
    * and a rerun re-converts ONLY the unretired groups (its rescan
    * re-matches the same rows; duplicate positions are a set union to
    * every reader), so retries never re-pay or re-append the
    * already-committed groups.
    *
    * Returns (equality delete files retired, position rows written).
    */
  /** Keys above which an index probe skips the bloom path (the hash
    * list crosses the driver as a literal — fine for a CDC retraction
    * backlog or an update batch, wrong for a lake-scale restatement,
    * which should just pay the scan). Conf'd
    * (`graft.lake.indexProbeMaxKeys`) so specs can force the scan
    * fallback and assert both paths agree.
    */
  private[graft] def indexProbeMaxKeys(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.indexProbeMaxKeys")
      .map(_.toLong).getOrElse(100000L)

  /** Bloom-positive files above which an index probe abandons the
    * explicit-path read (the path list would cross the driver at
    * bloom-false-positive cardinality — up to manifest-sized under a
    * key-dense batch or a cold bloom) and falls back to the scan
    * path. Counted BEFORE the collect, like every other crossing.
    */
  private[graft] def indexProbePathCap(spark: SparkSession): Long =
    spark.conf.getOption("graft.lake.indexProbePathCap")
      .map(_.toLong).getOrElse(DefaultMaxRewriteFiles.toLong)

  /** The candidate (file → seq) relation for converting ONE
    * equality-delete group: active data files with sequence STRICTLY
    * below the group's newest delete (later files are exempt by the
    * spec rule), further BLOOM-PRUNED when a [[LakeIndex]] sidecar
    * exists on one of the key columns and the group's key population
    * is control-plane sized — a row must match the keys on EVERY
    * column, so pruning by one indexed column alone is sound. On a
    * span-indexed 100 TB lake this turns the conversion scan from
    * "every pre-delete file" into "~the files that hold the keys"
    * (plus the bloom's false positives); files with no index entry
    * always survive the prune.
    */
  private[graft] def convertCandidateRel(spark: SparkSession, root: String,
                                         cols: Seq[String],
                                         files: Seq[LogSync.DeleteEntry]): DataFrame = {
    import spark.implicits._
    val maxSeq = files.map(_.seq).max
    var mdf = LogSync.activeManifest(spark, root)
      .filter(coalesce(col("seq"), lit(0L)) < lit(maxSeq))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxCol = cols.find(c => fs.exists(new Path(s"$root/_index/$c")))
    idxCol.foreach { ic =>
      // manifest row stats bound the key population without a job
      if (files.map(_.rows).sum <= indexProbeMaxKeys(spark)) {
        graft.functions.VectorFunctions.register(spark)
        val hashes = spark.read.parquet(files.map(_.path): _*)
          .select(xxhash64(col(ic)).as("h")).distinct().as[Long].collect()
        mdf = mdf.join(spark.read.parquet(s"$root/_index/$ic"), Seq("path"), "left")
          .filter(col("bloom").isNull ||
            call_function("graft_bloom_any", col("bloom"), typedLit(hashes.toSeq)))
      }
    }
    mdf.select(col("path"), coalesce(col("seq"), lit(0L)).as("__data_seq"))
  }

  def convertEqDeletes(spark: SparkSession, root: String): (Int, Long) = {
    import spark.implicits._
    // UNCAPPED: conversion is one of the fix paths an over-cap
    // registry needs (it folds eq groups into position files)
    val eqs = LogSync.deleteEntries(spark, root, capped = false).filter(_.isEq)
    if (eqs.isEmpty) return (0, 0L)
    var posRows = 0L
    // deterministic group order (keyed by column set): a crash+rerun
    // cycle re-encounters the surviving groups in the same sequence,
    // and the per-group commit below makes that rerun skip exactly
    // the already-retired prefix
    eqs.groupBy(_.eqCols).toSeq.sortBy(_._1.mkString(","))
      .foreach { case (cols, files) =>
      // the conversion scan reads with a COMPLETED schema when a key
      // column is missing from the sampled footers — a late-added
      // column deleted on before every file carries it (the
      // readTable lesson: inference samples one footer). Its type
      // comes from the DELETE file itself, which was stamped with
      // the table's types at write time; files that predate the
      // column read null, matching only null keys null-safely.
      def scanOf(paths: Option[Seq[String]]): DataFrame = {
        val evo = graft.sources.LakeEvolve.state(spark, root)
        val schema: Option[org.apache.spark.sql.types.StructType] = evo match {
          // evolved lake: the request schema already carries every
          // logical column (late-added ones included) plus the alias
          // names — and the eq keys bind current names only (a rename
          // refuses while its column has active eq deletes)
          case Some(st) =>
            Some(graft.sources.LakeEvolve.requestSchema(spark, root, st))
          case None =>
            // the presence/field probe reads the DATA files through
            // scanRoot (generation-tolerant, like the scan itself) —
            // a flipped lake's raw discovery would reject the mix.
            // NOT LogSync.table: its MOR plan opens every registered
            // delete file eagerly, so a probe during conversion would
            // die on the very entry a crashed group left unreadable
            // (the per-group crash-resume contract)
            val base = LogSync.scanRoot(spark, root,
              p => spark.read.option("basePath", root).parquet(p),
              identity, evolved = false).schema
            val missing = cols.filterNot(base.fieldNames.contains)
            if (missing.isEmpty) None
            else {
              val delSchema = spark.read.parquet(files.map(_.path): _*).schema
              Some(org.apache.spark.sql.types.StructType(
                base.fields ++ missing.map(c =>
                  org.apache.spark.sql.types.StructField(c,
                    delSchema(c).dataType, nullable = true))))
            }
        }
        val shape: org.apache.spark.sql.DataFrameReader =>
            org.apache.spark.sql.DataFrameReader =
          r => schema.map(r.schema).getOrElse(r)
        val meta: DataFrame => DataFrame =
          _.withColumn("__src", LogSync.normPath(col("_metadata.file_path")))
            .withColumn("__dfile", regexp_replace(col("_metadata.file_path"),
              "^file:/(?!/)", "file:///"))
            .withColumn("__dpos", col("_metadata.row_index"))
        // both arms generation-grouped (the readPathsGrouped/scanRoot
        // pair), like every other explicit-or-root read in DML
        val completed = paths match {
          case Some(ps) => LogSync.readPathsGrouped(spark, root, ps, shape, meta)
          case None => LogSync.scanRoot(spark, root,
            p => shape(spark.read.option("basePath", root)).parquet(p),
            meta, evolved = evo.isDefined)
        }
        evo.map(st => graft.sources.LakeEvolve.project(completed, st))
          .getOrElse(completed)
      }
      // candidate set: manifest-pruned (seq + bloom) BEFORE the scan.
      // Under the cap the paths cross the driver and the read OPENS
      // ONLY THEM — real I/O pruning, the same bounded-planning
      // discipline as DML's affected-file list (a root scan joined on
      // a derived metadata column cannot prune file listings, so it
      // would READ the whole lake and discard rows after the fact).
      // Past the cap — a conversion backlog touching more files than
      // a DML commit may plan — the root-scan + broadcast-or-shuffle
      // join fallback keeps the driver safe at full-read cost.
      val cand = convertCandidateRel(spark, root, cols, files)
      val candCount = cand.count()
      val explicitCap = spark.conf
        .getOption("graft.lake.convertExplicitPathCap").map(_.toLong)
        .getOrElse(DefaultMaxRewriteFiles.toLong)
      val delSeqRel = files.map(e => (LogSync.registeredKeyStr(e.path), e.seq))
        .toDF("__eqd_file", "__eq_seq")
      val delRows = spark.read.parquet(files.map(_.path): _*)
        .withColumn("__eqd_src", LogSync.normPath(col("_metadata.file_path")))
        .join(broadcast(delSeqRel), col("__eqd_src") === col("__eqd_file"))
        .select(cols.map(c => col(c).as(s"__eqd_$c")) :+ col("__eq_seq"): _*)
      val cond = cols.map(c => col(c) <=> col(s"__eqd_$c"))
        .reduce(_ && _) && col("__data_seq") < col("__eq_seq")
      val scan =
        if (candCount == 0) None // nothing these deletes can affect
        else if (candCount <= explicitCap) {
          val rows = cand.collect()
          val seqRel = rows.map(r =>
              (LogSync.registeredKeyStr(r.getString(0)), r.getLong(1))).toSeq
            .toDF("__seq_src", "__data_seq")
          Some(scanOf(Some(rows.map(_.getString(0)).toSeq))
            .join(broadcast(seqRel), col("__src") === col("__seq_src")))
        } else {
          val candRel = cand.select(
            LogSync.registeredKey(col("path")).as("__seq_src"), col("__data_seq"))
          val sized =
            if (candCount <= LogSync.seqBroadcastRowCap(spark))
              broadcast(candRel)
            else candRel
          Some(scanOf(None).join(sized, col("__src") === col("__seq_src")))
        }
      // semi-join: a row deleted by SEVERAL eq commits records once;
      // a row an earlier position delete already hid may re-record —
      // harmless, deletes are a set union to every reader
      scan.foreach { s =>
        val (_, n) = writePositionDeletes(spark, root,
          s.join(delRows, cond, "left_semi"), op = "fold")
        posRows += n
      }
      // PER-GROUP commit point: retire this group's eq entries as
      // soon as its position deletes are registered. A crash
      // mid-conversion then leaves already-converted groups RETIRED —
      // a rerun re-processes only the genuinely unconverted ones,
      // instead of re-scanning every group and appending a duplicate
      // position-delete batch per retry (reads stayed correct either
      // way — deletes are a set union — but repeated crash/retry
      // cycles would grow the registry and the per-read anti-join
      // input unboundedly until a fold ran). The inert case
      // (candCount == 0, no position rows to write) retires too: the
      // group's deletes can affect nothing.
      LogSync.tombstoneDeleteEntries(spark, root, files.map(_.path))
    }
    (eqs.length, posRows)
  }

  /** Maintenance: tombstone delete files whose referenced data files
    * are ALL gone from the active manifest (their rows are inert —
    * compaction or CoW DML already materialized or superseded them).
    * O(active delete rows); physical removal happens via
    * [[LogCompact.vacuum]] after the grace period. Returns the number
    * of delete files tombstoned.
    */
  def vacuumDeletes(spark: SparkSession, root: String): Int = {
    import spark.implicits._
    val entries = LogSync.posDeleteEntries(spark, root)
    if (entries.isEmpty) return 0
    val active = LogSync.activeManifest(spark, root)
      .select(LogSync.registeredKey(col("path")).as("__active"))
    // the semi-join's build side is FILE-cardinality (one row per
    // active registered file) — size-guarded like every other
    // manifest-derived relation: broadcast under the row cap, shuffle
    // past it
    val sizedActive = LogSync.sizedKeepSet(spark, LogSync.manifestRows(spark, root), active)
    // a delete FILE stays live while ANY of its target files is active
    val live = spark.read.parquet(entries.map(_.path): _*)
      .select(LogSync.normPath(col("file_path")).as("__target"),
        LogSync.normPath(col("_metadata.file_path")).as("__del"))
      .join(sizedActive, col("__target") === col("__active"), "left_semi")
      .select(col("__del")).distinct().as[String].collect().toSet
    val dead = entries.map(_.path).filterNot(p => live(LogSync.registeredKeyStr(p)))
    if (dead.isEmpty) return 0
    LogSync.tombstoneDeleteEntries(spark, root, dead)
    dead.size
  }

  /** Delete every registered row where `predicate` is TRUE (NULL keeps
    * the row, like SQL DELETE). Only files containing at least one
    * matching row are rewritten.
    */
  def delete(spark: SparkSession, root: String, predicate: Column,
             maxRewriteFiles: Int = DefaultMaxRewriteFiles): DmlStats = {
    val (files, nFiles, n) =
      affectedAgg(tableWithSrc(spark, root).filter(predicate), maxRewriteFiles)
    requireBounded(nFiles, maxRewriteFiles, "DELETE")
    if (files.isEmpty) return DmlStats(0, 0, 0)
    val (removed, added) = commit(spark, root, files,
      complement = _.filter(!coalesce(predicate, lit(false))), inserts = None)
    DmlStats(removed, added, n)
  }

  /** MERGE: rows matching `updates` on `keys` are replaced by the
    * update row; update rows with no match are inserted. `updates` must
    * carry the table's columns (including the partition-layout
    * columns). When `useIndex` is set and a [[LakeIndex]] sidecar
    * exists on `keys.head`, the affected-file search probes the bloom
    * sidecar instead of scanning the lake — under the house guards:
    * the batch's distinct key hashes cross the driver LIMIT-bounded
    * by [[indexProbeMaxKeys]] (+1 to detect overflow, one job — no
    * separate count), and the bloom-positive path list likewise by
    * [[indexProbePathCap]] (a key-dense batch or a false-positive
    * storm makes it manifest-cardinality); past either cap the search
    * falls back to the full scan path (= `useIndex = false`), which
    * is always correct — the index only ever prunes.
    */
  private def requireBounded(nFiles: Long, bound: Int, op: String): Unit =
    if (nFiles > bound) throw new IllegalStateException(
      s"$op matches $nFiles files > maxRewriteFiles=$bound: this is a lake-scale " +
        "rewrite, not a row-level commit. Chunk the predicate (one partition " +
        "range per commit), compact first, or raise maxRewriteFiles explicitly.")

  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keys: Seq[String], useIndex: Boolean = false,
             maxRewriteFiles: Int = DefaultMaxRewriteFiles): DmlStats = {
    import spark.implicits._
    require(keys.nonEmpty, "upsert needs at least one key column")
    val dataCols = LogSync.table(spark, root).columns
    require(dataCols.forall(updates.columns.contains),
      "updates must carry all table columns; missing " +
        dataCols.filterNot(updates.columns.contains).mkString(","))
    val ups = updates.select(dataCols.map(col): _*).cache()
    try {
      val keyRel = keyRelSized(ups.select(keys.map(col): _*).distinct())
      // both driver crossings of the index probe are LIMIT-GUARDED:
      // each collects at most cap+1 rows in ONE job (not the
      // count-then-collect double job — the probe must stay cheaper
      // than the scan it prunes), so the driver never receives more
      // than the guard allows; a full cap+1 batch means over-cap →
      // the scan path, never a truncation
      def overCap(cap: Long): Int = math.min(cap + 1, Int.MaxValue.toLong).toInt
      val candidates = if (useIndex) {
        val ic = keys.head
        graft.functions.VectorFunctions.register(spark)
        val maxKeys = indexProbeMaxKeys(spark)
        val hashes = ups.select(xxhash64(col(ic)).as("h")).distinct()
          .limit(overCap(maxKeys)).as[Long].collect()
        if (hashes.length > maxKeys)
          Some(tableWithSrc(spark, root))
        else {
          val pathCap = indexProbePathCap(spark)
          val paths = LogSync.activeManifest(spark, root)
            .join(spark.read.parquet(s"$root/_index/$ic"), Seq("path"), "left")
            .filter(col("bloom").isNull ||
              call_function("graft_bloom_any", col("bloom"), typedLit(hashes.toSeq)))
            .select("path")
            .limit(overCap(pathCap)).as[String].collect()
          if (paths.length > pathCap)
            Some(tableWithSrc(spark, root))
          else if (paths.isEmpty) None
          else {
            val entries = LogSync.deleteEntries(spark, root)
            Some(LogSync.applyDeletes(spark,
              LogSync.readPathsGrouped(spark, root, paths.toSeq, identity,
                df => {
                  val s = df.withColumn("__src",
                    LogSync.normPath(col("_metadata.file_path")))
                  if (entries.exists(!_.isEq))
                    s.withColumn("__pos", col("_metadata.row_index"))
                  else s
                }),
              root, entries))
          }
        }
      } else Some(tableWithSrc(spark, root))
      val (files, nFiles, matched) = candidates match {
        case None => (Seq.empty[String], 0L, 0L)
        case Some(base) =>
          affectedAgg(base.join(keyRel, keys, "left_semi"), maxRewriteFiles)
      }
      requireBounded(nFiles, maxRewriteFiles, "MERGE")
      // replace = rewrite matched files WITHOUT the matched keys' rows
      // (an anti-join — the key set lives in a DataFrame, not a
      // predicate); insert = append ALL update rows, replacements and
      // novel keys alike, as new files
      val (removed, added) = commit(spark, root, files,
        complement = _.join(keyRel, keys, "left_anti"),
        inserts = Some(ups))
      DmlStats(removed, added, matched)
    } finally ups.unpersist()
  }

  /** RETENTION / TTL delete on the time axis: remove every row whose
    * `timestamp` falls in `[from, until)` (unbounded below when `from`
    * is None), with the cost model a 100 TB lake needs:
    *
    *  - files whose manifest zone-map PROVES every row is in range
    *    (`min_ts >= from && max_ts < until`, and `null_ts = 0` —
    *    min/max are blind to null timestamps, and a null never matches
    *    a range predicate, so a file with null-ts rows is never
    *    all-inside) are dropped METADATA-ONLY: their manifest rows are
    *    tombstoned in one swap, no data byte is read or written —
    *    Iceberg's metadata-delete fast path. The whole decision is a
    *    manifest-sized job; the driver never holds the dropped paths,
    *    so a month-wide drop over millions of files is one swap.
    *  - BOUNDARY files (zone-map overlaps the range but can't prove
    *    containment, or stat-less pre-upgrade files) go through the
    *    row-level MOR path: ONLY those files are scanned, matched rows
    *    land as position-delete files ([[deleteMor]]'s shape). On a
    *    time-clustered lake a retention cutoff leaves a handful of
    *    straddling files, so the scan is O(boundary), not O(lake).
    *
    * Crash story: boundary position deletes commit first, the
    * metadata tombstone swap is the commit point for the drops —
    * either half alone leaves a consistent table and a rerun
    * completes the other (the operation is idempotent: dropped files
    * are no longer active, already-deleted positions re-match
    * nothing).
    *
    * Interplay: tombstones keep time travel intact until vacuum
    * ([[LogSync.tableAsOf]] before the drop still sees the rows);
    * pending MOR deletes against dropped files become inert and fold
    * away via [[vacuumDeletes]]; [[graft.sources.Rollup.refresh]]
    * detects the tombstones and rebuilds; a fresh
    * [[IcebergExport.export]] restates the chain without the dropped
    * entries. Like CoW [[delete]] (and unlike [[deleteMor]]/
    * [[deleteEq]]), drops are restatement-class for CDC consumers:
    * [[LogSync.deletesSince]] does not surface them.
    *
    * Returns DmlStats(filesRemoved = files dropped metadata-only,
    * filesAdded = boundary delete files written, rowsChanged =
    * dropped-file PHYSICAL rows (write-time manifest stat — counts
    * rows a pending MOR delete already hid, documented upper bound) +
    * boundary rows deleted).
    */
  def deleteRange(spark: SparkSession, root: String,
                  from: Option[java.sql.Timestamp],
                  until: java.sql.Timestamp,
                  maxBoundaryFiles: Int = DefaultMaxRewriteFiles): DmlStats = {
    import spark.implicits._
    val lowerFull = from.map(ts => col("min_ts") >= lit(ts)).getOrElse(lit(true))
    val lowerOverlap = from.map(ts => col("max_ts") >= lit(ts)).getOrElse(lit(true))
    val isFull = col("min_ts").isNotNull && col("null_ts") === 0 &&
      lowerFull && col("max_ts") < lit(until)
    val mayOverlap = col("min_ts").isNull ||
      (lowerOverlap && col("min_ts") < lit(until))
    val active = LogSync.activeManifest(spark, root)

    // boundary files: may hold in-range rows, not provably all-inside.
    // Driver-resident list (bounded): on a time-clustered lake these
    // are the straddling files at the cutoff, not the lake. The count
    // guards BEFORE the collect — the refusal happens before the
    // crossing it refuses (affectedAgg's discipline).
    val boundaryRel = active.filter(mayOverlap && !isFull).select("path")
    requireBounded(boundaryRel.count(), maxBoundaryFiles, "RETENTION boundary")
    val boundary = boundaryRel.as[String].collect()
    val (delFiles, delRows) =
      if (boundary.isEmpty) (0L, 0L)
      else {
        // evolved lakes: explicit request schema + alias fold, so a
        // pre-rename boundary file's time values still resolve; the
        // row predicate binds the time axis's CURRENT name
        val evoSt = LakeEvolve.state(spark, root)
        // generation-grouped (readPathsGrouped): retention boundary
        // files can straddle a layout flip
        val raw0 = LogSync.readPathsGrouped(spark, root, boundary.toSeq,
          r => evoSt.map(st =>
            r.schema(LakeEvolve.requestSchema(spark, root, st))).getOrElse(r),
          _.withColumn("__src", LogSync.normPath(col("_metadata.file_path")))
            .withColumn("__dfile", regexp_replace(col("_metadata.file_path"),
              "^file:/(?!/)", "file:///"))
            .withColumn("__dpos", col("_metadata.row_index")))
        val raw = evoSt.map(st => LakeEvolve.project(raw0, st)).getOrElse(raw0)
        val live = LogSync.applyDeletes(spark, raw, root,
          LogSync.deleteEntries(spark, root))
        val ts = col(LakeEvolve.timeAxisOf(evoSt))
        val pred = from.map(f => ts >= lit(f))
          .getOrElse(lit(true)) && ts < lit(until)
        writePositionDeletes(spark, root, live.filter(pred))
      }

    // the metadata-only drop: tombstone every provably-all-inside
    // active file in ONE manifest swap. count/sum first (two numbers
    // to the driver — never the paths).
    val aggRow = active.filter(isFull)
      .agg(count(lit(1)), coalesce(sum(col("rows")), lit(0L))).head()
    val (nDrop, droppedRows) = (aggRow.getLong(0), aggRow.getLong(1))
    if (nDrop > 0) {
      val baseVersion = LogSync.manifestVersion(spark, root)
      val before = LogSync.manifestDf(spark, root)
      LogSync.swapManifest(spark, root,
        before.withColumn("removed_at",
          when(col("removed_at").isNull && isFull, current_timestamp())
            .otherwise(col("removed_at"))),
        Some(baseVersion))
    }
    DmlStats(nDrop, delFiles, droppedRows + delRows)
  }

  /** Expire everything strictly before `cutoff` — the retention-policy
    * entry point: `expireBefore(spark, root, now - 90d)`.
    */
  def expireBefore(spark: SparkSession, root: String,
                   cutoff: java.sql.Timestamp): DmlStats =
    deleteRange(spark, root, None, cutoff)
}
