package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MATERIALIZED-AGGREGATE maintenance over a registered
  * lake — the Iceberg-materialized-view / ClickHouse-AggregatingMergeTree
  * analog on raw parquet: a persisted rollup (here: rows per
  * (service_name, severity_text)) that [[refresh]] brings up to date by
  * aggregating ONLY the manifest files registered since the last
  * refresh and merging those partial counts into the stored rollup.
  *
  * Scale design: each refresh reads just the new files (count-sum
  * aggregates are self-mergeable — the whole point of keeping the
  * rollup additive), so steady-state maintenance cost is proportional
  * to data ARRIVAL rate, not lake size; a full recompute at 100 TB
  * reads everything, the rollup refresh reads the last sync's files.
  * The new-file path list crosses the driver like [[LogSync.sync]]'s
  * fresh set — bounded by one round's arrivals, control-plane sized.
  *
  * Versioned layout under `<root>/_rollup/` (underscore: invisible to
  * data scans): `v<N>/agg` (the rollup rows) + `v<N>/paths` (the files
  * folded in) + a tiny `_current` pointer file, written last — readers
  * only ever see a fully-written version (the manifest commit pattern
  * in miniature).
  *
  * ROW-LEVEL DELETES AND RESTATEMENTS are DETECTED, not trusted to a
  * caller reading scaladoc: [[refresh]] rebuilds from the live
  * (MOR-applied) table whenever (a) a path it previously folded is
  * now tombstoned — compaction or copy-on-write DML replaced a file
  * whose rows are already in the aggregate, so an incremental fold of
  * the replacement would double-count — or (b) the row-level delete
  * registry changed since the last fold — a [[LakeDml.deleteMor]] /
  * [[LakeDml.deleteEq]] retracted rows whose counts the aggregate
  * still carries, invisibly to any path diff. Each version records
  * the registry state it folded under (`dmltoken`); versions written
  * before the token existed rebuild once iff the registry is
  * non-empty. The rebuild is one aggregation over the live table —
  * the same order of work the compaction/DML that invalidated the
  * rollup already did; steady-state (append-only) refreshes stay
  * proportional to arrival.
  */
object Rollup {

  private def rollupRoot(root: String) = s"$root/_rollup"
  private def markerPath(root: String) = new Path(s"${rollupRoot(root)}/_current")

  private def currentVersion(spark: SparkSession, root: String): Int = {
    val p = markerPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
    }
  }

  private def writeMarker(spark: SparkSession, root: String, v: Int): Unit = {
    val p = markerPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // prune superseded versions with the pointer advance: each one
    // carries a FULL (agg + processed-paths) copy, so a per-batch
    // maintainRollup cadence would otherwise accumulate one per
    // micro-batch forever. A version is reclaimed only when BOTH
    // superseded beyond the previous one AND older than the vacuum
    // grace — a lazy reader that resolved `_current` keeps its files
    // for the same in-flight window replaced data files get, however
    // fast the pointer advances (version count stays bounded by
    // cadence × grace, not by stream lifetime). Crash mid-prune is
    // harmless: the next advance re-prunes.
    val VRe = "v([0-9]+)".r
    val graceMs = spark.conf.getOption("graft.rollup.pruneGraceMs")
      .map(_.toLong).getOrElse(LogCompact.DefaultVacuumGraceMs)
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(new Path(rollupRoot(root))).foreach { s =>
      s.getPath.getName match {
        case VRe(n) if n.toInt <= v - 2 && s.getModificationTime <= cutoff =>
          fs.delete(s.getPath, true); ()
        case _ => ()
      }
    }
  }

  private def writeText(spark: SparkSession, path: String, body: String): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readText(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }

  // the rollup's dimensions bind the FIELDS originally named
  // (service_name, severity_text); a LakeEvolve rename moves the
  // NAME, so every refresh/read resolves the current spelling through
  // the schema log instead of failing on the old one
  private val DimOrigins = Seq("service_name", "severity_text")

  private def dims(st: Option[LakeEvolve.EvoState]): Seq[String] =
    DimOrigins.map(n => st.map(_.currentName(n)).getOrElse(n))

  /** True when a MAINTAINED rollup under `root` aggregates by `name`
    * (its current spelling) — [[LakeEvolve.dropColumn]]'s guard
    * question: dropping a live dimension would not fail the drop
    * itself, only every later refresh/read, which is exactly the
    * silent-downstream failure the house guards exist to prevent.
    */
  private[sources] def dimensionBound(spark: SparkSession, root: String,
                                      name: String): Boolean =
    currentVersion(spark, root) > 0 &&
      dims(LakeEvolve.state(spark, root)).contains(name)

  /** Align a PERSISTED rollup's dimension columns with the lake's
    * current names: an agg written before a rename carries the old
    * spelling — same field, same values, one metadata-level
    * withColumnRenamed (state migration, no rebuild).
    */
  private def migrated(st: Option[LakeEvolve.EvoState],
                       df: DataFrame, cur: Seq[String]): DataFrame = {
    cur.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c)) acc
      else st.flatMap(s => (s.aliasesOf.getOrElse(c, Seq.empty) ++
          s.layoutOf.getOrElse(c, Seq.empty)).find(acc.columns.contains))
        .map(old => acc.withColumnRenamed(old, c)).getOrElse(acc)
    }
  }

  /** Fold every not-yet-processed registered file into the rollup;
    * returns how many files were processed. Idempotent: a refresh with
    * nothing new writes no version. REBUILDS instead of folding when
    * the lake restated files the rollup already counted or the
    * row-level delete registry moved (see class doc) — incremental
    * merging is only sound while history is append-only.
    */
  def refresh(spark: SparkSession, root: String): Int = {
    import spark.implicits._
    val cur = currentVersion(spark, root)
    val registered = LogSync.registeredDataPaths(spark, root)
    val processed =
      if (cur > 0) spark.read.parquet(s"${rollupRoot(root)}/v$cur/paths")
      else Seq.empty[String].toDF("path")
    // the delete-registry state this fold runs under: any registry
    // movement — a new deleteMor/deleteEq commit, a fold, a
    // compaction's tombstones — changes it
    val token = LogSync.stateToken(spark, root).deletes
    val foldedUnder =
      if (cur > 0) readText(spark, s"${rollupRoot(root)}/v$cur/dmltoken")
      else None
    // (a) a folded path was tombstoned (compaction / CoW DML replaced
    // it); (b) the delete registry moved since the fold (row-level
    // retractions the aggregate still counts). A pre-token version
    // (foldedUnder None) is trusted only against an EMPTY registry.
    // A FIRST refresh (cur == 0) over a lake that already holds
    // row-level deletes must also rebuild: the incremental fold reads
    // files RAW, would count the retracted rows, and would then
    // record the current token — making the overcount permanent.
    val emptyToken = LogSync.sha256Hex("")
    val restated =
      if (cur == 0) token != emptyToken
      else {
        val tombstoned = LogSync.manifestDf(spark, root)
          .filter(col("removed_at").isNotNull).select(col("path"))
        processed.join(tombstoned, Seq("path"), "left_semi").limit(1).count() > 0 ||
          foldedUnder.getOrElse(emptyToken) != token
      }
    val evoSt = LakeEvolve.state(spark, root)
    val dimCols = dims(evoSt)
    if (restated) {
      // rebuild from the LIVE table: MOR-applied (position AND
      // equality deletes), restatements resolved by the manifest
      val next = cur + 1
      LogSync.table(spark, root)
        .groupBy(dimCols.map(col): _*)
        .agg(count(lit(1)).cast("long").as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"${rollupRoot(root)}/v$next/agg")
      // the processed-paths bookkeeping writes DISTRIBUTED — a rebuild
      // happens against the whole lake, and collecting every active
      // path would be an O(lake) driver crossing (the incremental
      // branch below collects only this round's arrivals, which is
      // bounded by ingest rate); only the COUNT crosses the driver
      registered.select(col("path"))
        .write.mode(SaveMode.Overwrite).parquet(s"${rollupRoot(root)}/v$next/paths")
      writeText(spark, s"${rollupRoot(root)}/v$next/dmltoken", token)
      writeMarker(spark, root, next)
      return registered.count().toInt
    }
    val fresh = registered.join(processed, Seq("path"), "left_anti")
      .as[String].collect().toSeq
    if (fresh.isEmpty) return 0
    // evolved lakes fold fresh files under the request schema (a
    // pre-rename file registered late still resolves its dim values)
    val reader0 = spark.read.option("basePath", root)
    val freshRaw = evoSt.map(st =>
      reader0.schema(LakeEvolve.requestSchema(spark, root, st)))
      .getOrElse(reader0).parquet(fresh: _*)
    val freshSrc = evoSt.map(st => LakeEvolve.project(freshRaw, st))
      .getOrElse(freshRaw)
    val partial = freshSrc
      .groupBy(dimCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val merged =
      if (cur > 0)
        migrated(evoSt,
          spark.read.parquet(s"${rollupRoot(root)}/v$cur/agg"), dimCols)
          .unionByName(partial)
          .groupBy(dimCols.map(col): _*)
          .agg(sum(col("n")).as("n"))
      else partial.withColumn("n", col("n").cast("long"))
    val next = cur + 1
    merged.write.mode(SaveMode.Overwrite).parquet(s"${rollupRoot(root)}/v$next/agg")
    processed.select(col("path")).unionByName(fresh.toDF("path"))
      .write.mode(SaveMode.Overwrite).parquet(s"${rollupRoot(root)}/v$next/paths")
    writeText(spark, s"${rollupRoot(root)}/v$next/dmltoken", token)
    writeMarker(spark, root, next)
    fresh.length
  }

  /** The maintained rollup (latest version), ordered; dimension
    * columns surface under their CURRENT names (a rename between
    * refreshes migrates on read).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val cur = currentVersion(spark, root)
    require(cur > 0, s"no rollup under $root — run refresh first")
    val evoSt = LakeEvolve.state(spark, root)
    val dimCols = dims(evoSt)
    migrated(evoSt,
      spark.read.parquet(s"${rollupRoot(root)}/v$cur/agg"), dimCols)
      .select(dimCols.map(col) :+ col("n"): _*)
      .orderBy(dimCols.map(col): _*)
  }
}
