package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LogSync

/** STREAMING INCREMENTAL CONSUMPTION of the lake — the readStream twin
  * of [[LogSync.tableSince]], closing the CDC loop the reference's
  * stack leaves to an external scheduler (Iceberg's streaming-read /
  * Delta's change-feed analog over the parquet manifest).
  *
  * The consumer's offset is a DURABLE CONSUMED-PATH SET, not a
  * timestamp: each poll anti-joins the manifest's append-commit rows
  * against the paths this consumer has already committed — the same
  * processed-set diff [[graft.sources.Rollup.refresh]] uses. (Since
  * round 18 the timestamp-mark surface is itself exact under normal
  * operation — registry commits are atomically visible with strictly
  * monotone stamps — so the path set's remaining edge over a
  * watermark is absorbing the lost-registration SELF-HEAL, whose
  * re-registered rows carry a fresh instant; see the heal contract
  * below.) Rewrite files (compaction, DML
  * copy-on-write) never qualify — their rows are not new — and an
  * appended file tombstoned after emission is not re-emitted: paths,
  * once consumed, stay consumed.
  *
  * Delivery: [[poll]] computes the increment, the caller processes it,
  * then [[commit]]s — a crash between them re-emits the uncommitted
  * rows on the next poll (at-least-once); a processor idempotent per
  * row/file — the standard `foreachBatch` contract — makes it
  * exactly-once, which the spec drives literally (two appends + a
  * compaction, with a replay, land each row exactly once).
  *
  * Scale shape: the poll is control-plane — one manifest read and one
  * anti-join on path; the data read is exactly the new files (cost ∝
  * arrival rate, never lake size) through the same semi-join-pruned
  * scan as every manifest reader.
  *
  * BOUNDED OFFSETS: the consumed store does NOT grow with total
  * appended files. At commit time, consumed paths whose manifest rows
  * were tombstoned by a rewrite FOLD into one WATERMARK row (the same
  * trim Kafka consumers apply to offset logs): the watermark is the
  * largest `removed_at` instant R such that EVERY append tombstoned at
  * or before R is consumed — those paths' membership is then implied
  * by their manifest tombstone instead of an explicit row, and [[poll]]
  * excludes watermark-covered candidates up front. Explicit rows
  * remain only for live appends and not-yet-consumed tombstoned ones,
  * so after steady append→consume→compact cycles the store tracks the
  * LIVE file count, not ingest history. The fold never changes
  * delivery semantics: a consumed path stays consumed (explicitly or
  * via the watermark), an unconsumed tombstoned append stays a
  * candidate (the watermark by construction stops short of it), and a
  * crash between process and commit replays identically (the store
  * only changes at commit).
  *
  * SELF-HEAL CONTRACT (SelfHealFollowSpec): when a sync registration
  * is lost to a racing manifest rewrite and re-registered by the next
  * sync round (LogSync's documented temporary-invisibility seam), the
  * follower surface is EXACTLY-ONCE BY PATH — the heal re-registers
  * the SAME paths, so a batch consumed before the loss never re-emits
  * (its paths are already in the offset set), and a batch lost before
  * consumption surfaces once, after the heal. CurateFollow /
  * PackFollow / DedupFollow consume [[LakeFollow]] increments and
  * inherit the contract. Only the TIMESTAMP-mark surfaces
  * ([[LogSync.tableSince]] pollers, the SQL `graft_changes` TVF) see
  * the documented duplicate — the fresh `registered_at` re-surfaces
  * healed rows past a stored mark; consumers on those surfaces dedup
  * by path or keep per-row idempotence.
  */
object LakeFollow {

  /** One polled increment: `rows` to process, and the consumed-set
    * version [[commit]] will advance to. `paths` is the increment's
    * file list (control-plane: this round's arrivals only).
    */
  final case class Increment(nextVersion: Int, paths: Seq[String], rows: DataFrame)

  // The consumed set lives in versioned `_consumed_v<N>` parquet dirs,
  // newest wins — swap-don't-mutate with an atomic rename, the same
  // crash-safe discipline as the manifest itself: a crashed commit
  // leaves a staging dir the next commit overwrites, never a
  // half-written current version.
  private val ConsumedRe = "_consumed_v([0-9]+)".r

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest committed consumed-set version (0 = nothing consumed). */
  def committedVersion(spark: SparkSession, marksDir: String): Int = {
    val p = new Path(marksDir)
    val fs = fsOf(spark, marksDir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).flatMap {
      _.getPath.getName match {
        case ConsumedRe(v) => Some(v.toInt)
        case _ => None
      }
    }.foldLeft(0)(math.max)
  }

  /** The raw consumed store: (explicit path rows, fold watermark).
    * Pre-watermark stores (single `path` column) read with wm = None.
    */
  private[graft] def consumedStore(spark: SparkSession,
                                   marksDir: String): (DataFrame, Option[java.sql.Timestamp]) = {
    import spark.implicits._
    val v = committedVersion(spark, marksDir)
    if (v == 0) (Seq.empty[String].toDF("path"), None)
    else {
      val df = LogSync.readRegistryParts(spark, s"$marksDir/_consumed_v$v")
      val paths = df.filter(col("path").isNotNull).select("path")
      val wm =
        if (df.columns.contains("wm"))
          Option(df.agg(max(col("wm"))).head().getTimestamp(0))
        else None
      (paths, wm)
    }
  }

  /** The FULL consumed path set — explicit rows plus the paths the
    * watermark implies (manifest appends tombstoned at or before it).
    * This is what corpus-reading consumers ([[DedupFollow]]) need: the
    * reconstruction is a manifest-scale read, but nothing this size is
    * ever STORED per consumer. Reconstructed paths read tombstoned
    * bytes, so the consumer-lag horizon is the vacuum retention —
    * the same contract as [[graft.sources.LogSync.tableSince]].
    */
  private[graft] def consumedPaths(spark: SparkSession, root: String,
                                   marksDir: String): DataFrame = {
    val (explicit, wm) = consumedStore(spark, marksDir)
    wm match {
      case None => explicit
      case Some(w) =>
        explicit.union(
          LogSync.manifest(spark, root)
            .filter((col("op").isNull || col("op") === "append") &&
              col("removed_at").isNotNull && col("removed_at") <= lit(w))
            .select(col("path"))).distinct()
    }
  }

  /** The rows this consumer has not yet committed: manifest append
    * rows minus the consumed set. The path list is MATERIALIZED once
    * (the increment must be frozen — a lazy plan re-read at commit
    * time could silently absorb files synced mid-poll and mark them
    * consumed unprocessed); `maxFilesPerPoll` bounds that driver
    * crossing, so the first poll of a pre-existing lake drains the
    * backlog over successive bounded increments instead of crossing
    * every path at once — Spark's own `maxFilesPerTrigger` discipline.
    */
  def poll(spark: SparkSession, root: String, marksDir: String,
           maxFilesPerPoll: Int = 10000): Option[Increment] = {
    import spark.implicits._
    val (explicitPaths, wm) = consumedStore(spark, marksDir)
    val appends = LogSync.manifest(spark, root)
      .filter(col("op").isNull || col("op") === "append")
    // watermark-covered rows (tombstoned at or before it) are consumed
    // by definition — excluded before the anti-join, so the explicit
    // set never needs to re-materialize them
    val candidates = wm match {
      case Some(w) => appends.filter(col("removed_at").isNull || col("removed_at") > lit(w))
      case None    => appends
    }
    val freshPaths = candidates
      .select(col("path"))
      .join(explicitPaths, Seq("path"), "left_anti")
      .orderBy(col("path")).limit(maxFilesPerPoll)
      .as[String].collect().toSeq
    if (freshPaths.isEmpty) None
    else {
      val keep = freshPaths.toDF("path")
        .select(LogSync.normPath(col("path")).as("__registered_path"))
      Some(Increment(committedVersion(spark, marksDir) + 1, freshPaths,
        LogSync.tableForPaths(spark, root, keep)))
    }
  }

  /** Durably mark `inc` consumed (call AFTER the batch landed): union
    * in `inc.paths`, FOLD every consumed tombstoned path covered by
    * the advanced watermark out of the explicit set (see the object
    * Scaladoc — this is what keeps the offset store bounded by live
    * files instead of ingest history), and write the result as the
    * next version via staging + atomic rename, then prune older
    * versions best-effort.
    */
  def commit(spark: SparkSession, root: String, marksDir: String, inc: Increment): Unit = {
    import spark.implicits._
    val nextVersion = inc.nextVersion
    val fs = fsOf(spark, marksDir)
    val (explicitPaths, wm) = consumedStore(spark, marksDir)
    val nextAll = explicitPaths.union(inc.paths.toDF("path")).distinct()
    // tombstoned appends not yet covered by the current watermark —
    // the fold frontier (manifest-scale aggregates: control-plane)
    val tomb = LogSync.manifest(spark, root)
      .filter((col("op").isNull || col("op") === "append") && col("removed_at").isNotNull)
      .filter(wm.map(w => col("removed_at") > lit(w)).getOrElse(lit(true)))
      .select(col("path"), col("removed_at"))
    // the watermark may advance to just below the EARLIEST unconsumed
    // tombstone (or past everything, if all are consumed)
    val minUnconsumed = tomb.join(nextAll, Seq("path"), "left_anti")
      .agg(min(col("removed_at"))).head().getTimestamp(0)
    val newWm: Option[java.sql.Timestamp] =
      (if (minUnconsumed == null)
         Option(tomb.agg(max(col("removed_at"))).head().getTimestamp(0))
       else
         Option(tomb.filter(col("removed_at") < lit(minUnconsumed))
           .agg(max(col("removed_at"))).head().getTimestamp(0))
      ).orElse(wm) // never regress: tombstones only accumulate
    val folded = newWm match {
      case Some(w) => nextAll.join(
        tomb.filter(col("removed_at") <= lit(w)).select("path"), Seq("path"), "left_anti")
      case None => nextAll
    }
    val pathRows = folded.select(col("path"), lit(null).cast("timestamp").as("wm"))
    val store = newWm match {
      case Some(w) => pathRows.unionByName(
        Seq(Tuple1(w)).toDF("wm").select(lit(null).cast("string").as("path"), col("wm")))
      case None => pathRows
    }
    val staging = new Path(s"$marksDir/_consumed_swap")
    fs.delete(staging, true)
    store.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    require(fs.rename(staging, new Path(s"$marksDir/_consumed_v$nextVersion")),
      s"consumed-set swap rename failed under $marksDir")
    (1 until nextVersion).foreach { old =>
      try fs.delete(new Path(s"$marksDir/_consumed_v$old"), true)
      catch { case _: java.io.IOException => () } // next commit retries
    }
  }

  /** The continuous form: a Structured Streaming query that polls per
    * micro-batch and hands each increment to `process(rows, increment)`
    * before committing it. The rate source is the trigger clock only —
    * offsets live in `marksDir`, so the query is restart-safe under
    * any checkpoint and two followers with separate marks dirs consume
    * the same lake independently.
    */
  def follow(spark: SparkSession, root: String, marksDir: String,
             checkpoint: String,
             process: (DataFrame, Increment) => Unit,
             pollsPerSecond: Int = 2): StreamingQuery = {
    require(checkpoint.nonEmpty, "LakeFollow.follow needs a checkpointLocation")
    spark.readStream.format("rate")
      .option("rowsPerSecond", pollsPerSecond.toString).load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        poll(spark, root, marksDir).foreach { inc =>
          process(inc.rows, inc)
          commit(spark, root, marksDir, inc)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
