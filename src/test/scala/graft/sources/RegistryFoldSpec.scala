package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The driver fold and its distributed fallback. Under
  * `graft.lake.registryDriverCacheMaxBytes` the registry is served as
  * driver-held rows ([[LogSync.registryRows]]) and sync's fresh diff,
  * [[LogSync.nextSeq]], [[LogSync.highWaterMark]],
  * [[LogSync.deleteEntries]], [[LogSync.manifestRowCount]] and
  * [[LogSync.stateToken]] fold over them; at a cap of 0 every registry
  * read takes the distributed path. The same mutation sequence runs on
  * two lakes in lockstep, one per path, and must leave the same
  * manifests, marks, delete entries, row counts and state tokens. Also pins the one data-file
  * walk against the recursive-listing rule it replaced, and the job
  * count of a sync round and a follower's poll.
  */
class RegistryFoldSpec extends graft.SparkSpec {

  private val CapKey = "graft.lake.registryDriverCacheMaxBytes"

  private def atCapZero[A](f: => A): A = {
    spark.conf.set(CapKey, "0")
    try f finally spark.conf.unset(CapKey)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // rows [from, until) in two service partitions; each of the `files`
  // write tasks leaves one file per partition. `lake` writes them as
  // the lake writers do (µs timestamps, footer-statted), else as a
  // plain session write (INT96).
  private def append(root: String, from: Long, until: Long, files: Int = 2,
                     lake: Boolean = false): Unit = {
    val rows = spark.range(from, until, 1, files).select(
      timestamp_millis(lit(1700000000000L) + col("id") * 60000).as("timestamp"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("service_name"),
      lit("INFO").as("severity_text"),
      concat(lit("s"), col("id")).as("span_id"),
      lit("x").as("body"))
    (if (lake) LogWriter.lakeWriter(rows) else rows.write)
      .mode("append").partitionBy("service_name").parquet(root)
  }

  /** The recursive-listing rule `listDataFiles` replaced, verbatim. */
  private def recursiveRule(dir: String): Seq[String] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val it = fs.listFiles(base, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      val rel = fs.makeQualified(base).toUri.relativize(f.getPath.toUri).getPath
      if (rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_")))
        out += f.getPath.toString
    }
    out.result()
  }

  test("the data-file walk keeps exactly what the recursive listing rule kept") {
    val root = Files.createTempDirectory("graft_walk")
    val kept = Seq("a.parquet", ".hidden/a.parquet", "day=1/hour=01/p.parquet",
      "day=2/x.parquet/part-0.parquet", "svc=_a/r.parquet", "x_/y.parquet")
    val skipped = Seq(".a.parquet.crc", "notes.txt", "a.parquet.tmp", "_x.parquet",
      "_SUCCESS", "_index/trace_id/i.parquet", "_manifest_v2/part-0.parquet",
      "_manifest_v2/.part-0.parquet.crc", "_deletes/d.parquet",
      "day=1/hour=01/.p.parquet.crc", "day=1/hour=02/_tmp/q.parquet", "day=2/_y.parquet")
    (kept ++ skipped).foreach { rel =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
    }
    val dir = root.toString
    val listed = LogSync.listParquet(spark, dir)
    assert(listed.sorted == recursiveRule(dir).sorted)
    assert(listed.map(p => new Path(p).toUri.getPath.stripPrefix(dir + "/")).sorted ==
      kept.sorted)
    // a missing root and a file root list nothing, as before
    assert(LogSync.listParquet(spark, s"$dir/missing").isEmpty)
    assert(recursiveRule(s"$dir/missing").isEmpty)
    assert(LogSync.listParquet(spark, s"$dir/a.parquet") == recursiveRule(s"$dir/a.parquet"))
  }

  test("driver fold and distributed fallback leave identical manifests, marks and sequences") {
    val a = tmp("graft_fold_a")
    val b = tmp("graft_fold_b") // every op on b runs at cap 0

    // files differ in name between the lakes (rewrites draw UUIDs), so a
    // manifest path is compared as (dir below the root, the file's keys)
    val keysOf = scala.collection.mutable.Map.empty[String, String]
    def canonical(root: String): Seq[(String, Long, String, Int, Option[Int])] = {
      val rows = LogSync.manifest(spark, root)
        .select("path", "seq", "op", "registered_at", "removed_at").collect().toSeq
      val stamps = (rows.map(_.getTimestamp(3)) ++ rows.flatMap(r => Option(r.getTimestamp(4))))
        .distinct.sortWith(_.before(_))
      val rank = stamps.zipWithIndex.toMap
      val rootPath = new Path(root).toUri.getPath
      def local(p: String) = new Path(p).toUri.getPath
      val unread = rows.map(_.getString(0)).filterNot(p => keysOf.contains(local(p)))
      if (unread.nonEmpty)
        spark.read.schema("span_id string").parquet(unread: _*)
          .groupBy(col("_metadata.file_path"))
          .agg(concat_ws(",", array_sort(collect_list(col("span_id")))))
          .collect().foreach(r => keysOf(local(r.getString(0))) = r.getString(1))
      rows.map { r =>
        val p = r.getString(0)
        val keys = keysOf(local(p))
        val dir = new Path(p).getParent.toUri.getPath.stripPrefix(rootPath)
        (s"$dir:$keys", r.getLong(1), r.getString(2), rank(r.getTimestamp(3)),
          Option(r.getTimestamp(4)).map(rank))
      }.sorted
    }
    def marks(root: String) = (LogSync.highWaterMark(spark, root), LogSync.nextSeq(spark, root))
    // after every op: the registry-derived reads agree between the two
    // lakes (delete files are named by UUIDs, so entries compare without
    // their paths), between both paths over lake a's one state, and at
    // every registry stamp recorded so far; and a quiescent re-read of
    // lake a starts no job
    val stamps = Map(a -> Seq.newBuilder[Option[java.sql.Timestamp]],
      b -> Seq.newBuilder[Option[java.sql.Timestamp]])
    def stampOf(r: String) =
      (LogSync.highWaterMark(spark, r) ++ LogSync.deleteHighWaterMark(spark, r))
        .maxByOption(_.getTime)
    def entries(r: String, asOf: Option[java.sql.Timestamp]) =
      LogSync.deleteEntries(spark, r, asOf)
    def canonEntries(r: String, asOf: Option[java.sql.Timestamp]) =
      entries(r, asOf).map(e => (e.rows, e.kind, e.seq, e.eqCols.mkString(","), e.op)).sorted
    def token(r: String) = {
      val t = LogSync.stateToken(spark, r)
      (t.manifest, t.deletes)
    }
    def agree(): Unit = {
      stamps(a) += stampOf(a)
      stamps(b) += atCapZero(stampOf(b))
      val (sa, sb) = (stamps(a).result().flatten.distinct, stamps(b).result().flatten.distinct)
      assert(sa.length == sb.length)
      assert(canonEntries(a, None) == atCapZero(canonEntries(b, None)))
      sa.zip(sb).foreach { case (ta, tb) =>
        assert(canonEntries(a, Some(ta)) == atCapZero(canonEntries(b, Some(tb))), ta)
      }
      assert(LogSync.manifestRowCount(spark, a) ==
        atCapZero(LogSync.manifestRowCount(spark, b)))
      // the token's manifest version and active count; its newest stamp
      // and delete digest name lake-specific instants and paths
      def versionAndActive(r: String) = token(r)._1.split(':').take(2).toSeq
      assert(versionAndActive(a) == atCapZero(versionAndActive(b)))
      assert(entries(a, None) == atCapZero(entries(a, None)))
      // on one lake, also at every registration and removal instant of
      // its delete registry: the fold's boundaries are the SQL filter's
      val instants = LogSync.deleteManifestDf(spark, a)
        .select("registered_at", "removed_at").collect()
        .flatMap(r => Seq(r.getTimestamp(0), r.getTimestamp(1))).filter(_ != null)
      (sa ++ instants).distinct.foreach { ts =>
        assert(entries(a, Some(ts)) == atCapZero(entries(a, Some(ts))), ts)
      }
      assert(LogSync.manifestRowCount(spark, a) ==
        atCapZero(LogSync.manifestRowCount(spark, a)))
      assert(token(a) == atCapZero(token(a)))
      val jobs = jobsOf {
        entries(a, None); LogSync.manifestRowCount(spark, a); token(a)
      }
      assert(jobs.isEmpty, jobs.mkString("\n", "\n", ""))
    }
    def both[A](f: String => A): (A, A) = {
      val out = (f(a), atCapZero(f(b)))
      agree()
      out
    }
    def syncBoth(expect: Int): Unit = {
      val (na, nb) = both(LogSync.sync(spark, _))
      assert(na == expect && nb == expect)
    }

    both(append(_, 0, 40))
    syncBoth(4)
    syncBoth(0)
    both(LogCompact.compact(spark, _))
    both(LakeDml.deleteMor(spark, _, col("span_id") === "s8"))
    both(append(_, 40, 50, files = 1))
    syncBoth(2)
    both(r => LakeDml.deleteEq(spark, r, spark.range(1).select(lit("s12").as("span_id"))))
    assert(LogSync.deleteEntries(spark, a).count(_.isEq) == 1)
    // conversion + fold: the delete registry swaps versions
    both { r => LakeDml.convertEqDeletes(spark, r); LakeDml.compactDeletes(spark, r) }
    val folded = LogSync.deleteEntries(spark, a)
    assert(folded.length == 1 && !folded.head.isEq)
    val manifestA = canonical(a)
    assert(manifestA == atCapZero(canonical(b)))
    // the durable allocation mark bounds nextSeq from below and would
    // hide a wrong registry max: drop it, as on a lake written before the
    // mark existed, so the two registries' maxes decide
    val fs = new Path(a).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(a, b).foreach(r => assert(fs.delete(LogSync.seqHwmPath(r), false)))
    val deleteSeqs = LogSync.deleteManifestDf(spark, a).select("seq").collect().map(_.getLong(0))
    assert(deleteSeqs.nonEmpty)
    // both paths over ONE lake state agree exactly
    val (hwmA, seqA) = marks(a)
    assert(seqA == (manifestA.map(_._2) ++ deleteSeqs).max + 1)
    assert(hwmA.isDefined && atCapZero(marks(a)) == ((hwmA, seqA)))
    val (hwmB, seqB) = atCapZero(marks(b))
    assert(marks(b) == ((hwmB, seqB)) && seqA == seqB)
    val (rowsA, rowsB) = both(r => LogSync.table(spark, r).select("span_id")
      .collect().map(_.getString(0)).sorted.toSeq)
    assert(rowsA == rowsB && rowsA.length == 48)
  }

  private def jobsOf(f: => Any): Seq[String] = graft.SparkJobs.during(spark)(f)._2

  test("a follower's repeat poll starts no job; a one-file sync starts the measured jobs") {
    val root = tmp("graft_jobs")
    append(root, 0, 10, lake = true)
    LogSync.sync(spark, root)
    LogSync.highWaterMark(spark, root) // collects the registry once
    assert(jobsOf(LogSync.highWaterMark(spark, root)).isEmpty)
    append(root, 10, 11, files = 1, lake = true)
    val jobs = jobsOf(assert(LogSync.sync(spark, root) == 1))
    // The registry reads, the fresh diff, nextSeq and highWaterMark fold
    // over the warm driver-held rows and start none, and the new file's
    // stats come from its footer on the driver. What is left is the
    // write of the one manifest part (a LocalRelation through
    // coalesce(1)).
    assert(jobs.length == 1, jobs.mkString("\n", "\n", ""))
    // the sync wrote its rows through to the held registry: the next
    // watermark poll folds them without collecting the manifest again
    val polled = jobsOf(LogSync.highWaterMark(spark, root))
    assert(polled.isEmpty, polled.mkString("\n", "\n", ""))
  }

  test("a follower's first poll after a sync reads the new files in one job") {
    val root = tmp("graft_jobs_since")
    append(root, 0, 10, lake = true)
    LogSync.sync(spark, root)
    val mark = LogSync.highWaterMark(spark, root).get
    LogSync.tableSince(spark, root, mark).collect() // a follower holds the registry
    append(root, 10, 13, files = 1, lake = true)
    LogSync.sync(spark, root)
    // The held rows fold into the two new paths and the root scan's
    // schema is derived on the driver, so no listing, inference or
    // keep-set job runs: the one job is the read of the new files.
    val (ids, jobs) = graft.SparkJobs.during(spark)(
      LogSync.tableSince(spark, root, mark).select("span_id").collect().map(_.getString(0)))
    assert(ids.sorted.toSeq == Seq("s10", "s11", "s12"))
    assert(jobs.length == 1, jobs.mkString("\n", "\n", ""))
  }
}
