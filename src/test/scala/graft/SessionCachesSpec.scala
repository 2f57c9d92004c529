package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.sources.{FixtureBuild, IcebergExport, LogSync, Tables}

/** The two build-once mechanisms: [[SessionCaches.Memo]] (session
  * memos) and [[FixtureBuild]] (marker-idempotent /tmp fixtures).
  * Cheap by design — no contract lake is built here.
  */
class SessionCachesSpec extends SparkSpec {

  test("memo: builds once per (session, key); a new session gets its own entry") {
    val builds = new AtomicInteger
    val memo = SessionCaches.memo[String, Int]()
    assert(memo(spark, "a")(builds.incrementAndGet()) == 1)
    assert(memo(spark, "a")(builds.incrementAndGet()) == 1)
    assert(memo(spark, "b")(builds.incrementAndGet()) == 2)
    val other = spark.newSession()
    val tracked = SessionCaches.trackedSessions
    assert(memo(other, "a")(builds.incrementAndGet()) == 3)
    assert(SessionCaches.trackedSessions == tracked + 1)
    assert(SessionCaches.pendingCleanups(other) == 1)
    assert(memo(spark, "a")(builds.incrementAndGet()) == 1)
    assert(builds.get == 3)
    SessionCaches.endSession(other)
    assert(SessionCaches.trackedSessions == tracked)
  }

  test("memo: a build may call another memo") {
    val inner = SessionCaches.memo[String, Int]()
    val outer = SessionCaches.memo[String, Int]()
    assert(outer(spark, "k")(inner(spark, "k")(20) + 1) == 21)
    assert(inner(spark, "k")(-1) == 20)
  }

  test("memo: cleanup drops every entry of the session and runs release once each") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val memo = SessionCaches.memo[String, Int](v => { released.add(v); () })
    val s = spark.newSession()
    memo(s, "a")(7)
    memo(s, "b")(8)
    memo(s, "a")(9)
    assert(SessionCaches.pendingCleanups(s) == 2)
    SessionCaches.endSession(s)
    assert(released.toArray.toSeq.map(_.asInstanceOf[Int]).sorted == Seq(7, 8))
    assert(SessionCaches.pendingCleanups(s) == 0)
    assert(memo(s, "a")(10) == 10, "a released entry must rebuild")
    SessionCaches.endSession(s)
  }

  test("memo.refresh: rebuilds on a new state, keeps one entry and one cleanup") {
    val builds = new AtomicInteger
    val memo = SessionCaches.memo[String, (Int, Int)]()
    val s = spark.newSession()
    def at(state: Int): (Int, Int) =
      memo.refresh(s, "root")(_._1 == state)((state, builds.incrementAndGet()))
    assert(at(1) == ((1, 1)))
    assert(at(1) == ((1, 1)))
    assert(at(2) == ((2, 2)))
    assert(at(3) == ((3, 3)))
    assert(at(3) == ((3, 3)))
    assert(builds.get == 3)
    assert(SessionCaches.pendingCleanups(s) == 1)
    SessionCaches.endSession(s)
  }

  test("signature-validated lake memos register once per lake, not once per sync round") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("graft_memo_rounds").toString
    def land(i: Int): Unit = {
      Tables.events(s, sf).filter(col("event_id") % 3 === i)
        .select(col("ts").as("timestamp"), lit(s"s$i").as("service_name"),
          col("event_type").as("severity_text"),
          concat(lit(s"s$i-"), col("event_id")).as("span_id"),
          col("props").as("body"))
        .write.mode("append").partitionBy("service_name").parquet(root)
      LogSync.sync(s, root)
    }
    def read(): Long = {
      IcebergExport.ensureExport(s, root)
      IcebergExport.exportFieldIds(s, root)
      LogSync.table(s, root).count()
    }
    land(0)
    val first = read()
    val pending = SessionCaches.pendingCleanups(s)
    assert(pending > 0)
    var prev = first
    (1 to 2).foreach { i =>
      land(i)
      val n = read()
      assert(n > prev, "each round must land new rows")
      prev = n
      assert(SessionCaches.pendingCleanups(s) == pending,
        s"round $i registered new cleanups")
    }
    assert(prev == Tables.events(s, sf).count())
    SessionCaches.endSession(s)
  }

  test("FixtureBuild: one build per key; a fresh instance reuses a marked root; " +
       "an unmarked root is wiped and rebuilt") {
    val prefix = s"graft_fixturespec_${System.nanoTime}"
    val builds = new AtomicInteger
    def build(root: String): Unit = {
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(root))
      Files.writeString(Paths.get(root, "data.txt"), "x")
    }
    val first = FixtureBuild(prefix)
    val root = first(spark, "k")(build)
    assert(first(spark, "k")(build) == root)
    assert(builds.get == 1)
    assert(new File(root, "_built").exists)
    assert(root == FixtureBuild.rootFor(prefix, "k"))

    // a fresh instance stands in for a new JVM: the marker is honored
    assert(FixtureBuild(prefix)(spark, "k")(build) == root)
    assert(builds.get == 1)

    val other = first(spark, "k2")(build)
    assert(other != root)
    assert(builds.get == 2)

    // a crashed build leaves no marker: its leftovers are wiped first
    assert(new File(root, "_built").delete())
    Files.writeString(Paths.get(root, "partial.txt"), "stale")
    assert(FixtureBuild(prefix)(spark, "k")(build) == root)
    assert(builds.get == 3)
    assert(!new File(root, "partial.txt").exists)
    assert(new File(root, "data.txt").exists && new File(root, "_built").exists)

    Seq(root, other).foreach { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
