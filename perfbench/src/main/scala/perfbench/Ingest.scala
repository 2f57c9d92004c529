package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.serving.OtlpHttp
import graft.sources.LogSync

/** `ingest_live`: live OTLP ingest, then dashboard reads.
  *
  * Set-up lands a seeded lake through the batch path (parse → write →
  * sync), builds the `LakeIndex` trace-id and token sidecars and starts
  * `OtlpHttp`. Then, for the measured seconds, seeded OTLP/HTTP JSON
  * exports are POSTed over loopback in an open loop at one fixed
  * offered rate; the benchmark flushes the server on a fixed delay (the
  * collector's batch interval); a follower polls the manifest to stamp
  * when each acked row becomes visible. When every acked row is
  * visible, a dashboard client (a Grafana user waiting on each panel)
  * requests each of the seven panels once against the grown lake.
  */
object Ingest {
  /** The set-up lake: one landed chunk covering two days. */
  val InitialRows = 20000
  val InitialDays = 2
  /** Offered load: requests per second × records per request. */
  val Rate = 20
  val Batch = 50
  val FlushMillis = 1000L
  val PollMillis = 200L
  /** Rotations of the seven panels the reader requests. The first
    * `WarmRounds` compile each panel's plan and generated code and are
    * left out of the median panel latency: a median over cold and warm
    * requests together falls on the boundary between the two groups.
    */
  val WarmRounds = 1
  val ReadRounds = 2
  /** Wait this long after the last send for acked rows to become visible. */
  val DrainMillis = 30000L

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val initGen = new LogRows(InitialRows, ctx.seed, LogRows.EpochUs, InitialDays * LogRows.DayUs)
    val chunk = Lake.writeChunks(initGen, Seq(0 until InitialRows), ctx.dir("input"), 64).head
    // live rows come after the set-up lake's days and carry their own
    // job tokens, so they never change a panel's answer
    val liveGen = new LogRows(Rate * ctx.seconds * Batch, ctx.seed + 1,
      LogRows.EpochUs + InitialDays * LogRows.DayUs, LogRows.DayUs, jobPrefix = "live")
    val reqFile = ctx.dir("input").resolve("requests.json")
    val reqs = liveGen.envelopes(0 until liveGen.n, Batch)
    Files.write(reqFile, reqs.map(_._1).asJava)
    val bodies = Files.readAllLines(reqFile).asScala.map(_.getBytes("UTF-8")).toIndexedSeq
    val reqOfRow = new Array[Int](liveGen.n)
    reqs.zipWithIndex.foreach { case ((_, rows), r) => rows.foreach(reqOfRow(_) = r) }
    ctx.phase("inputs")

    val setups = (0 until Ctx.SetupReps).map { k =>
      val root = ctx.dir(s"lake$k").toString
      var server: OtlpHttp.Server = null
      val t = ctx.timed {
        Trace.span("setup") {
          Lake.land(spark, root, chunk)
          Lake.buildIndexes(spark, root)
          server = Trace.span("serving.start")(OtlpHttp.start(spark, root))
        }
      }
      if (k < Ctx.SetupReps - 1) { server.stop(); ctx.delete(root) }
      (t, root, server)
    }
    val (_, root, server) = setups.last
    ctx.phase("setup")

    val failures = new ConcurrentLinkedQueue[String]()
    val url = URI.create(s"http://127.0.0.1:${server.port}/v1/logs").toURL
    val dueNs = new Array[Long](bodies.size)
    val ackedReq = new Array[Boolean](bodies.size)
    val ackMs = new ConcurrentLinkedQueue[Double]()
    val lateMs = new ConcurrentLinkedQueue[Double]()
    val rejected = new AtomicInteger()
    val pendingMax = new AtomicInteger()
    val visibleNs = new Array[Long](liveGen.n)
    // (rows landed, seconds) of every flush that landed rows
    val flushes = new ConcurrentLinkedQueue[(Double, Double)]()
    val flushing = new AtomicBoolean(true)
    val following = new AtomicBoolean(true)

    def post(r: Int): Unit = Trace.span("serving.post", r) {
      lateMs.add((System.nanoTime() - dueNs(r)) / 1e6)
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.setFixedLengthStreamingMode(bodies(r).length)
      val os = c.getOutputStream
      os.write(bodies(r)); os.close()
      val code = c.getResponseCode
      Option(if (code < 400) c.getInputStream else c.getErrorStream).foreach { in =>
        in.readAllBytes(); in.close()
      }
      ackMs.add((System.nanoTime() - dueNs(r)) / 1e6)
      if (code == 200) ackedReq(r) = true
      else { rejected.incrementAndGet(); Trace.count("rejected", 1); failures.add(s"POST $r: HTTP $code") }
    }

    def flush(): Unit = Trace.span("serving.flush") {
      pendingMax.accumulateAndGet(server.pending, math.max)
      val f0 = System.nanoTime()
      val (rows, quarantined) = server.flush()
      Trace.count("rows", rows.toDouble)
      if (rows > 0) flushes.add((rows.toDouble, (System.nanoTime() - f0) / 1e9))
      if (quarantined > 0) failures.add(s"flush quarantined $quarantined payloads")
    }

    def loop(name: String, every: Long, live: AtomicBoolean)(body: => Unit): Thread = {
      val t = new Thread(() => {
        while (live.get()) {
          Thread.sleep(every)
          if (live.get()) try body catch { case e: Exception => failures.add(s"$name: $e") }
        }
      }, s"perfbench-$name")
      t.setDaemon(true); t.start(); t
    }

    var mark = LogSync.highWaterMark(spark, root).get
    val t0 = System.nanoTime() + 200000000L
    // the flusher keeps its cadence until every acked row is visible, so
    // the last rows wait for a flush like all the others
    val flusher = loop("flush", FlushMillis, flushing)(flush())
    val follower = loop("follow", PollMillis, following) {
      Trace.span("sources.follow_poll") {
        LogSync.highWaterMark(spark, root).filter(_.after(mark)).foreach { hwm =>
          val ids = LogSync.tableSince(spark, root, mark).select(col("span_id")).collect()
          val now = System.nanoTime()
          ids.foreach { r =>
            val i = liveGen.rowOf(r.getString(0))
            if (visibleNs(i) == 0L) visibleNs(i) = now
          }
          mark = hwm
        }
      }
    }
    val senders = Executors.newFixedThreadPool(math.min(4, Runtime.getRuntime.availableProcessors()))
    bodies.indices.foreach { r =>
      dueNs(r) = t0 + r * 1000000000L / Rate
      val wait = dueNs(r) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      senders.submit(new Runnable {
        def run(): Unit = try post(r) catch { case e: Exception => failures.add(s"POST $r: $e") }
      })
      pendingMax.accumulateAndGet(server.pending, math.max)
    }
    senders.shutdown()
    senders.awaitTermination(60, TimeUnit.SECONDS)
    val ackedRows = liveGen.n - reqOfRow.count(r => !ackedReq(r))
    val drainEnd = System.nanoTime() + DrainMillis * 1000000L
    def seen = (0 until liveGen.n).count(i => ackedReq(reqOfRow(i)) && visibleNs(i) > 0)
    while (seen < ackedRows && System.nanoTime() < drainEnd) Thread.sleep(PollMillis)
    flushing.set(false)
    following.set(false)
    flusher.join(); follower.join()

    // the dashboard client: closed-loop rotations of the seven panels
    // over the lake the writers grew
    val panels = new Panels(spark, root, initGen, new java.util.Random(ctx.seed * 31 + 7), InitialDays)
    val ops = (0 until (WarmRounds + ReadRounds) * Panels.All.size).map(i => panels.draw(i))
    val readLat = ops.zipWithIndex.map { case (op, i) =>
      val s0 = System.nanoTime()
      try Ctx.panel(op, i) catch { case e: Exception => failures.add(s"${op.panel}(${op.key}): $e") }
      (System.nanoTime() - s0) / 1e9
    }.drop(WarmRounds * Panels.All.size)
    val kept = if (!Trace.isEnabled) Nil else ops.zipWithIndex
      .filter { case (op, _) => op.panel == "lookup" || op.panel == "grep" }
      .map { case (op, i) => Trace.span("sources.prune_counts", i)(panels.pruneCounts(op)) }
    ctx.phase("measure")

    // checks, off the clock: every acked row landed exactly once and
    // became visible; every panel request matches the generator
    val lake = LogSync.table(spark, root)
    val lakeRows = lake.count()
    val dups = lake.groupBy(col("trace_id"), col("span_id")).count().filter(col("count") > 1).count()
    if (lakeRows != InitialRows + ackedRows)
      failures.add(s"lake holds $lakeRows rows, want ${InitialRows + ackedRows}")
    if (dups > 0) failures.add(s"$dups duplicate (trace_id, span_id) keys")
    val invisible = ackedRows - seen
    if (invisible > 0) failures.add(s"$invisible acked rows never became visible")
    val pool = Executors.newFixedThreadPool(4)
    ops.map { op =>
      pool.submit(() =>
        try op.check(op.build().collect())
        catch { case e: Exception => Some(s"${op.panel}(${op.key}) check: $e") })
    }.foreach(_.get().foreach(failures.add))
    pool.shutdown()
    val (registered, files, bytesPerRow) =
      if (Trace.isEnabled) Lake.shape(spark, root) else (0L, 0L, 0.0)
    server.stop()
    ctx.phase("check")

    val vis = (0 until liveGen.n).filter(i => visibleNs(i) > 0)
      .map(i => (visibleNs(i) - dueNs(reqOfRow(i))) / 1e9)
    val (tp, _, n) = Stats.tail(vis)
    val acks = ackMs.asScala.toSeq
    val late = lateMs.asScala.toSeq
    Result(
      attempted = bodies.size + ops.size, failures = failures.asScala.toSeq,
      setup = setups.map(_._1),
      throughput = flushes.asScala.map(_._1).sum / flushes.asScala.map(_._2).sum.max(1e-9),
      latencies = vis, opLatencies = readLat,
      layer = Map(
        "serving.rejected" -> rejected.get.toDouble,
        "serving.ack_p50_ms" -> Stats.median(acks),
        "serving.ack_tail_ms" -> Stats.tail(acks)._2,
        "serving.pending_max" -> pendingMax.get.toDouble,
        "serving.gen_late_p50_ms" -> Stats.median(late),
        "serving.gen_late_max_ms" -> (if (late.isEmpty) 0.0 else late.max),
        "serving.flush_rows_p50" -> Stats.median(flushes.asScala.map(_._1).toSeq),
        "sources.registered_files" -> registered.toDouble,
        "sources.lake_files" -> files.toDouble,
        "sources.lake_bytes_per_row" -> bytesPerRow,
        "sources.index_files_kept_ratio" ->
          (if (kept.isEmpty) 0.0 else kept.map(_._1).sum.toDouble / kept.map(_._2).sum.max(1))),
      notes = Seq(
        f"offered ${Rate * Batch} rows/s ($Rate requests/s × $Batch records) for ${ctx.seconds} s: " +
          f"${bodies.size} requests, ${acks.size} answered, flush every $FlushMillis ms",
        f"visible: ${vis.size} of $ackedRows acked rows; latency_tail_s is p$tp%.2f of $n rows",
        f"generator lateness p50 ${Stats.median(late)}%.2f ms, max ${if (late.isEmpty) 0.0 else late.max}%.2f ms",
        f"reader: ${ops.size} panels ($WarmRounds warm-up + $ReadRounds timed rotations) after the writers drained, " +
          f"p50 ${Stats.median(readLat)}%.3f s"))
  }
}
