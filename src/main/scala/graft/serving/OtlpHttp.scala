package graft.serving

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{LogSync, LogWriter, OtlpLogs, OtlpMetrics, OtlpTraces}

/** LIVE OTLP/HTTP intake — the reference's listening edge
  * (docker-compose.yaml:93-101: otel-collector accepts OTLP over HTTP
  * on :4318 and batches to parquet): a socket that speaks the PUBLIC
  * OTLP/HTTP protocol (opentelemetry-proto) on ALL THREE signals and
  * BOTH transports: POST /v1/logs, /v1/traces, /v1/metrics with
  * `application/json` or `application/x-protobuf` — the
  * `Export*ServiceRequest` wire shapes are field-compatible with
  * `LogsData`/`TracesData`/`MetricsData`, so the hand-rolled codecs
  * ([[graft.sources.OtlpProtoOps]] / [[graft.sources
  * .OtlpProtoSignalOps]]) decode both framings; spans land in their
  * own LogSync lake under `<root>/_traces` via [[OtlpTraces]], metric
  * points under `<root>/_metrics` via [[OtlpMetrics]]. The server
  * buffers payloads in memory and FLUSHES them through the existing
  * lake pipeline: quarantined parse (each signal's
  * `parseWithInvalid` / `parseProtoWithInvalid`) → partitioned
  * [[LogWriter.write]] → [[LogSync.sync]] (one atomic manifest
  * registration per flush — readers never see a half-written batch,
  * exactly like [[graft.streaming.LakeIngest]]'s micro-batches).
  *
  * SCOPE: OTLP/HTTP only, deliberately — the reference compose
  * exposes ONLY the collector's HTTP port (:4318;
  * docker-compose.yaml:95-96 maps no :4317), so OTLP/gRPC is outside
  * the reference's own surface; the wire PAYLOADS are identical
  * protobuf either way, and this edge already decodes them — a gRPC
  * front-end would add only HTTP/2 framing, not new decode paths.
  *
  * Protocol behavior (the part a real exporter sees):
  *  - 200 + `{}` on accepted payloads (export-level acceptance; OTLP
  *    allows asynchronous processing after acknowledgment); an empty
  *    `ExportLogsServiceRequest` (`{}` / empty `resourceLogs`) is
  *    spec-legal and answers 200 as a full success — there is nothing
  *    to land, so it is dropped at the door, not 400'd;
  *  - `Content-Encoding: gzip` bodies are inflated BEFORE the framing
  *    gate on both transports (stock OTLP exporters default to gzip;
  *    the reference's collector edge, docker-compose.yaml:93-101,
  *    accepts it natively) — the DECOMPRESSED size is what counts
  *    against `maxPendingBytes`, inflation is stream-bounded by that
  *    same cap (a gzip bomb gets 413 without ever materializing), and
  *    a corrupt gzip stream gets 400;
  *  - 400 on payloads that cannot possibly decode (non-JSON body on
  *    the JSON transport, undecodable bytes on the protobuf one);
  *  - 404/405 for wrong path/method.
  * Envelope-shape rejects that pass the cheap request-time check are
  * quarantined at flush (written under `_quarantine/http/`), never
  * silently dropped — the same discipline as the batch intake.
  *
  * Durability: a payload the server 200-acked must land. If a flush's
  * write/sync/quarantine step throws (disk full, transient FS error),
  * every drained payload whose rows are NOT yet durable on disk is
  * re-enqueued (and its bytes re-admitted) for the next flush; once
  * [[LogWriter.write]] has committed the batch's parquet (the v1
  * committer exposes no files on job abort), payloads are NOT
  * re-enqueued — a retry would double-write rows, because
  * [[LogSync.sync]] registers by directory scan — and a sync failure
  * after a durable write heals on the next flush (or [[Server.stop]]),
  * which re-runs sync even with an empty buffer. Quarantine dumps are
  * written before the valid-row commit, so the only duplication a
  * retry can cause is raw bytes in the forensic `_quarantine` bin.
  *
  * Scale honesty: this is the SINGLE-NODE listening edge, exactly what
  * the reference runs (one collector container) — the buffer is
  * driver-resident and bounded by flush cadence × arrival rate. A
  * flush that lands rows starts 3 Spark jobs per signal: the
  * partitioned write's shuffle map stage, the write itself and sync's
  * manifest part; a flush with rejects adds the quarantine write.
  * Classifying the payloads and counting the rows start none. A 100 TB/day
  * deployment runs a fleet of collectors in front and lands files for
  * [[LogSync.sync]] instead; this endpoint exists so a stock OTLP
  * exporter can point at a graft lake with no extra moving parts.
  *
  * JDK `com.sun.net.httpserver` only (a supported public JDK module) —
  * no new dependencies.
  */
object OtlpHttp {

  final class Server private[OtlpHttp] (spark: SparkSession, root: String,
                                        server: HttpServer,
                                        scheduler: Option[java.util.concurrent.ScheduledExecutorService],
                                        maxPendingBytes: Long) {
    private val jsonQ = new ConcurrentLinkedQueue[String]()
    private val protoQ = new ConcurrentLinkedQueue[Array[Byte]]()
    // /v1/traces and /v1/metrics intakes (both transports): spans and
    // metric points land in their own lakes under <root>/_traces and
    // <root>/_metrics — underscore-prefixed, so the LOG lake's scans
    // never see them; each is a full LogSync-managed table of its own
    private val spanQ = new ConcurrentLinkedQueue[String]()
    private val spanProtoQ = new ConcurrentLinkedQueue[Array[Byte]]()
    private val metricQ = new ConcurrentLinkedQueue[String]()
    private val metricProtoQ = new ConcurrentLinkedQueue[Array[Byte]]()
    private val tracesRoot = s"$root/_traces"
    private val metricsRoot = s"$root/_metrics"
    // BACKPRESSURE: the buffer is driver-resident, so it must be
    // BOUNDED — above the high-water mark the endpoint answers 429
    // (retryable per the OTLP/HTTP spec; a conforming exporter backs
    // off and retries, losing nothing) instead of growing until OOM
    private val pendingBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    // set when a durable write's manifest registration failed — the
    // next flush (or stop) re-runs the scan-based sync even if the
    // buffer is empty, so committed rows never stay unregistered
    @volatile private var pendingSync = false
    @volatile private var pendingSyncTraces = false
    @volatile private var pendingSyncMetrics = false

    def port: Int = server.getAddress.getPort
    def pending: Int = jsonQ.size + protoQ.size + spanQ.size + spanProtoQ.size +
      metricQ.size + metricProtoQ.size

    private def admit(n: Long): Boolean = {
      val after = pendingBytes.addAndGet(n)
      if (after > maxPendingBytes) { pendingBytes.addAndGet(-n); false }
      else true
    }

    private[OtlpHttp] def handle(ex: HttpExchange): Unit = {
      try {
        val path = ex.getRequestURI.getPath
        // ALL THREE signal intakes share one request gate for BOTH
        // transports: the envelope root field and queues differ, the
        // protocol edges don't
        def signalIntake(signal: String, rootField: String,
                         jq: ConcurrentLinkedQueue[String],
                         pq: ConcurrentLinkedQueue[Array[Byte]]): (Int, String) = {
          val raw = ex.getRequestBody.readAllBytes()
          val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
            .getOrElse("").toLowerCase
          val inflated: Either[(Int, String), Array[Byte]] =
            if (enc.contains("gzip")) gunzipBounded(raw, maxPendingBytes) else Right(raw)
          val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          inflated match {
            case Left(err) => err
            case Right(body) if ct.contains("protobuf") =>
              // cheap STRUCTURAL gate only (outer framing: field-1
              // length-delimited tag + a varint length that fits the
              // body — identical across LogsData/TracesData/
              // MetricsData) — a full wire decode per POST would run
              // on one of 4 handler threads and then run AGAIN at
              // flush; deeper corruption is caught there and
              // quarantined, never silently dropped
              if (!protoFraming(body))
                (400, s"""{"error":"undecodable protobuf payload"}""")
              else if (!admit(body.length.toLong))
                (429, """{"error":"intake buffer full, retry later"}""")
              else { pq.add(body); (200, "{}") }
            case Right(body) =>
              val s = new String(body, "UTF-8")
              // cheap request-time gate; full envelope validation (and
              // quarantine) happens at flush. An empty request `{}` is
              // a spec-legal export with zero records: full success,
              // nothing to buffer. Measure the DECODED string's UTF-8
              // size so admit and the flush-side release use the same
              // number even for payloads with invalid byte sequences.
              if (s.trim == "{}") (200, "{}")
              else if (!s.contains(rootField))
                (400, s"""{"error":"not an OTLP $signal envelope"}""")
              else if (!admit(s.getBytes("UTF-8").length.toLong))
                (429, """{"error":"intake buffer full, retry later"}""")
              else { jq.add(s); (200, "{}") }
          }
        }
        val resp: (Int, String) =
          if (path != "/v1/logs" && path != "/v1/traces" && path != "/v1/metrics")
            (404, """{"error":"unknown path"}""")
          else if (ex.getRequestMethod != "POST") (405, """{"error":"POST only"}""")
          else if (path == "/v1/traces")
            signalIntake("traces", "resourceSpans", spanQ, spanProtoQ)
          else if (path == "/v1/metrics")
            signalIntake("metrics", "resourceMetrics", metricQ, metricProtoQ)
          else signalIntake("logs", "resourceLogs", jsonQ, protoQ)
        val bytes = resp._2.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        // the OTLP/HTTP spec's throttling signal: a conforming
        // exporter honors Retry-After on 429 instead of hammering the
        // backpressured edge with its own backoff guess
        if (resp._1 == 429) ex.getResponseHeaders.set("Retry-After", "1")
        ex.sendResponseHeaders(resp._1, bytes.length)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    }

    /** Drain the buffers through parse → write → sync — the log batch
      * first, then the span batch into its own lake; each phase keeps
      * the 200-ack durability contract independently (a span-phase
      * failure re-enqueues only span payloads; the committed log rows
      * stay committed). Returns (valid rows landed, payloads
      * quarantined) summed over both signals. Serialized: OTLP
      * exporters keep POSTing while a flush runs; their payloads land
      * in the next one.
      */
    def flush(): (Long, Long) = synchronized {
      // the three signal pipelines are INDEPENDENT (own lakes, own
      // durability state): a persistent log-lake failure must not
      // starve the healthy trace/metric drains — run every phase,
      // then rethrow the first error (later ones suppressed on it)
      var rows = 0L; var quarantined = 0L
      var firstError: Throwable = null
      def phase(f: => (Long, Long)): Unit =
        try { val (r, q) = f; rows += r; quarantined += q }
        catch { case scala.util.control.NonFatal(t) =>
          // fatal errors (OOM, interrupt) propagate immediately — no
          // point launching further Spark phases on a broken JVM
          if (firstError == null) firstError = t else firstError.addSuppressed(t)
        }
      phase(flushSignal(jsonQ, protoQ, root,
        OtlpLogs.parseWithInvalid, OtlpLogs.parseProtoWithInvalid,
        () => pendingSync, pendingSync = _))
      phase(flushSignal(spanQ, spanProtoQ, tracesRoot,
        OtlpTraces.parseWithInvalid, OtlpTraces.parseProtoWithInvalid,
        () => pendingSyncTraces, pendingSyncTraces = _))
      phase(flushSignal(metricQ, metricProtoQ, metricsRoot,
        OtlpMetrics.parseWithInvalid, OtlpMetrics.parseProtoWithInvalid,
        () => pendingSyncMetrics, pendingSyncMetrics = _))
      if (firstError != null) throw firstError
      (rows, quarantined)
    }

    private type Parser = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column) =>
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)

    /** One signal's drain, BOTH transports (logs, traces, metrics all
      * share this shape now): classify each transport's payloads on the
      * driver with its quarantining parser, quarantine the rejects,
      * parse only the valid payloads and union them behind the
      * signal's one flatten, write, and sync when the write landed
      * rows, against the signal's own lake root and sync-heal flag —
      * the 200-ack durability contract held per signal.
      */
    private def flushSignal(jq: ConcurrentLinkedQueue[String],
        pq: ConcurrentLinkedQueue[Array[Byte]], signalRoot: String,
        jsonParser: Parser, protoParser: Parser,
        getPending: () => Boolean, setPending: Boolean => Unit): (Long, Long) = {
      import spark.implicits._
      val js = Iterator.continually(jq.poll()).takeWhile(_ != null).toSeq
      val ps = Iterator.continually(pq.poll()).takeWhile(_ != null).toSeq
      if (js.isEmpty && ps.isEmpty) {
        // heal a prior sync failure: the rows are committed, only the
        // manifest registration is missing
        if (getPending()) { LogSync.sync(spark, signalRoot); setPending(false) }
        return (0L, 0L)
      }
      // release the drained payloads' budget — new POSTs are admitted
      // again while this flush's Spark job runs
      val released =
        js.map(_.getBytes("UTF-8").length.toLong).sum + ps.map(_.length.toLong).sum
      pendingBytes.addAndGet(-released)
      // true once the batch's valid rows are committed parquet — past
      // that point a re-enqueue would DOUBLE-write them (sync registers
      // by directory scan), so the catch below re-enqueues only before
      var rowsDurable = false
      // plan construction inside the try: an analysis failure (or a
      // session racing shutdown) must hit the re-enqueue path — these
      // payloads are already 200-acked
      try {
        // each transport's shape-invalid envelopes, classified on the
        // driver: the parser's reject frame over the drained payloads'
        // LocalRelation is folded into one by Spark's
        // ConvertToLocalRelation, so this collect starts no job
        val badJs = if (js.isEmpty) Set.empty[String]
          else jsonParser(js.toDF("payload"), col("payload"))._2
            .collect().map(_.getString(0)).toSet
        val badPs = if (ps.isEmpty) Set.empty[ByteBuffer]
          else protoParser(ps.toDF("bin"), col("bin"))._2
            .collect().map(r => ByteBuffer.wrap(r.getAs[Array[Byte]](0))).toSet
        val (rejectJs, okJs) = js.partition(badJs)
        val (rejectPs, okPs) = ps.partition(p => badPs(ByteBuffer.wrap(p)))
        // quarantined as their raw bytes, the batch intake's
        // no-silent-drop rule. Ordered BEFORE the valid-row commit so a
        // failure-retry can at worst duplicate raw bytes in the forensic
        // bin, never lake rows.
        val quarantined = (rejectJs.length + rejectPs.length).toLong
        if (quarantined > 0)
          (rejectJs.map(_.getBytes("UTF-8")) ++ rejectPs).map(Tuple1(_)).toDF("payload")
            .write.mode(SaveMode.Append).parquet(s"$signalRoot/_quarantine/http")
        val valid = Seq(
          if (okJs.nonEmpty) Some(jsonParser(okJs.toDF("payload"), col("payload"))._1)
          else None,
          if (okPs.nonEmpty) Some(protoParser(okPs.toDF("bin"), col("bin"))._1)
          else None).flatten
        if (valid.isEmpty) (0L, quarantined)
        else {
          val committed = LogWriter.commit(valid.reduce(_ unionByName _), signalRoot,
            layout = LogWriter.DailyLayout)
          rowsDurable = true
          // the rows landed, from the write job's own observed count;
          // a registration left undone heals on the next flush
          try {
            val rows = LogWriter.observedRows(committed)
            if (rows > 0) LogSync.sync(spark, signalRoot)
            (rows, quarantined)
          } catch { case t: Throwable => setPending(true); throw t }
        }
      } catch {
        case t: Throwable =>
          if (!rowsDurable) {
            // nothing of this batch reached the lake (the v1 committer
            // exposes no files on job abort): put every drained
            // payload back — tail order, no ordering contract — and
            // restore its budget (may transiently overshoot the cap;
            // the endpoint just answers 429 until the retry drains)
            js.foreach(jq.add)
            ps.foreach(pq.add)
            pendingBytes.addAndGet(released)
          }
          throw t
      }
    }

    /** Close the socket WAITING for in-flight handlers (a payload the
      * server 200-acked must land — `stop(0)` would let a dispatched
      * handler enqueue after the final drain and silently lose it),
      * then flush whatever they enqueued, then release the pools.
      */
    def stop(): Unit = {
      scheduler.foreach { s => s.shutdown(); s.awaitTermination(5, TimeUnit.SECONDS); () }
      server.stop(1) // seconds to let dispatched exchanges finish
      // a handler that outlives stop()'s grace window can still
      // 200-ack and enqueue — wait for the handler pool to fully
      // drain BEFORE the final flush, so nothing lands after it
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService =>
          e.shutdown(); e.awaitTermination(10, TimeUnit.SECONDS); ()
        case _ =>
      }
      // nothing can enqueue now; drain until empty (flush re-enqueues
      // on failure, so retry a transient error a couple of times —
      // the last attempt propagates, acked payloads must not vanish
      // silently)
      var attempts = 0
      while ((pending > 0 || pendingSync || pendingSyncTraces || pendingSyncMetrics) && attempts < 3) {
        attempts += 1
        try { flush(); () }
        catch {
          case t: Throwable if attempts < 3 =>
            System.err.println(s"[otlp-http] stop-flush retry: ${t.getMessage}")
        }
      }
      ()
    }
  }

  /** Bounded gzip inflation for `Content-Encoding: gzip` request
    * bodies: streams through a fixed 64 KB chunk and aborts with 413
    * the moment the decompressed size passes `limit` — a gzip bomb
    * never materializes more than one chunk past the intake cap. A
    * corrupt stream (bad magic, truncated deflate, CRC mismatch) is a
    * client error: 400. JDK `java.util.zip` only.
    */
  private def gunzipBounded(b: Array[Byte],
                            limit: Long): Either[(Int, String), Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 2))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      var over = false
      while (n >= 0 && !over) {
        out.write(buf, 0, n)
        if (out.size.toLong > limit) over = true else n = in.read(buf)
      }
      if (over) Left((413, """{"error":"decompressed payload exceeds intake capacity"}"""))
      else Right(out.toByteArray)
    } catch {
      case _: java.io.IOException =>
        Left((400, """{"error":"undecodable gzip body"}"""))
    }

  /** Minimal OTLP `LogsData`/`ExportLogsServiceRequest` outer framing:
    * tag 0x0a (field 1, length-delimited) followed by a varint length
    * that fits inside the body. O(1), no allocation.
    */
  private def protoFraming(b: Array[Byte]): Boolean = {
    if (b.length < 2 || b(0) != 0x0a) return false
    var pos = 1
    var len = 0L
    var shift = 0
    while (pos < b.length && shift <= 35) {
      val x = b(pos) & 0xff
      len |= (x & 0x7fL) << shift
      pos += 1
      if ((x & 0x80) == 0) return len <= b.length - pos
      shift += 7
    }
    false
  }

  /** Start listening on `port` (0 = ephemeral, read it back from
    * [[Server.port]]). `autoFlushMillis > 0` flushes on a daemon timer
    * (the collector's batch interval); 0 leaves flushing to the
    * caller. `maxPendingBytes` bounds the driver-resident buffer —
    * above it the endpoint answers 429 until a flush drains
    * (backpressure, not OOM).
    */
  def start(spark: SparkSession, root: String, port: Int = 0,
            autoFlushMillis: Long = 0L,
            maxPendingBytes: Long = 256L * 1024 * 1024,
            bindHost: String = "127.0.0.1"): Server = {
    // loopback by default; a real collector edge opts into
    // bindHost = "0.0.0.0" explicitly
    val http = HttpServer.create(new InetSocketAddress(bindHost, port), 0)
    val scheduler =
      if (autoFlushMillis > 0)
        Some(Executors.newSingleThreadScheduledExecutor { r =>
          val t = new Thread(r, "otlp-http-flush"); t.setDaemon(true); t
        })
      else None
    val server = new Server(spark, root, http, scheduler, maxPendingBytes)
    http.createContext("/", (ex: HttpExchange) => server.handle(ex))
    http.setExecutor(Executors.newFixedThreadPool(4, { r =>
      val t = new Thread(r, "otlp-http"); t.setDaemon(true); t
    }))
    http.start()
    scheduler.foreach(_.scheduleWithFixedDelay(
      () => { try { server.flush(); () } catch { case t: Throwable =>
        System.err.println(s"[otlp-http] flush failed: ${t.getMessage}") } },
      autoFlushMillis, autoFlushMillis, TimeUnit.MILLISECONDS))
    server
  }
}
