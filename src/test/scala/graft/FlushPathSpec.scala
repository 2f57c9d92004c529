package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.serving.OtlpHttp
import graft.sources.{LogSync, OtlpLogs, OtlpMetrics, OtlpTraces}

/** The OTLP/HTTP flush: payloads classified on the driver, rejects
  * quarantined before the valid rows commit, only valid payloads parsed
  * and written, rows counted by the write job. A flush must return what
  * the quarantining parsers count over the whole drained batch, for
  * every signal and transport, and a steady-state log flush is pinned
  * at its job count.
  */
class FlushPathSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: Array[Byte], contentType: String): Int =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()

  private val baseUs = 1705060800000000L

  private def logEnvelope(i: Int, records: Int = 1): String = {
    val recs = (0 until records).map { r =>
      s"""{"timeUnixNano":"${(baseUs + i * 1000000L + r) * 1000}","severityText":"INFO",""" +
        s""""body":{"stringValue":"row $i.$r"},"spanId":"s$i-$r"}"""
    }.mkString(",")
    s"""{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name",""" +
      s""""value":{"stringValue":"svc-${i % 3}"}}]},"scopeLogs":[{"logRecords":[$recs]}]}]}"""
  }

  private def bins(df: DataFrame): Seq[Array[Byte]] =
    df.collect().map(_.getAs[Array[Byte]](0)).toSeq

  /** One signal's intake: its path, lake, parsers, valid payloads of
    * both transports, and the envelopes a reject or an empty batch is
    * made of.
    */
  private case class Signal(path: String, lake: String => String, rootField: String,
                            json: (DataFrame, Column) => (DataFrame, DataFrame),
                            proto: (DataFrame, Column) => (DataFrame, DataFrame),
                            jsonOk: Seq[String], protoOk: () => Seq[Array[Byte]],
                            edges: Seq[String])

  private def signals: Seq[Signal] = {
    graft.functions.VectorFunctions.register(spark)
    Seq(
      Signal("/v1/logs", identity, "resourceLogs",
        OtlpLogs.parseWithInvalid, OtlpLogs.parseProtoWithInvalid,
        Seq(logEnvelope(0, 3), logEnvelope(1), logEnvelope(2, 2)),
        () => bins(spark.range(2).select(OtlpLogs.toOtlpProtoTraced(
          lit(baseUs) + col("id"), lit("svc-proto"), lit("WARN"), lit(13),
          concat(lit("proto "), col("id")), lit("0af7651916cd43dd8448eb211c80319c"),
          lit("b7ad6b7169203331"), lit("1"), lit("graft.test")))),
        Seq("""{"resourceLogs":[{"scopeLogs":null}]}""",
          """{"resourceLogs":[{"scopeLogs":[{"logRecords":[]}]}]}""")),
      Signal("/v1/traces", r => s"$r/_traces", "resourceSpans",
        OtlpTraces.parseWithInvalid, OtlpTraces.parseProtoWithInvalid,
        spark.range(3).select(OtlpTraces.toOtlpJson(lit(baseUs) + col("id"),
          lit(baseUs) + col("id") + 500L, lit("svc-t"), lit("0af7651916cd43dd8448eb211c80319c"),
          concat(lit("span00000000000"), col("id")), lit(null).cast("string"),
          lit("op"), lit(2), lit(0))).collect().map(_.getString(0)).toSeq,
        () => bins(spark.range(2).select(OtlpTraces.toOtlpProto(lit(baseUs) + col("id"),
          lit(baseUs) + col("id") + 250L, lit("svc-pb"), lit("0af7651916cd43dd8448eb211c80319c"),
          concat(lit("bb0000000000000"), col("id")), lit(null).cast("string"),
          lit("op"), lit(2), lit(0)))),
        Seq("""{"resourceSpans":[{"scopeSpans":null}]}""",
          """{"resourceSpans":[{"scopeSpans":[{"spans":[]}]}]}""")),
      Signal("/v1/metrics", r => s"$r/_metrics", "resourceMetrics",
        OtlpMetrics.parseWithInvalid, OtlpMetrics.parseProtoWithInvalid,
        Seq(s"""{"resourceMetrics":[{"resource":{"attributes":[{"key":"service.name",""" +
          s""""value":{"stringValue":"svc-m"}}]},"scopeMetrics":[{"metrics":[""" +
          s"""{"name":"load","gauge":{"dataPoints":[{"timeUnixNano":"${baseUs * 1000}",""" +
          s""""asDouble":0.5},{"timeUnixNano":"${baseUs * 1000 + 1}","asDouble":0.7}]}}]}]}]}"""),
        () => bins(spark.range(1).select(OtlpMetrics.toOtlpProtoSum(lit(baseUs),
          lit("svc-pb"), lit("requests"), lit("{req}"), lit(41.5), lit(true), lit(2)))),
        Seq("""{"resourceMetrics":[{"scopeMetrics":null}]}""",
          """{"resourceMetrics":[{"scopeMetrics":[{"metrics":[]}]}]}""")))
  }

  // passes the request-time framing gate, fails the wire decode
  private val badProto = Array[Byte](0x0a, 0x02, 0xff.toByte, 0xff.toByte)

  /** The parsers' own counts over the whole batch: the rows a flush
    * lands and the payloads it quarantines.
    */
  private def expected(s: Signal, js: Seq[String], ps: Seq[Array[Byte]]): (Long, Long) = {
    import spark.implicits._
    val parsed = Seq(s.json(js.toDF("payload"), col("payload")),
      s.proto(ps.toDF("bin"), col("bin")))
    (parsed.map(_._1.count()).sum, parsed.map(_._2.count()).sum)
  }

  private def quarantined(lake: String): Long = {
    val q = Paths.get(lake, "_quarantine", "http")
    if (Files.exists(q)) spark.read.parquet(q.toString).count() else 0L
  }

  test("a flush returns the parsers' rows and rejects for every signal and transport") {
    for (s <- signals) {
      val root = Files.createTempDirectory("graft_flush_counts").toString
      val server = OtlpHttp.start(spark, root)
      try {
        val rejects = Seq(s"""{"${s.rootField}":[]}""", s"""{"${s.rootField}":[]}""")
        val batches: Seq[(Seq[String], Seq[Array[Byte]])] = Seq(
          (s.jsonOk ++ rejects ++ s.edges, s.protoOk() :+ badProto), // mixed
          (s.jsonOk.take(1), Nil), // all valid, JSON only
          (Nil, s.protoOk()), // all valid, protobuf only
          (s.edges, Nil), // valid envelopes with no records
          (rejects, Seq(badProto))) // rejects only
        var landed = 0L
        var binned = 0L
        for ((js, ps) <- batches) {
          js.foreach(j => assert(post(server.port, s.path, j.getBytes("UTF-8"),
            "application/json") == 200))
          ps.foreach(p => assert(post(server.port, s.path, p, "application/x-protobuf") == 200))
          val want = expected(s, js, ps)
          assert(server.flush() == want, s"${s.path}: ${js.length} json, ${ps.length} proto")
          landed += want._1
          binned += want._2
          if (landed > 0) assert(LogSync.table(spark, s.lake(root)).count() == landed, s.path)
          assert(quarantined(s.lake(root)) == binned, s.path)
        }
        assert(landed > 0 && binned > 0)
      } finally server.stop()
    }
  }

  test("rejects are quarantined before the valid rows commit") {
    val root = Files.createTempDirectory("graft_flush_order").toString
    // a regular file where the lake write stages its task output: the
    // valid commit fails, the quarantine (its own directory) does not
    Files.createFile(Paths.get(root, "_temporary"))
    val server = OtlpHttp.start(spark, root)
    try {
      assert(post(server.port, "/v1/logs", logEnvelope(0).getBytes, "application/json") == 200)
      assert(post(server.port, "/v1/logs", """{"resourceLogs":[]}""".getBytes,
        "application/json") == 200)
      intercept[Throwable](server.flush())
      assert(quarantined(root) == 1, "the reject lands before the failed valid commit")
      assert(server.pending == 2, "nothing durable: both acked payloads are re-enqueued")
      Files.delete(Paths.get(root, "_temporary"))
      assert(server.flush() == ((1L, 1L)))
      assert(LogSync.table(spark, root).count() == 1)
      // a retry can only duplicate raw bytes in the forensic bin
      assert(quarantined(root) == 2)
    } finally server.stop()
  }

  test("a steady-state log flush starts 3 jobs: the write's shuffle, the write, the manifest part") {
    val root = Files.createTempDirectory("graft_flush_jobs").toString
    val server = OtlpHttp.start(spark, root)
    try {
      def round(i: Int): (Long, Long) = {
        (0 until 4).foreach(k => assert(post(server.port, "/v1/logs",
          logEnvelope(i * 10 + k, records = 5).getBytes, "application/json") == 200))
        server.flush()
      }
      round(0)
      LogSync.highWaterMark(spark, root) // a follower holds the registry
      round(1)
      val (out, jobs) = SparkJobs.during(spark)(round(2))
      assert(out == ((20L, 0L)))
      assert(jobs.length == 3, jobs.mkString("\n", "\n", ""))
    } finally server.stop()
  }
}
