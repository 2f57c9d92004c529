package perfbench

import scala.collection.mutable

/** Seeded OTel log records and their OTLP/JSON envelopes. The arrays
  * are the ground truth every dashboard and ingest check compares
  * against; graft only ever sees the rendered envelopes.
  */
final class LogRows(val n: Int, seed: Long, startUs: Long, spanUs: Long, jobPrefix: String = "job") {
  import LogRows._
  val tsUs = new Array[Long](n)
  val svc = new Array[Int](n)
  val inst = new Array[Int](n)
  val sev = new Array[Int](n)
  val traceId = new Array[String](n)
  val spanId = new Array[String](n)
  val body = new Array[String](n)
  val status = new Array[Int](n)

  locally {
    val rnd = new java.util.Random(seed)
    val step = math.max(2L, spanUs / n)
    // service popularity differs per seed; severity mix is fixed
    val svcW = Services.indices.map(i => 1.0 / (1 + ((i + seed.toInt.abs) % Services.size)))
    val openTrace = Array.fill(Services.size)("")
    val jobBase = rnd.nextInt(1000)
    var i = 0
    while (i < n) {
      tsUs(i) = startUs + i * step + rnd.nextInt((step / 2).toInt.max(1))
      svc(i) = pick(rnd, svcW)
      inst(i) = rnd.nextInt(Instances)
      sev(i) = pick(rnd, SeverityW)
      if (openTrace(svc(i)).isEmpty || rnd.nextDouble() < 0.3)
        openTrace(svc(i)) = f"${rnd.nextLong()}%016x${rnd.nextLong()}%016x"
      traceId(i) = openTrace(svc(i))
      spanId(i) = f"${rnd.nextInt()}%08x$i%08x"
      status(i) = if (sev(i) >= 3) 500 + rnd.nextInt(4) else 200 + rnd.nextInt(2)
      body(i) = s"${Verbs(rnd.nextInt(Verbs.size))} ${Objects(rnd.nextInt(Objects.size))} " +
        s"${Outcomes(sev(i))} code${rnd.nextInt(50)} $jobPrefix${jobBase + i / JobRows}"
      i += 1
    }
  }

  def service(i: Int): String = Services(svc(i))
  def severityText(i: Int): String = Severities(sev(i))
  def severityNumber(i: Int): Int = SeverityNumbers(sev(i))
  def instanceId(i: Int): String = s"${service(i)}-${inst(i)}"
  def host(i: Int): String = s"host-${(svc(i) * Instances + inst(i)) * 7 % 16}"
  def environment(i: Int): String = if (inst(i) == Instances - 1) "staging" else "prod"
  def namespace(i: Int): String = if (svc(i) < Services.size / 2) "shop" else "platform"
  def resourceAttr(i: Int, key: String): String = key match {
    case "host.name" => host(i)
    case "service.instance.id" => instanceId(i)
    case "deployment.environment" => environment(i)
    case "service.namespace" => namespace(i)
  }
  def tokens(i: Int): Array[String] = body(i).split(' ')
  def jobToken(i: Int): String = tokens(i).last

  /** Row index encoded in a span id (its low 32 bits). */
  def rowOf(span: String): Int = java.lang.Long.parseLong(span.substring(8), 16).toInt

  private def attr(k: String, v: String) =
    s"""{"key":${Json.str(k)},"value":{"stringValue":${Json.str(v)}}}"""

  /** One OTLP/HTTP logs envelope per resource run of at most `batch`
    * records: rows of one (service, instance) in `rows` order, as an
    * exporter of that resource would send them.
    */
  def envelopes(rows: Seq[Int], batch: Int): Seq[(String, Seq[Int])] = {
    val byRes = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Int]]
    rows.foreach(i => byRes.getOrElseUpdate((svc(i), inst(i)), mutable.ArrayBuffer.empty) += i)
    byRes.values.toSeq.flatMap(_.grouped(batch)).map { grp =>
      val h = grp.head
      val res = Seq(attr("service.name", service(h)), attr("service.namespace", namespace(h)),
        attr("service.instance.id", instanceId(h)), attr("host.name", host(h)),
        attr("deployment.environment", environment(h))).mkString(",")
      val recs = grp.map { i =>
        val ns = tsUs(i) * 1000
        s"""{"timeUnixNano":"$ns","observedTimeUnixNano":"${ns + 1000}",""" +
          s""""severityText":"${severityText(i)}","severityNumber":${severityNumber(i)},""" +
          s""""body":{"stringValue":${Json.str(body(i))}},"traceId":"${traceId(i)}",""" +
          s""""spanId":"${spanId(i)}","attributes":[${attr("http.status_code", status(i).toString)}]}"""
      }.mkString(",")
      val json = s"""{"resourceLogs":[{"resource":{"attributes":[$res]},"scopeLogs":[""" +
        s"""{"scope":{"name":"perfbench","version":"1.${svc(h) % 3}"},"logRecords":[$recs]}]}]}"""
      (json, grp.toSeq)
    }
  }
}

object LogRows {
  val Services: IndexedSeq[String] = IndexedSeq("frontend", "checkout", "cart", "payment",
    "shipping", "email", "ads", "recommendation")
  val Instances = 4
  val Severities: IndexedSeq[String] = IndexedSeq("DEBUG", "INFO", "WARN", "ERROR", "FATAL")
  val SeverityNumbers: IndexedSeq[Int] = IndexedSeq(5, 9, 13, 17, 21)
  private val SeverityW = IndexedSeq(0.10, 0.70, 0.12, 0.07, 0.01)
  private val Outcomes = IndexedSeq("traced", "ok", "slow", "failed", "crashed")
  private val Verbs = IndexedSeq("get", "put", "list", "charge", "render", "send", "lookup", "sync")
  private val Objects = IndexedSeq("order", "user", "session", "invoice", "item", "quote",
    "token", "image", "profile", "basket")
  /** Consecutive rows sharing one `<jobPrefix><k>` token: a rare search term
    * whose rows sit close in time, so the token index can prune files.
    */
  val JobRows = 40
  val DayUs: Long = 86400L * 1000000L
  /** 2024-03-01T00:00:00Z */
  val EpochUs: Long = 1709251200L * 1000000L

  private def pick(rnd: java.util.Random, w: IndexedSeq[Double]): Int = {
    var x = rnd.nextDouble() * w.sum
    var i = 0
    while (i < w.size - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }
}

/** A seeded training corpus shard: documents with injected exact and
  * near duplicates, and embeddings with injected near-duplicate
  * vectors. Each shard has its own seed, so no two shards share a text.
  */
final class Shard(seed: Long, nDocs: Int, nVecs: Int, idBase: Long) {
  import Shard._
  val docId: Array[Long] = Array.tabulate(nDocs)(i => idBase + i)
  val text = new Array[String](nDocs)
  val lang = new Array[String](nDocs)
  val source = new Array[String](nDocs)
  /** Exact-duplicate groups as (keeper doc id, group size). */
  val dupGroups = mutable.ArrayBuffer.empty[(Long, Int)]
  val vecId: Array[Long] = Array.tabulate(nVecs)(i => idBase + i)
  val vec: Array[Array[Float]] = new Array[Array[Float]](nVecs)
  val label = new Array[Int](nVecs)

  locally {
    val rnd = new java.util.Random(seed)
    var i = 0
    while (i < nDocs) {
      val r = rnd.nextDouble()
      if (i > 10 && r < 0.05) {
        text(i) = text(rnd.nextInt(i)) // exact copy
      } else if (i > 10 && r < 0.10) {
        // near copy: one word swapped for a word the text lacks
        val w = text(rnd.nextInt(i)).split(' ')
        val fresh = Iterator.continually(word(rnd)).find(x => !w.contains(x)).get
        w(rnd.nextInt(w.length)) = fresh
        text(i) = w.mkString(" ")
      } else {
        text(i) = Array.fill(8 + rnd.nextInt(72))(word(rnd)).mkString(" ")
      }
      lang(i) = Langs(rnd.nextInt(Langs.size))
      source(i) = s"src${rnd.nextInt(4)}"
      i += 1
    }
    // duplicate = same word set (graft's exact-dedup fingerprint), so a
    // near copy that happens to keep its original's word set counts too
    val bySet = text.indices.groupBy(k => text(k).split(' ').distinct.sorted.mkString(" "))
    bySet.values.filter(_.size > 1).foreach(g => dupGroups += ((g.map(docId).min, g.size)))

    val centers = Array.fill(10, Dim)(rnd.nextGaussian().toFloat)
    var v = 0
    while (v < nVecs) {
      if (v > 0 && rnd.nextDouble() < 0.05) {
        val o = rnd.nextInt(v)
        vec(v) = vec(o).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
        label(v) = label(o)
      } else {
        label(v) = rnd.nextInt(10)
        vec(v) = centers(label(v)).map(x => x + 1.5f * rnd.nextGaussian().toFloat)
      }
      v += 1
    }
  }

  def tokenCount: Long = text.map(_.split(' ').length.toLong).sum
}

object Shard {
  val Dim = 64
  private val Langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  /** Pseudo-words over a 20,000-word vocabulary with a Zipf-like skew
    * (exponent 0.7): common words repeat, but word triples rarely do
    * outside the injected near copies, so the near-duplicate stages'
    * cost does not swing from shard to shard.
    */
  private val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "du", "ga", "zo")
    (0 until 20000).map { k =>
      var x = k + 1; val sb = new StringBuilder
      while (x > 0) { sb ++= syl(x % syl.size); x /= syl.size }
      sb.toString
    }
  }
  private val Cum: Array[Double] =
    Vocab.indices.map(r => math.pow(r + 1.0, -0.7)).scanLeft(0.0)(_ + _).tail.toArray
  def word(rnd: java.util.Random): String = {
    val x = rnd.nextDouble() * Cum.last
    val i = java.util.Arrays.binarySearch(Cum, x)
    Vocab(if (i >= 0) i else -i - 1)
  }
}
