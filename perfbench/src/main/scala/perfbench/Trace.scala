package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed call made by the benchmark into a graft layer. */
final class Span(val id: Long, val parent: Long, val name: String, val req: Long,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are opened around the
  * benchmark's own calls into graft (never inside graft), kept in memory
  * and written out when the run ends. Spark work is attributed to the
  * span that started it through a thread-local Spark property, so
  * concurrent callers (senders, flusher, follower, reader) keep their own
  * counts; Hadoop FileSystem statistics are process-wide, so a span's
  * `fs.*` deltas include whatever ran concurrently with it.
  *
  * With tracing off, [[span]] only runs its body: no listener is
  * registered and no statistics are read.
  */
object Trace {
  private val SpanProp = "perfbench.span"
  @volatile private var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private var spark: SparkSession = _
  // Spark work → span: stage ids and SQL execution ids come from job
  // starts (the job's `spark.sql.execution.id` property)
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  /** Time spent inside the tracing hooks themselves. */
  private val hookNs = new AtomicLong(0)

  def isEnabled: Boolean = enabled

  def enable(s: SparkSession): Unit = {
    spark = s
    enabled = true
    s.sparkContext.addSparkListener(Listener)
  }

  private def hook[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally hookNs.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String, req: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val parent = current.get()
      val s = hook {
        val sp = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
          name, if (req >= 0 || parent == null) req else parent.req, System.nanoTime())
        fsTotals().foreach { case (k, v) => sp.add(k, -v) }
        spans.add(sp); byId.put(sp.id, sp)
        current.set(sp)
        spark.sparkContext.setLocalProperty(SpanProp, sp.id.toString)
        sp
      }
      try f
      finally hook {
        s.endNs = System.nanoTime()
        fsTotals().foreach { case (k, v) => s.add(k, v) }
        current.set(parent)
        spark.sparkContext.setLocalProperty(SpanProp,
          if (parent == null) null else parent.id.toString)
      }
    }

  /** Attach a counter to the innermost open span of this thread. */
  def count(k: String, v: Double): Unit =
    if (enabled) Option(current.get()).foreach(_.add(k, v))

  /** Process-wide filesystem counters: bytes from Hadoop's statistics,
    * operations from [[CountingLocalFs]] (installed in traced runs only).
    */
  def fsTotals(): Map[String, Double] = {
    val st = FileSystem.getAllStatistics.asScala
    Map("fs.read_ops" -> CountingLocalFs.readOps.get.toDouble,
      "fs.large_read_ops" -> CountingLocalFs.largeReadOps.get.toDouble,
      "fs.write_ops" -> CountingLocalFs.writeOps.get.toDouble,
      "fs.bytes_read" -> st.map(_.getBytesRead.toDouble).sum,
      "fs.bytes_written" -> st.map(_.getBytesWritten.toDouble).sum)
  }

  private def spanOfProps(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(pp => Option(pp.getProperty(SpanProp)))
      .flatMap(v => Option(byId.get(v.toLong)))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = hook {
      spanOfProps(e.properties).foreach { sp =>
        sp.add("spark.jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, sp.id))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, sp.id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = hook {
      Option(stageSpan.get(e.stageInfo.stageId)).flatMap(id => Option(byId.get(id)))
        .foreach(_.add("spark.stages", 1))
    }
    // an SQL execution's planning phases and scanned files go to the
    // span whose thread ran its jobs
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => hook {
        for (id <- Option(execSpan.get(end.executionId)); sp <- Option(byId.get(id));
             qe <- PerfbenchAccess.queryExecution(end)) {
          sp.add("spark.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
          sp.add("spark.files_read", (try ScanFiles(qe.executedPlan) catch { case _: Exception => 0L }).toDouble)
        }
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = hook {
      val sp = Option(stageSpan.get(e.stageId)).flatMap(id => Option(byId.get(id)))
      val m = e.taskMetrics
      if (sp.isDefined && m != null) {
        val s = sp.get
        s.add("spark.tasks", 1)
        s.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private object ScanFiles extends AdaptiveSparkPlanHelper {
    def apply(p: SparkPlan): Long =
      collectWithSubqueries(p) { case s: FileSourceScanLike =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }

  def hookSeconds: Double = hookNs.get / 1e9

  /** Closed spans, after the listener bus has been drained. */
  def finished(): Seq[Span] = {
    if (enabled) PerfbenchAccess.drain(spark.sparkContext)
    spans.asScala.filter(_.endNs > 0).toSeq
  }

  /** Self time per span: its duration minus the union of its
    * children's intervals.
    */
  def selfSeconds(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var lo = Long.MinValue; var hi = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = hi max b
      }
      if (hi > lo) covered += hi - lo
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Sum of one counter over `all`. */
  def total(all: Seq[Span], key: String): Double =
    all.map(s => Option(s.counters.get(key)).map(_.doubleValue).getOrElse(0.0)).sum

  def toJson(all: Seq[Span]): String = {
    val self = selfSeconds(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    all.sortBy(_.startNs).map { s =>
      val cs = s.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v.doubleValue)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${s.req},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
        s""""self_s":${Json.num(self(s.id))},"counters":{$cs}}"""
    }.mkString("[\n", ",\n", "\n]")
  }

  /** Self time summed per span name. */
  def selfByLayer(all: Seq[Span]): Seq[(String, Double)] = {
    val self = selfSeconds(all)
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
      .toSeq.sortBy(-_._2)
  }
}
