package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload measured. `latencies` are the samples behind the
  * latency metrics (one per row or document, as the workload defines
  * them), `opLatencies` one per graft query materialised through the
  * noop sink; `layer` holds the per-layer values the workload measures
  * itself rather than reading from spans.
  */
final case class Result(attempted: Long, failures: Seq[String], setup: Seq[Double],
                        throughput: Double, latencies: Seq[Double], opLatencies: Seq[Double],
                        layer: Map[String, Double], notes: Seq[String])

/** One run's settings and work directory. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  def delete(p: String): Unit = Ctx.deleteTree(Paths.get(p))
  def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
  private var last = System.nanoTime()
  /** Print the wall time since the previous phase ended. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    println(f"# phase $name%-8s ${(now - last) / 1e9}%.1f s")
    last = now
  }
}

object Ctx {
  /** Set-ups per run; the median is reported as `setup_s`. */
  val SetupReps = 3

  /** One panel request: construct the DataFrame, then materialise it. */
  def panel(op: PanelOp, req: Long): Unit = Trace.span(s"operators.${op.panel}", req) {
    val df = Trace.span(s"operators.${op.panel}.construct")(op.build())
    Trace.span(s"operators.${op.panel}.exec")(Lake.noop(df))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
  * metrics untraced (`--trace 0`), the per-layer metrics traced
  * (`--trace 1`). Usage (through `perfbench/run.py`, which builds it):
  * `--workload <ingest_live|curate_batch> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--artifact <file>]`.
  */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "ingest_live" -> Ingest.run,
    "curate_batch" -> Curate.run)

  val Stages: Seq[String] = Curate.Chain.map(_._1)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = graft.GraftSession.builder("perfbench", cpus)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.enable(spark)
    val gc0 = gcSeconds
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val fs0 = Trace.fsTotals()

    val ready = System.currentTimeMillis()
    val r = run(new Ctx(spark, work, opts("seed").toLong, opts("seconds").toInt))
    val done = System.currentTimeMillis()

    val spans = Trace.finished()
    val fs1 = Trace.fsTotals()
    val (_, tail, _) = Stats.tail(r.latencies)
    val e2e = Map(
      "throughput_per_s" -> (r.throughput, "1/s"),
      "latency_p50_s" -> (Stats.median(r.latencies), "s"),
      "latency_tail_s" -> (tail, "s"),
      "op_latency_p50_s" -> (Stats.median(r.opLatencies), "s"),
      "setup_s" -> (Stats.median(r.setup), "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    val layer = layerMetrics(spans, r) ++
      fs1.map { case (k, v) => k -> (v - fs0(k)) } ++
      Map("jvm.gc_s" -> (gcSeconds - gc0), "jvm.heap_peak_mb" -> heapPeakMb,
        "trace.throughput_per_s" -> r.throughput,
        "trace.latency_p50_s" -> e2e("latency_p50_s")._1,
        "trace.latency_tail_s" -> tail,
        "trace.op_latency_p50_s" -> e2e("op_latency_p50_s")._1,
        "trace.hook_s" -> Trace.hookSeconds)
    val metrics =
      if (traced) LayerUnits.toSeq.sortBy(_._1).map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }
      else e2e.toSeq.sortBy(_._1)

    r.notes.foreach(n => println(s"# $n"))
    println(f"# session start ${(ready - jvmStart) / 1e3}%.1f s, workload ${(done - ready) / 1e3}%.1f s")
    println(s"# workload=$workload seed=${opts("seed")} cpus=$cpus traced=$traced " +
      s"attempted=${r.attempted} failed=${r.failures.size} " +
      f"error_share=${r.failures.size.toDouble / r.attempted.max(1)}%.4f")
    r.failures.take(20).foreach(f => println(s"# FAILED: $f"))
    metrics.foreach { case (k, (v, u)) => println(f"# $k%-40s $v%.6g $u") }
    if (traced) {
      val self = Trace.selfByLayer(spans)
      self.take(15).foreach { case (n, s) => println(f"# self $n%-40s $s%.4f s") }
      opts.get("artifact").foreach { f =>
        val overhead = opts.get("untraced").map(_.toDouble).filter(_ > 0)
          .map(u => r.throughput / u - 1)
        overhead.foreach(o => println(f"# tracing overhead (throughput, traced ÷ untraced − 1): $o%.4f"))
        val json = s"""{"workload":${Json.str(workload)},"seed":${opts("seed")},"cpus":$cpus,""" +
          s""""throughput_overhead_share":${overhead.map(Json.num).getOrElse("null")},""" +
          s""""hook_s":${Json.num(Trace.hookSeconds)},""" +
          s""""self_s":{${self.map { case (n, s) => s"${Json.str(n)}:${Json.num(s)}" }.mkString(",")}},""" +
          s""""metrics":{${metrics.map { case (k, (v, _)) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}},""" +
          s""""spans":${Trace.toJson(spans)}}"""
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        Files.write(Paths.get(f), json.getBytes("UTF-8"))
      }
    }
    spark.stop()
    val correct = r.failures.isEmpty
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${r.attempted.max(1)},"failed":${r.failures.size},"metrics":{$body}}""")
    System.exit(if (correct) 0 else 1)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** Every per-layer metric with its unit; each is printed on every
    * workload, 0 where the workload does not exercise the layer.
    */
  val LayerUnits: Map[String, String] = Map(
    "serving.posts" -> "count", "serving.rejected" -> "count",
    "serving.ack_p50_ms" -> "ms", "serving.ack_tail_ms" -> "ms",
    "serving.pending_max" -> "count", "serving.gen_late_p50_ms" -> "ms",
    "serving.gen_late_max_ms" -> "ms",
    "serving.flush_count" -> "count", "serving.flush_s_p50" -> "s",
    "serving.flush_s_tail" -> "s", "serving.flush_rows_p50" -> "count",
    "sources.write_s" -> "s", "sources.sync_s_p50" -> "s", "sources.sync_s_last" -> "s",
    "sources.registered_files" -> "count", "sources.lake_files" -> "count",
    "sources.lake_bytes_per_row" -> "B",
    "sources.index_build_s" -> "s", "sources.index_lookup_s_p50" -> "s",
    "sources.index_grep_s_p50" -> "s", "sources.index_files_kept_ratio" -> "ratio",
    "sources.follow_poll_s_p50" -> "s",
    "spark.construct_jobs" -> "count", "spark.plan_s" -> "s",
    "spark.shuffle_bytes" -> "B", "spark.task_cpu_s" -> "s", "spark.tasks" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.input_bytes" -> "B",
    "spark.files_read" -> "count",
    "fs.read_ops" -> "count", "fs.large_read_ops" -> "count", "fs.write_ops" -> "count",
    "fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.throughput_per_s" -> "1/s", "trace.latency_p50_s" -> "s",
    "trace.latency_tail_s" -> "s", "trace.op_latency_p50_s" -> "s", "trace.hook_s" -> "s") ++
    perfbench.Panels.All.flatMap(p => Seq(s"operators.$p.construct_s_p50" -> "s", s"operators.$p.exec_s_p50" -> "s")) ++
    Stages.map(s => s"operators.$s.s" -> "s")

  private def layerMetrics(spans: Seq[Span], r: Result): Map[String, Double] = {
    def secs(name: String) = spans.filter(_.name == name).sortBy(_.startNs).map(_.seconds)
    def p50(name: String) = Stats.median(secs(name))
    val construct = spans.filter(_.name.endsWith(".construct"))
    Map(
      "serving.posts" -> secs("serving.post").size.toDouble,
      "serving.flush_count" -> secs("serving.flush").size.toDouble,
      "serving.flush_s_p50" -> p50("serving.flush"),
      "serving.flush_s_tail" -> Stats.tail(secs("serving.flush"))._2,
      "sources.write_s" -> secs("sources.write").sum,
      "sources.sync_s_p50" -> p50("sources.sync"),
      "sources.sync_s_last" -> secs("sources.sync").lastOption.getOrElse(0.0),
      "sources.index_build_s" -> secs("sources.index_build").sum,
      "sources.index_lookup_s_p50" -> p50("operators.lookup"),
      "sources.index_grep_s_p50" -> p50("operators.grep"),
      "sources.follow_poll_s_p50" -> p50("sources.follow_poll"),
      "spark.construct_jobs" -> Trace.total(construct, "spark.jobs"),
      "spark.plan_s" -> Trace.total(spans, "spark.plan_s"),
      "spark.shuffle_bytes" -> Trace.total(spans, "spark.shuffle_bytes"),
      "spark.task_cpu_s" -> Trace.total(spans, "spark.task_cpu_s"),
      "spark.tasks" -> Trace.total(spans, "spark.tasks"),
      "spark.jobs" -> Trace.total(spans, "spark.jobs"),
      "spark.stages" -> Trace.total(spans, "spark.stages"),
      "spark.input_bytes" -> Trace.total(spans, "spark.input_bytes"),
      "spark.files_read" -> Trace.total(spans, "spark.files_read")) ++
      perfbench.Panels.All.flatMap(p => Seq(s"operators.$p.construct_s_p50" -> p50(s"operators.$p.construct"),
        s"operators.$p.exec_s_p50" -> p50(s"operators.$p.exec"))) ++
      Stages.map(s => s"operators.$s.s" -> p50(s"operators.$s")) ++
      r.layer
  }
}
