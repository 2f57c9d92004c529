package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.sources.{LakeIndex, LogSync, LogWriter, OtlpLogs}

/** The batch landing path and the lake-side helpers of `ingest_live`. */
object Lake {
  /** Sidecar bloom sizes: about the rows (and distinct tokens) of one
    * daily file of these lakes.
    */
  val IndexItemsPerFile = 4096L
  val IndexTokensPerFile = 4096L

  /** Write `rows` of `gen` as JSON-lines envelope files, one per chunk. */
  def writeChunks(gen: LogRows, rows: Seq[Seq[Int]], dir: Path, batch: Int): Seq[Path] = {
    Files.createDirectories(dir)
    rows.zipWithIndex.map { case (chunk, c) =>
      val f = dir.resolve(f"chunk-$c%03d.json")
      Files.write(f, gen.envelopes(chunk, batch).map(_._1).asJava)
      f
    }
  }

  /** One landed chunk, as the reference's converter and sync script do
    * it: parse → partitioned write → manifest sync.
    */
  def land(spark: SparkSession, root: String, chunk: Path): Unit = {
    Trace.span("sources.write") {
      LogWriter.write(OtlpLogs.parse(spark.read.text(chunk.toString), col("value")), root,
        layout = LogWriter.DailyLayout)
    }
    Trace.span("sources.sync")(LogSync.sync(spark, root))
  }

  def buildIndexes(spark: SparkSession, root: String): Unit = {
    Trace.span("sources.index_build")(LakeIndex.build(spark, root, "trace_id", IndexItemsPerFile))
    Trace.span("sources.index_build")(LakeIndex.buildTokens(spark, root, "body", IndexTokensPerFile))
  }

  /** Materialise every output column without collecting: the timed action. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (registered files, parquet files on disk, bytes per registered row). */
  def shape(spark: SparkSession, root: String): (Long, Long, Double) = {
    val registered = LogSync.manifest(spark, root).filter(col("removed_at").isNull).count()
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("/_"))
      .toSeq
    val bytes = files.map(Files.size).sum
    val rows = LogSync.table(spark, root).count()
    (registered, files.size.toLong, if (rows == 0) 0.0 else bytes.toDouble / rows)
  }
}

/** One dashboard panel request: how to build it, and how to check its
  * collected result against the generator (None = correct).
  */
final case class PanelOp(panel: String, key: String, build: () => DataFrame,
                         check: Array[Row] => Option[String])

/** The seven Grafana-style panels of the reference dashboard over a
  * graft lake, requested in a fixed rotation (so every run times the
  * same panel mix) with seeded parameters: half the requests reuse one of
  * a few hot parameter sets per panel, half draw new ones, so graft's
  * memos see both repeated and new keys. Every panel is bounded to the
  * `days` the generator covers (the dashboard's time picker), so rows
  * landing later, outside that range, leave every answer unchanged.
  */
final class Panels(spark: SparkSession, root: String, gen: LogRows, rnd: java.util.Random,
                   days: Int) {
  import Panels.All
  import LogRows._
  private val attrKeys = IndexedSeq("host.name", "service.instance.id",
    "deployment.environment", "service.namespace")
  private val hot: Map[String, IndexedSeq[PanelOp]] =
    All.map(n => n -> IndexedSeq.fill(4)(fresh(n))).toMap

  /** The `req`-th request: panels in a fixed rotation, parameters seeded. */
  def draw(req: Long): PanelOp = {
    val n = All((req % All.size).toInt)
    if (rnd.nextBoolean()) hot(n)(rnd.nextInt(hot(n).size)) else fresh(n)
  }

  private def rows: Iterator[Int] = Iterator.range(0, gen.n)
  private def spans(rs: Array[Row]): Seq[String] = rs.map(_.getAs[String]("span_id")).toSeq.sorted
  private def same[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got ${show(got)}, want ${show(want)}")
  private def show(x: Any): String = { val s = x.toString; if (s.length > 200) s.take(200) + "…" else s }
  private def ts(us: Long) = lit(new java.sql.Timestamp(us / 1000))
  private def inRange = col("timestamp") < ts(EpochUs + days * DayUs)
  private def day(d: Int) = java.time.LocalDate.ofEpochDay(EpochUs / DayUs + d).toString

  private def fresh(panel: String): PanelOp = {
    val lake = () => LogSync.table(spark, root)
    panel match {
      case "tail" =>
        val s = rnd.nextInt(Services.size); val k = Seq(20, 50, 100)(rnd.nextInt(3))
        PanelOp(panel, s"$s/$k",
          () => lake().filter(col("service_name") === Services(s) && inRange)
            .orderBy(col("timestamp").desc).limit(k),
          r => same("tail", r.map(_.getAs[String]("span_id")).toSeq,
            rows.filter(gen.svc(_) == s).toSeq.sortBy(i => -gen.tsUs(i)).take(k).map(gen.spanId(_))))
      case "severity" =>
        val h1 = rnd.nextInt(days * 24); val h2 = h1 + 1 + rnd.nextInt(days * 24 - h1)
        val (from, until) = (EpochUs + h1 * 3600L * 1000000L, EpochUs + h2 * 3600L * 1000000L)
        PanelOp(panel, s"$h1-$h2",
          () => lake().filter(col("timestamp") >= ts(from) && col("timestamp") < ts(until))
            .groupBy(col("service_name"), col("severity_text")).agg(count(lit(1)).as("n")),
          r => same("severity", r.map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap,
            rows.filter(i => gen.tsUs(i) >= from && gen.tsUs(i) < until).toSeq
              .groupBy(i => (gen.service(i), gen.severityText(i))).map { case (k, v) => k -> v.size.toLong }))
      case "series" =>
        val s = rnd.nextInt(Services.size); val b = Seq(1, 3, 6, 24)(rnd.nextInt(4))
        val bUs = b * 3600L * 1000000L
        PanelOp(panel, s"$s/$b",
          () => lake().filter(col("service_name") === Services(s) && inRange)
            .groupBy(window(col("timestamp"), s"$b hours")).agg(count(lit(1)).as("n"))
            .select(col("window.start").as("bucket"), col("n")),
          r => same("series", r.map(x => x.getTimestamp(0).getTime * 1000 -> x.getLong(1)).toMap,
            rows.filter(gen.svc(_) == s).toSeq.groupBy(i => gen.tsUs(i) / bUs * bUs)
              .map { case (k, v) => k -> v.size.toLong }))
      case "window" =>
        val d1 = rnd.nextInt(days); val d2 = d1 + 1 + rnd.nextInt(days - d1)
        val minSev = Seq(13, 17, 21)(rnd.nextInt(3))
        PanelOp(panel, s"$d1-$d2/$minSev",
          () => LogSync.tableBetween(spark, root, day(d1), day(d2))
            .filter(col("severity_number") >= minSev),
          r => same("window", spans(r), rows.filter { i =>
            gen.tsUs(i) >= EpochUs + d1 * DayUs && gen.tsUs(i) < EpochUs + d2 * DayUs &&
              gen.severityNumber(i) >= minSev
          }.map(gen.spanId(_)).toSeq.sorted))
      case "attr" =>
        val key = attrKeys(rnd.nextInt(attrKeys.size)); val minSev = Seq(5, 9, 13, 17)(rnd.nextInt(4))
        PanelOp(panel, s"$key/$minSev",
          () => lake().filter(col("severity_number") >= minSev && inRange)
            .select(from_json(col("resource_attributes"), MapType(StringType, StringType))
              .getItem(key).as("v"))
            .groupBy(col("v")).agg(count(lit(1)).as("n")),
          r => same("attr", r.map(x => x.getString(0) -> x.getLong(1)).toMap,
            rows.filter(gen.severityNumber(_) >= minSev).toSeq.groupBy(gen.resourceAttr(_, key))
              .map { case (k, v) => k -> v.size.toLong }))
      case "lookup" =>
        val ids = Seq.fill(1 + rnd.nextInt(3))(gen.traceId(rnd.nextInt(gen.n))).distinct
        val want = ids.toSet
        PanelOp(panel, ids.mkString(","),
          () => LakeIndex.lookup(spark, root, "trace_id", ids),
          r => same("lookup", spans(r), rows.filter(i => want(gen.traceId(i)))
            .map(gen.spanId(_)).toSeq.sorted))
      case "grep" =>
        val i0 = rnd.nextInt(gen.n)
        val terms = if (rnd.nextInt(3) == 0) Seq(gen.jobToken(i0), gen.tokens(i0)(2))
                    else Seq(gen.jobToken(i0))
        PanelOp(panel, terms.mkString(","),
          () => LakeIndex.grep(spark, root, "body", terms),
          r => same("grep", spans(r), rows.filter { i =>
            val t = gen.tokens(i); terms.forall(t.contains)
          }.map(gen.spanId(_)).toSeq.sorted))
    }
  }

  /** (kept, registered) files for an index-served panel. */
  def pruneCounts(op: PanelOp): (Long, Long) = op.panel match {
    case "lookup" => LakeIndex.pruneCounts(spark, root, "trace_id", op.key.split(",").toSeq)
    case "grep" => LakeIndex.grepPruneCounts(spark, root, "body", op.key.split(",").toSeq)
    case _ => (0L, 0L)
  }
}

object Panels {
  val All: IndexedSeq[String] = IndexedSeq("tail", "severity", "series", "window", "attr", "lookup", "grep")
}
