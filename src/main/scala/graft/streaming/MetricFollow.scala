package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LogSync

/** STREAMING `increase()` — the metrics-signal member of the follow
  * family ([[LakeFollow]] delivers lake CDC increments; DedupFollow/
  * CurateFollow/PackFollow consume the document lake; MetricFollow
  * consumes the `/v1/metrics` lake [[graft.serving.OtlpHttp]] writes):
  * as cumulative-counter points land, each polled increment emits the
  * reset-corrected PromQL increase its new samples contribute — a
  * metrics backend's recording rule running continuously instead of a
  * rescan of the series history.
  *
  * The carry state is ONE ROW PER SERIES — the newest consumed sample
  * (ts, value) of each (service, metric) — because increase() is a
  * consecutive-sample fold: seed the increment's per-series window
  * with the carry row, apply the SAME lag + reset rule as the batch
  * twin ([[graft.operators.MetricAnalytics.increaseOf]]), and the
  * stream cannot drift from the batch numbers. Store shape is
  * series-cardinality (what a TSDB head holds), rebuilt/extended under
  * the covered ⊆ consumed reuse/verify discipline of the other follow
  * stores; state is a pure function of the consumed set, so a crash
  * between process and commit replays the identical increment.
  *
  * OUT-OF-ORDER SAMPLES: a point at or before its series' carry
  * instant is REJECTED (surfaced in the increment result's
  * `__rejected` count, not silently dropped) — the Prometheus TSDB
  * ingest rule. Within one increment the window orders by
  * (ts, value) exactly like the batch twin.
  *
  * INVARIANT (spec-driven): over in-order arrivals, summing all
  * increments' emitted (series, bucket, increase) rows per bucket
  * equals the one-shot batch
  * [[graft.operators.MetricAnalytics.increaseFromLake]] over the full
  * lake — including resets INSIDE an increment (the lag sees both
  * sides) and resets ACROSS a poll boundary (the carry seeds the
  * first lag).
  */
object MetricFollow {

  /** Incremental CARRY STORE: (covered path set, per-series newest
    * sample) per (session, root, marks). Both frames are eager
    * localCheckpoints — the marks store and data files are rewritten
    * underneath us (see DedupFollow's rationale); a production
    * deployment persists the series-cardinality rows beside the lake.
    */
  private val carryStore = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, String), (DataFrame, DataFrame)]()

  /** Cumulative monotonic-sum points of one metric, in the shape the
    * carry/window arithmetic runs on. Mirrors
    * [[graft.operators.MetricAnalytics.increaseFromLake]]'s filter:
    * absent/null temporality on a monotonic sum reads as cumulative.
    */
  private def pointsOf(df: DataFrame, metricName: String): DataFrame = {
    val t = if (df.columns.contains("temporality")) df
            else df.withColumn("temporality", lit(null).cast("int"))
    t.filter(col("kind") === "sum" && col("metric_name") === metricName &&
        col("is_monotonic") &&
        (col("temporality").isNull || col("temporality") === 2))
      .select(col("service_name"), col("metric_name"),
        col("timestamp"), col("value").cast("double").as("value"))
  }

  private def pointsFor(spark: SparkSession, root: String,
                        paths: DataFrame, metricName: String): DataFrame =
    pointsOf(LogSync.tableForKeep(spark, root, paths), metricName)

  /** Newest sample per series: max by (ts, value) — the same
    * tiebreak order as the batch window.
    */
  private def newestOf(df: DataFrame): DataFrame =
    df.groupBy(col("service_name"), col("metric_name"))
      .agg(max(struct(col("timestamp"), col("value"))).as("m"))
      .select(col("service_name"), col("metric_name"),
        col("m.timestamp").as("c_ts"), col("m.value").as("c_value"))

  /** The consumed corpus' per-series carry, reusing and extending the
    * store. Reuse requires covered ⊆ consumed (file-count-sized
    * anti-join); a marks trim, foreign writer, or fresh session
    * rebuilds from scratch.
    */
  private def oldCarry(spark: SparkSession, root: String, marksDir: String,
                       consumed: DataFrame, metricName: String): DataFrame = {
    val key = (spark, root, marksDir, metricName)
    val st = carryStore.get(key)
    if (st == null)
      graft.SessionCaches.register(spark) { () =>
        Option(carryStore.remove(key)).foreach { case (c, f) =>
          c.unpersist(false); f.unpersist(false)
        }
      }
    val frozen = consumed.localCheckpoint()
    val fresh = st match {
      case null =>
        (frozen, newestOf(pointsFor(spark, root, frozen, metricName)).localCheckpoint())
      case (covered, carry) =>
        val vanished = covered.join(frozen, Seq("__registered_path"), "left_anti")
          .limit(1).count() > 0
        if (vanished) { // trimmed/foreign-rewritten marks: cache is stale
          covered.unpersist(false); carry.unpersist(false)
          (frozen, newestOf(pointsFor(spark, root, frozen, metricName)).localCheckpoint())
        } else {
          val missing = frozen.join(covered, Seq("__registered_path"), "left_anti")
          val merged = newestOf(
            carry.select(col("service_name"), col("metric_name"),
                col("c_ts").as("timestamp"), col("c_value").as("value"))
              .unionByName(pointsFor(spark, root, missing, metricName)))
            .localCheckpoint()
          covered.unpersist(false); carry.unpersist(false)
          (frozen, merged)
        }
    }
    carryStore.put(key, fresh)
    fresh._2
  }

  /** Spec observable: the stored per-series carry frame, if any. */
  private[graft] def carrySnapshot(spark: SparkSession, root: String,
                                   marksDir: String,
                                   metricName: String): Option[DataFrame] =
    Option(carryStore.get((spark, root, marksDir, metricName))).map(_._2)

  /** One polled increment's reset-corrected hourly increase rows:
    * (service_name, metric_name, bucket, increase, __rejected) —
    * increase DELTAS a downstream store folds by summing per
    * (series, bucket); `__rejected` counts the out-of-order points
    * the Prometheus rule refused (constant per emitted row, a
    * surfaced diagnostic rather than a silent drop). When rejections
    * occur but the accepted points produce ZERO output rows, one
    * all-null SENTINEL row (null series/bucket, increase 0) carries
    * the count — the diagnostic survives even an all-late increment;
    * summing folds are unaffected (0 contribution, and the null
    * series never collides with a real one). Deterministic given the
    * consumed set and the increment (crash replay emits identically).
    * Eagerly materialized so increment caches release.
    */
  def incrementIncrease(spark: SparkSession, root: String, marksDir: String,
                        inc: LakeFollow.Increment,
                        metricName: String): DataFrame = {
    val pts = pointsOf(inc.rows, metricName).cache()
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    val carry = oldCarry(spark, root, marksDir, consumed, metricName)

    // Prometheus out-of-order rejection: drop points at or before the
    // series carry instant (ties break on value, the window's order)
    val gated = pts.join(carry, Seq("service_name", "metric_name"), "left")
      .withColumn("__late",
        col("c_ts").isNotNull &&
          struct(col("timestamp"), col("value")) <=
            struct(col("c_ts"), col("c_value")))
    val rejected = gated.filter(col("__late")).count()

    // seed each series' window with its carry row, replay the batch
    // twin's lag + reset rule, then drop the seeds: the first real
    // point lags against the carry exactly as batch lags against the
    // previous sample
    val seeds = carry.select(col("service_name"), col("metric_name"),
      col("c_ts").as("timestamp"), col("c_value").as("value"),
      lit(true).as("__seed"))
    val w = Window.partitionBy(col("service_name"), col("metric_name"))
      .orderBy(col("timestamp"), col("value"))
    val emittedRows = gated.filter(!col("__late"))
      .select(col("service_name"), col("metric_name"),
        col("timestamp"), col("value"), lit(false).as("__seed"))
      .unionByName(seeds)
      .withColumn("__prev", lag(col("value"), 1).over(w))
      .withColumn("__inc",
        when(col("__prev").isNull || col("value") < col("__prev"), col("value"))
          .otherwise(col("value") - col("__prev")))
      .filter(!col("__seed"))
      .groupBy(col("service_name"), col("metric_name"),
        date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(sum(col("__inc")).as("increase"))
      .withColumn("__rejected", lit(rejected))
      .orderBy(col("service_name"), col("metric_name"), col("bucket"))
    // checkpoint FIRST, then probe emptiness on the checkpointed
    // frame — probing the raw plan would run the whole window +
    // aggregate pipeline twice whenever rejections occur
    val ck = emittedRows.localCheckpoint()
    // an all-late increment emits nothing — carry the rejection count
    // on one all-null sentinel row so the diagnostic is never lost
    val out =
      if (rejected > 0 && ck.limit(1).count() == 0)
        ck.unionByName(spark.range(1).select(
          lit(null).cast("string").as("service_name"),
          lit(null).cast("string").as("metric_name"),
          lit(null).cast("timestamp").as("bucket"),
          lit(0.0).as("increase"),
          lit(rejected).as("__rejected")))
      else ck
    pts.unpersist(false)
    out
  }

  /** [[incrementHistBuckets]]' result: the additive bucket deltas plus
    * the increment's excluded-point count OUT-OF-BAND. Earlier rounds
    * denormalized the count onto every emitted row
    * (`__dropped_cumulative`) and emitted an all-null sentinel row for
    * all-dropped increments — a downstream store summing the column
    * overcounted drops by the row count, and one keyed on
    * (service, le) ingested a null-keyed junk series. A stat belongs
    * beside the frame, not inside it.
    */
  final case class HistDeltas(buckets: DataFrame, droppedCumulative: Long)

  /** One polled increment's DELTA-HISTOGRAM bucket deltas:
    * (service_name, metric_name, le, bucket_n) — per-window histogram
    * points are ADDITIVE, so this consumer is STATELESS (no carry
    * store at all): a downstream quantile store folds by summing per
    * (series, le), and the union of every increment's deltas equals
    * the batch bucket table (spec-driven). ONLY explicit
    * DELTA-temporality (1) points join the fold: cumulative (2) AND
    * null/UNSPECIFIED points — OTLP SDKs default histograms to
    * cumulative and proto3 renders an unset enum as 0 — carry
    * counts-since-start, a latest-point semantics
    * ([[graft.operators.MetricAnalytics.histQuantileOf]]'s rule), not
    * additive deltas; a cumulative stream needs the
    * [[incrementIncrease]]-style carry instead. The exclusion is
    * SURFACED, not silent: [[HistDeltas.droppedCumulative]] carries
    * the count out-of-band (an all-dropped increment returns an empty
    * frame with a non-zero count — a cumulative-exporting fleet stays
    * distinguishable from no-data). The trailing +Inf overflow entry
    * surfaces as le = null (counted by the store toward totals, never
    * a finite bucket).
    */
  def incrementHistBuckets(inc: LakeFollow.Increment,
                           metricName: String): HistDeltas = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    val rows = inc.rows
    val t = if (rows.columns.contains("temporality")) rows
            else rows.withColumn("temporality", lit(null).cast("int"))
    val hist = t.filter(col("kind") === "histogram" &&
      col("metric_name") === metricName).cache()
    val dropped = hist
      .filter(col("temporality").isNull || col("temporality") =!= 1).count()
    val ck = hist.filter(col("temporality") === 1)
      .select(col("service_name"), col("metric_name"),
        from_json(col("bucket_counts"), ArrayType(StringType))
          .cast("array<long>").as("counts"),
        from_json(col("explicit_bounds"), ArrayType(DoubleType)).as("bounds"))
      .select(col("service_name"), col("metric_name"), col("bounds"),
        posexplode(col("counts")).as(Seq("i", "cnt")))
      .filter(col("cnt") > 0)
      .select(col("service_name"), col("metric_name"),
        when(col("i") < size(col("bounds")),
          expr("bounds[CAST(i AS INT)]")).as("le"),
        col("cnt"))
      .groupBy(col("service_name"), col("metric_name"), col("le"))
      .agg(sum(col("cnt")).as("bucket_n"))
      .orderBy(col("service_name"), col("metric_name"), col("le"))
      .localCheckpoint()
    hist.unpersist(false)
    HistDeltas(ck, dropped)
  }

  /** The continuous form: follow the metric lake and hand each
    * increment's increase rows to `sink` before the increment commits
    * (process-then-commit at-least-once, identical replay on crash).
    */
  def start(spark: SparkSession, root: String, marksDir: String,
            checkpoint: String, metricName: String, sink: DataFrame => Unit,
            pollsPerSecond: Int = 2): StreamingQuery =
    LakeFollow.follow(spark, root, marksDir, checkpoint,
      (_, inc) => sink(incrementIncrease(spark, root, marksDir, inc, metricName)),
      pollsPerSecond)
}
