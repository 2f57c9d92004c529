package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** METRICS analytics — the third OTel signal, completing the
  * logs/traces/metrics triple the reference's collector edge speaks
  * (its otel-collector image serves all three receivers;
  * docker-compose.yaml:92-101 wires the logs pipeline). The queries
  * here are the backend half a metrics consumer needs: counter RATE
  * with reset correction, gauge rollups, explicit-bucket histograms,
  * and the PromQL `histogram_quantile` estimator over them.
  *
  * Sample synthesis (deterministic, replayed verbatim by the DuckDB
  * oracles): each event is one sample of its service's series
  * (`service = svc-(user%10)`, the log side's service key); counter
  * samples are the DAILY-RESETTING cumulative sum of integer-cent
  * values — the process-restart model that makes rate()'s reset
  * correction load-bearing; gauges are the raw values; histograms
  * bucket values against fixed explicit boundaries.
  *
  * Scale shape: counters window over (service, day) — series × day
  * cardinality partitions, never one global sort; rate's lag+correct
  * runs in the same series-keyed window shuffle; histogram bucketing
  * is a map-only projection into a (service × boundaries)-cardinality
  * aggregate; the quantile estimator then works on that tiny frame.
  * All counter arithmetic is exact integer cents — bit-identical
  * across engines, no float-association drift.
  */
object MetricAnalytics {

  /** Explicit histogram bucket upper bounds (le), in cents' units of
    * the raw value (1.0 = value 1.0). Values above the top boundary
    * count toward the quantile's total but no finite bucket —
    * the Prometheus +Inf bucket, carried implicitly as total-count.
    */
  private[graft] val Boundaries: Seq[Double] = Seq(1, 5, 10, 50, 100, 500)

  private def vi = floor(col("value") * 100 + lit(0.5)).cast("long")
  private def svc = concat(lit("svc-"), (col("user_id") % 10).cast("string"))

  /** The raw per-sample frame both the cumulative synthesis and the
    * halo totals derive from: (service, day, hour, ts, event_id, vi).
    */
  private def counterBase(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("service", svc)
      .withColumn("day", dayofmonth(col("ts")))
      .withColumn("vi", vi)
      .select(col("service"), col("day"), hour(col("ts")).as("hour"),
        col("ts"), col("event_id"), col("user_id"), col("vi"))

  /** Counter samples: per-service daily-resetting cumulative
    * integer-cent sums (the restart model), sample-per-event.
    */
  private[graft] def counterSamples(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("service"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    counterBase(spark, dir)
      .withColumn("cum", sum(col("vi")).over(w))
      .select(col("service"), col("day"), col("hour"),
        col("ts"), col("event_id"), col("user_id"), col("vi"), col("cum"))
  }

  /** PromQL-style `increase()` per (service, day, hour) computed FROM
    * the cumulative samples (the way a metrics backend must — it never
    * sees the raw deltas): consecutive-sample delta via one lag over
    * the service series; a negative delta is a COUNTER RESET and
    * contributes the post-reset cumulative value (the PromQL
    * correction); the series' first sample counts from zero. The
    * daily reset makes every day boundary exercise the correction.
    * Exact integers; the spec proves per-(service, day) totals equal
    * the direct sum of that day's values — reset correction loses
    * nothing.
    */
  def rate(spark: SparkSession, dir: String): DataFrame = {
    // DAY-CHUNK + HALO: the corpus-scaled lag partitions on
    // (service, day) — inheriting counterSamples' exchange, with
    // partition count scaling as series × days instead of pinning at
    // service cardinality (10 giant single-task sorts at 100×) — and
    // each day's FIRST sample seeds its lag from the previous day's
    // closing total (the halo), carried on a series×day-cardinality
    // side frame. Byte-identical to a service-only lag over the whole
    // series, INCLUDING PromQL's undetected-reset case (a day opening
    // at-or-above the previous close reads as a continuation, not a
    // reset — the documented PromQL limitation the spec models); a
    // bare (service, day) window would silently erase it.
    val wDay = Window.partitionBy(col("service"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val samples = counterSamples(spark, dir)
    // closing totals come from a direct groupBy-sum, NOT a second
    // window pass: map-side partial aggregation means this branch's
    // exchange carries only series×day rows (its scan is pruned to
    // three columns), then one lag over the tiny frame gives each day
    // its halo
    val halo = counterBase(spark, dir)
      .groupBy(col("service"), col("day"))
      .agg(sum(col("vi")).as("__day_total"))
      .withColumn("__prev_day_total", lag(col("__day_total"), 1).over(
        Window.partitionBy(col("service")).orderBy(col("day"))))
      .select(col("service"), col("day"), col("__prev_day_total"))
    samples
      .join(broadcast(halo), Seq("service", "day"))
      .withColumn("prev",
        coalesce(lag(col("cum"), 1).over(wDay), col("__prev_day_total")))
      .withColumn("inc",
        when(col("prev").isNull || col("cum") < col("prev"), col("cum"))
          .otherwise(col("cum") - col("prev")))
      .groupBy(col("service"), col("day"), col("hour"))
      .agg(sum(col("inc")).as("increase_c"))
      .orderBy(col("service"), col("day"), col("hour"))
  }

  /** PromQL `increase()` over ANY cumulative-counter sample table —
    * the library API for points ingested through the OTLP edge
    * ([[graft.serving.OtlpHttp]]'s `/v1/metrics` lake) or any source
    * with (series identity columns, `ts`, ordering tiebreak, `value`)
    * rows. Same reset rule as the contract twin: consecutive-sample
    * lag per series, a drop contributes the post-reset value, the
    * first sample counts from zero; bucketed by the caller's bucket
    * expression. Series-keyed window shuffles only.
    *
    * SCALE ASSUMPTION: one window partition holds a whole series, so
    * per-series sample volume must fit a task (true for real metric
    * series — a 1 s-scraped counter is ~86k samples/day). For
    * pathologically hot series, chunk the lag by a coarser time key
    * and seed each chunk's first lag from the previous chunk's
    * closing value — the day-chunk + halo pattern [[rate]] implements
    * (and [[LogAnalytics.sloBurn]]'s day-window halo).
    */
  def increaseOf(samples: DataFrame, seriesCols: Seq[String],
                 bucket: org.apache.spark.sql.Column,
                 order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val wSeries = Window.partitionBy(seriesCols.map(col): _*).orderBy(order: _*)
    samples
      .withColumn("__prev", lag(col("value"), 1).over(wSeries))
      .withColumn("__inc",
        when(col("__prev").isNull || col("value") < col("__prev"), col("value"))
          .otherwise(col("value") - col("__prev")))
      .groupBy(seriesCols.map(col) :+ bucket.as("bucket"): _*)
      .agg(sum(col("__inc")).as("increase"))
      .orderBy(seriesCols.map(col) :+ col("bucket"): _*)
  }

  /** [[increaseOf]] over the OTLP-ingested metric lake (the
    * `<root>/_metrics` table [[graft.serving.OtlpHttp]] writes):
    * hourly increase of one monotonic-sum metric, series =
    * (service, metric). This entry point takes the CUMULATIVE
    * (temporality=2) points, the PromQL-shaped case;
    * delta-temporality sums take [[increaseFromLakeDelta]] (a plain
    * windowless sum — each point already is an increment).
    */
  def increaseFromLake(spark: SparkSession, metricsRoot: String,
                       metricName: String): DataFrame = {
    val t0 = graft.sources.LogSync.table(spark, metricsRoot)
    // legacy lake files may predate the temporality column; an absent
    // or null temporality on a monotonic sum is treated as cumulative
    // (the OTLP default shape for monotonic counters) rather than
    // silently dropping the points
    val t = if (t0.columns.contains("temporality")) t0
            else t0.withColumn("temporality", lit(null).cast("int"))
    increaseOf(
      t.filter(col("kind") === "sum" && col("metric_name") === metricName &&
        col("is_monotonic") &&
        (col("temporality").isNull || col("temporality") === 2)),
      Seq("service_name", "metric_name"),
      date_trunc("hour", col("timestamp")),
      // value as the tiebreak: deterministic lag order even when two
      // samples share a timestamp across an agent restart
      Seq(col("timestamp"), col("value")))
  }

  /** Gauge rollup per (service, day, hour): sample count, min/max in
    * exact cents, mean rounded to 4 dp on both sides.
    */
  def gauge(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("service", svc)
      .withColumn("vi", vi)
      .groupBy(col("service"), dayofmonth(col("ts")).as("day"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), min(col("vi")).as("min_c"),
        max(col("vi")).as("max_c"), sum(col("vi")).as("__sum_vi"))
      // mean to 4 dp in EXACT integer arithmetic (half-up on the true
      // rational): avg(double) partial-sums in engine-specific order,
      // and even round(sameDouble, 4) differs across engines at .5
      // boundaries (Spark rounds the shortest-decimal form, DuckDB
      // the scaled binary value — seen at sf0.1: 37.44875 going both
      // ways). (sum·200 + n) div (2n) / 10⁴ is bit-identical anywhere.
      .withColumn("avg_v",
        expr("(__sum_vi * 200 + n) div (2 * n)") / lit(10000.0))
      .drop("__sum_vi")
      .orderBy(col("service"), col("day"), col("hour"))

  /** OTel EXEMPLARS: per (service, day, hour) bucket, alongside the
    * sample count and max, the trace id of the bucket's PEAK sample —
    * the metrics→traces hop ("this latency bucket spiked; show me a
    * trace from inside it") OTLP data points carry natively. The
    * exemplar trace key is the SAME md5(user/day) id the log and span
    * syntheses stamp, so the surfaced id resolves in
    * [[TraceAnalytics.traceSpans]] and [[LogAnalytics.traceLookup]]
    * directly — all three signals meet on one key.
    *
    * The peak pick must be deterministic under value ties, so the
    * argmax rides a single `max` over a `(vi, trace_id)` STRUCT —
    * struct ordering compares field-by-field, so the max is the
    * peak-value sample with ties broken to the lexicographically
    * largest trace id. A plain mergeable aggregate, map-side-combined,
    * identical in any evaluation order, correct for any value domain
    * (negative values and values of any magnitude order numerically,
    * unlike a fixed-width string encoding), and replayed verbatim by
    * the oracle's struct max. Map-only projection + ONE aggregate
    * shuffle to bucket cardinality.
    */
  def exemplars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("service", svc)
      .withColumn("vi", vi)
      .withColumn("trace_id",
        md5(concat(col("user_id").cast("string"), lit("/"),
          date_format(col("ts"), "yyyy-MM-dd"))))
      .groupBy(col("service"), dayofmonth(col("ts")).as("day"),
        hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), max(col("vi")).as("max_c"),
        max(struct(col("vi"), col("trace_id")))
          .getField("trace_id").as("exemplar_trace_id"))
      .orderBy(col("service"), col("day"), col("hour"))

  /** Explicit-bucket histogram in the Prometheus CUMULATIVE-le form
    * (what `histogram_quantile` consumes): per (service, le) the count
    * of samples ≤ le. Bucketing is a map-only projection (no
    * per-boundary explode); the cumulative shape comes from one
    * window over the (service × boundaries)-cardinality aggregate.
    * Samples above the top boundary appear in no finite bucket (the
    * implicit +Inf bucket is the series total).
    */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val le = Boundaries.foldRight(lit(null).cast("double")) { (b, acc) =>
      when(col("value") <= b, lit(b)).otherwise(acc)
    }
    val wCum = Window.partitionBy(col("service")).orderBy(col("le"))
    Tables.events(spark, dir)
      .withColumn("service", svc)
      .withColumn("le", le)
      .filter(col("le").isNotNull)
      .groupBy(col("service"), col("le"))
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("cum_n", sum(col("bucket_n")).over(wCum))
      .select(col("service"), col("le"), col("cum_n"))
      .orderBy(col("service"), col("le"))
  }

  /** PromQL `histogram_quantile(q, …)` over the explicit buckets, per
    * service: rank = q × total samples; the target bucket is the
    * first with cumulative count ≥ rank; the estimate interpolates
    * linearly inside it (lower bound 0 for the first bucket). A rank
    * falling past the top finite bucket (the +Inf bucket) clamps to
    * the top boundary — the PromQL convention. Runs entirely on the
    * (service × boundaries)-cardinality frame; the only corpus-scaled
    * work is the histogram aggregate itself.
    */
  def histogramQuantile(spark: SparkSession, dir: String,
                        q: Double = 0.95): DataFrame = {
    val buckets = histogram(spark, dir)
    val totals = Tables.events(spark, dir)
      .withColumn("service", svc)
      .groupBy(col("service")).agg(count(lit(1)).as("total"))
    val wLe = Window.partitionBy(col("service")).orderBy(col("le"))
    val hit = buckets
      .withColumn("lo", coalesce(lag(col("le"), 1).over(wLe), lit(0.0)))
      .withColumn("cum_before", coalesce(lag(col("cum_n"), 1).over(wLe), lit(0L)))
      .join(totals, "service")
      .withColumn("rank", lit(q) * col("total"))
      .filter(col("cum_n") >= col("rank"))
      .groupBy(col("service"))
      .agg(min_by(
        col("lo") + (col("le") - col("lo")) *
          (col("rank") - col("cum_before")) / (col("cum_n") - col("cum_before")),
        col("le")).as("est"))
    // services whose rank exceeds every finite cumulative count clamp
    // to the top boundary
    totals.join(hit, Seq("service"), "left")
      .select(col("service"),
        round(coalesce(col("est"), lit(Boundaries.last)), 4).as(s"p${(q * 100).toInt}"))
      .orderBy(col("service"))
  }

  /** PromQL `increase()` for DELTA-temporality sums
    * (temporality = 1): each point already IS an increment, so the
    * bucket increase is a plain windowless sum — no lag, no reset
    * rule, map-side combined; the cheapest possible shape (one
    * aggregate shuffle to series×bucket cardinality). The spec proves
    * it equals the cumulative twin on an equivalent stream (same
    * underlying deltas exported both ways).
    */
  def increaseFromLakeDelta(spark: SparkSession, metricsRoot: String,
                            metricName: String): DataFrame = {
    val t0 = graft.sources.LogSync.table(spark, metricsRoot)
    val t = if (t0.columns.contains("temporality")) t0
            else t0.withColumn("temporality", lit(null).cast("int"))
    t.filter(col("kind") === "sum" && col("metric_name") === metricName &&
        col("is_monotonic") && col("temporality") === 1)
      .groupBy(col("service_name"), col("metric_name"),
        date_trunc("hour", col("timestamp")).as("bucket"))
      .agg(sum(col("value")).as("increase"))
      .orderBy(col("service_name"), col("metric_name"), col("bucket"))
  }

  /** EXPONENTIAL-histogram quantile — the Prometheus native-histogram
    * estimator over the contract synthesis: every sample lands in the
    * scale-0 base-2 bucket `idx = floor(log2(vi))`, computed EXACTLY
    * via integer bit length (`length(bin(vi)) - 1` — no float log at
    * bucket boundaries, bit-identical across engines); the quantile
    * walks the cumulative bucket counts and interpolates linearly
    * inside `[2^idx, 2^(idx+1))`, with ranks inside the zero bucket
    * answering 0 — the native-histogram analogue of
    * [[histogramQuantile]].
    *
    * Scale shape: one map-only projection + ONE aggregate shuffle to
    * (service × ~⌈log₂ max⌉)-cardinality; the rank walk runs on that
    * tiny frame.
    */
  def expQuantile(spark: SparkSession, dir: String, q: Double = 0.95): DataFrame = {
    val base = counterBase(spark, dir).select(col("service"), col("vi"))
    val buckets = base.filter(col("vi") >= 1)
      .withColumn("idx", (length(bin(col("vi"))) - 1).cast("int"))
      .groupBy(col("service"), col("idx"))
      .agg(count(lit(1)).as("bucket_n"))
    val totals = base.groupBy(col("service"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("vi") === 0, 1L).otherwise(0L)).as("zero_n"))
    val wIdx = Window.partitionBy(col("service")).orderBy(col("idx"))
    val hit = buckets
      .withColumn("cum_before", coalesce(sum(col("bucket_n")).over(
        wIdx.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(totals, "service")
      .withColumn("rank", lit(q) * col("total"))
      .filter(col("zero_n") + col("cum_before") + col("bucket_n") >= col("rank"))
      .groupBy(col("service"))
      .agg(min_by(
        pow(lit(2.0), col("idx")) +
          (pow(lit(2.0), col("idx") + 1) - pow(lit(2.0), col("idx"))) *
          (col("rank") - col("zero_n") - col("cum_before")) / col("bucket_n"),
        col("idx")).as("est"))
    totals
      .withColumn("rank", lit(q) * col("total"))
      .join(hit, Seq("service"), "left")
      .select(col("service"),
        round(when(col("zero_n") >= col("rank"), lit(0.0)).otherwise(col("est")), 4)
          .as(s"p${(q * 100).toInt}_c"))
      .orderBy(col("service"))
  }

  /** [[expQuantile]]'s library twin over INGESTED exponential-histogram
    * points (the `kind = "exp_histogram"` rows the OTLP edge lands,
    * base-2 structure in `bucket_counts` —
    * [[graft.sources.OtlpMetrics.expStructSchema]]). Points of one
    * series may arrive at DIFFERENT scales (SDKs rescale under
    * pressure): merged at the series' MINIMUM scale — a bucket at
    * scale s maps onto coarse index `idx >> (s − minScale)`
    * (arithmetic shift: exact pair-merging, correct for negative
    * indexes) — then the same rank walk with bounds
    * `(2^(idx·2^−scale), 2^((idx+1)·2^−scale)]`. Zero-bucket ranks
    * answer 0.
    *
    * Scale shape: bucket runs explode to (points × run length) rows,
    * aggregate to series×idx cardinality; everything downstream is
    * tiny. Estimator error is the bucket's relative width
    * (≤ 2^(2^−minScale) − 1), the native-histogram guarantee.
    */
  def expQuantileOf(points: DataFrame, q: Double = 0.95): DataFrame = {
    val parsed = points
      .select(col("service_name"),
        from_json(col("bucket_counts"),
          graft.sources.OtlpMetrics.expStructSchema).as("x"),
        col("point_count"))
      .select(col("service_name"), col("x.scale").as("scale"),
        col("x.zeroCount").as("zero_n"),
        col("x.positive.offset").as("p_off"),
        col("x.positive.bucketCounts").as("p_counts"),
        col("x.negative.offset").as("n_off"),
        col("x.negative.bucketCounts").as("n_counts"),
        col("point_count"))
    val minScale = parsed.groupBy(col("service_name"))
      .agg(min(col("scale")).as("min_scale"))
    // ONE ordered bucket lattice per series: negative buckets (grp −1,
    // walked most-negative first, i.e. descending index), the zero
    // bucket (grp 0), positive buckets (grp +1, ascending index) —
    // so the rank walk covers the REAL line order; a positive-only
    // walk would shift or null quantiles for series with negative
    // values while still counting them in the total
    def side(offCol: String, countsCol: String, grp: Int) =
      parsed.join(broadcast(minScale), "service_name")
        .select(col("service_name"), col("min_scale"), col("scale"),
          col(offCol).as("off"), posexplode(col(countsCol)).as(Seq("pos", "cnt")))
        .filter(col("cnt") > 0)
        .withColumn("idx",
          expr("shiftright(off + pos, scale - min_scale)").cast("int"))
        .groupBy(col("service_name"), col("min_scale"), col("idx"))
        .agg(sum(col("cnt")).as("bucket_n"))
        .withColumn("grp", lit(grp))
    val zeroRows = parsed.groupBy(col("service_name"))
      .agg(sum(col("zero_n")).as("bucket_n"))
      .filter(col("bucket_n") > 0)
      .join(broadcast(minScale), "service_name")
      .select(col("service_name"), col("min_scale"), lit(0).as("idx"),
        col("bucket_n"), lit(0).as("grp"))
    val buckets = side("n_off", "n_counts", -1)
      .unionByName(zeroRows)
      .unionByName(side("p_off", "p_counts", 1))
      // line order: negatives descending idx, then zero, then
      // positives ascending
      .withColumn("ord", when(col("grp") === -1, -col("idx")).otherwise(col("idx")))
    val totals = parsed.groupBy(col("service_name"))
      .agg(sum(col("point_count")).as("total"))
    val wOrd = Window.partitionBy(col("service_name"))
      .orderBy(col("grp"), col("ord"))
    def pow2(i: Column): Column = pow(lit(2.0), i * pow(lit(2.0), -col("min_scale")))
    // bucket edges on the real line: positive (2^(i·s), 2^((i+1)·s)],
    // negative the mirror [−2^((i+1)·s), −2^(i·s)), zero [0, 0]
    val lo = when(col("grp") === 1, pow2(col("idx")))
      .when(col("grp") === 0, lit(0.0))
      .otherwise(-pow2(col("idx") + 1))
    val up = when(col("grp") === 1, pow2(col("idx") + 1))
      .when(col("grp") === 0, lit(0.0))
      .otherwise(-pow2(col("idx")))
    val hit = buckets
      .withColumn("cum_before", coalesce(sum(col("bucket_n")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(totals, "service_name")
      .withColumn("rank", lit(q) * col("total"))
      .filter(col("cum_before") + col("bucket_n") >= col("rank"))
      .groupBy(col("service_name"))
      .agg(min_by(
        lo + (up - lo) * (col("rank") - col("cum_before")) / col("bucket_n"),
        struct(col("grp"), col("ord"))).as("est"))
    totals.join(hit, Seq("service_name"), "left")
      .select(col("service_name"), col("est").as(s"p${(q * 100).toInt}"))
      .orderBy(col("service_name"))
  }

  /** [[expQuantileOf]] over the OTLP-ingested metric lake. */
  def expQuantileFromLake(spark: SparkSession, metricsRoot: String,
                          metricName: String, q: Double = 0.95): DataFrame =
    expQuantileOf(graft.sources.LogSync.table(spark, metricsRoot)
      .filter(col("kind") === "exp_histogram" && col("metric_name") === metricName), q)

  /** Quantile surface for INGESTED SUMMARY points (the legacy metric
    * kind prometheus client bridges still emit): summaries carry
    * PRE-COMPUTED quantile/value pairs, so there is no rank walk —
    * per series, take the LATEST point (summaries are cumulative-style
    * snapshots; there is no temporality field to consult) and surface
    * the value at the requested quantile (exact match within 1e-9 —
    * a summary only answers the quantiles its exporter chose). One
    * series-keyed aggregate; map-only otherwise.
    */
  def summaryQuantileFromLake(spark: SparkSession, metricsRoot: String,
                              metricName: String, q: Double = 0.95): DataFrame = {
    val t = graft.sources.LogSync.table(spark, metricsRoot)
      .filter(col("kind") === "summary" && col("metric_name") === metricName)
    t.groupBy(col("service_name"))
      .agg(max(struct(col("timestamp"),
        col("bucket_counts").as("bucket_counts"))).as("m"))
      .select(col("service_name"),
        try_element_at(
          filter(
            from_json(col("m.bucket_counts"),
              graft.sources.OtlpMetrics.summaryQuantileSchema),
            x => abs(x.getField("quantile") - lit(q)) < lit(1e-9)),
          lit(1)).getField("value").as(s"p${(q * 100).toInt}"))
      .orderBy(col("service_name"))
  }

  /** `histogram_quantile` over INGESTED explicit-bucket histogram
    * points (the `kind = "histogram"` rows the OTLP edge lands) — the
    * consumer a metrics backend runs on real exported histograms:
    * per-point bucket runs MERGE per series (counts sum bucket for
    * bucket across points/windows — the aggregation explicit-bucket
    * histograms exist to make cheap), then the same rank walk +
    * linear interpolation as [[histogramQuantile]]. The trailing
    * +Inf overflow entry (OTLP carries size(bounds)+1 counts)
    * contributes to the total only; ranks past the last finite
    * cumulative clamp to the series' top DECLARED bound.
    *
    * Scale shape: bucket runs explode to (points × bounds) rows,
    * aggregate to series×bounds cardinality; the walk runs on that
    * tiny frame. One corpus-scaled aggregate, no window over points.
    */
  def histQuantileOf(points: DataFrame, q: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
    // TEMPORALITY decides the merge rule: DELTA points (temporality 1)
    // are per-window counts — they SUM bucket for bucket; CUMULATIVE
    // points (2) carry counts-since-start — summing them would
    // multiply every sample by the point count, so only the series'
    // LATEST point stands (ties break on higher counts, matching the
    // counter newest-sample rule). Null/UNSPECIFIED(0)/unrecognized
    // take the CUMULATIVE rule too — OTLP SDKs default histograms to
    // cumulative and proto3 renders an unset enum as 0, so the unknown
    // cases must not be summed (same default [[increaseFromLake]]
    // applies to sums). A frame WITHOUT the column is the caller
    // asserting delta runs (the bare-runs API shape); lake rows always
    // carry the column.
    val cols = Seq(col("service_name"), col("point_count"),
      col("bucket_counts"), col("explicit_bounds"))
    // the source frame is referenced by BOTH temporality branches, and
    // the merged series×points frame by the bucket fold AND the totals
    // aggregate — without a cut, every reference re-expands the whole
    // upstream subtree (for the lake twin: 4 full scans + keep-set
    // semi-joins, 56 Exchange nodes measured). Project to exactly the
    // consumed columns, then materialize ONCE per invocation
    // (localCheckpoint — recomputed every call, nothing persists
    // across runs); the points frame is series-cardinality
    // control-plane, so the checkpoint is KB-scale.
    val narrowed = points.select(
      (cols ++ (if (points.columns.contains("temporality"))
        Seq(col("temporality"), col("timestamp")) else Nil)): _*)
      .localCheckpoint()
    val merged =
      if (!narrowed.columns.contains("temporality")) narrowed.select(cols: _*)
      else {
        val deltas = narrowed
          .filter(col("temporality") === 1)
          .select(cols: _*)
        val latestCum = narrowed
          .filter(col("temporality").isNull || col("temporality") =!= 1)
          .groupBy(col("service_name"))
          .agg(max(struct(col("timestamp"), col("point_count").as("point_count"),
            col("bucket_counts").as("bucket_counts"),
            col("explicit_bounds").as("explicit_bounds"))).as("m"))
          .select(col("service_name"), col("m.point_count").as("point_count"),
            col("m.bucket_counts").as("bucket_counts"),
            col("m.explicit_bounds").as("explicit_bounds"))
        deltas.unionByName(latestCum)
      }
    // bucket counts land as a JSON array of STRINGS (OTLP writes
    // fixed64 as strings) — parse as strings, cast the array to longs;
    // one more cut: `parsed` feeds the bucket fold and the totals agg
    val parsed = merged.select(col("service_name"), col("point_count"),
      from_json(col("bucket_counts"), ArrayType(StringType))
        .cast("array<long>").as("counts"),
      from_json(col("explicit_bounds"), ArrayType(DoubleType)).as("bounds"))
      .localCheckpoint()
    val buckets = parsed
      .select(col("service_name"), col("bounds"),
        posexplode(col("counts")).as(Seq("i", "cnt")))
      .filter(col("i") < size(col("bounds")) && col("cnt") > 0)
      .select(col("service_name"),
        expr("bounds[CAST(i AS INT)]").as("le"), col("cnt"))
      .groupBy(col("service_name"), col("le"))
      .agg(sum(col("cnt")).as("bucket_n"))
    // count/sum-only points carry "explicitBounds":[] (spec-legal):
    // they contribute to the total but declare no bound — guard the
    // element_at (index 0 throws) and let an all-+Inf series answer a
    // null quantile honestly
    val totals = parsed.groupBy(col("service_name"))
      .agg(sum(col("point_count")).as("total"),
        max(when(size(col("bounds")) > 0,
          element_at(col("bounds"), size(col("bounds"))))).as("top_le"))
    val wLe = Window.partitionBy(col("service_name")).orderBy(col("le"))
    val hit = buckets
      .withColumn("lo", coalesce(lag(col("le"), 1).over(wLe), lit(0.0)))
      .withColumn("cum_before", coalesce(sum(col("bucket_n")).over(
        wLe.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(totals.select(col("service_name"), col("total")), "service_name")
      .withColumn("rank", lit(q) * col("total"))
      .filter(col("cum_before") + col("bucket_n") >= col("rank"))
      .groupBy(col("service_name"))
      .agg(min_by(
        col("lo") + (col("le") - col("lo")) *
          (col("rank") - col("cum_before")) / col("bucket_n"),
        col("le")).as("est"))
    totals.join(hit, Seq("service_name"), "left")
      .select(col("service_name"),
        round(coalesce(col("est"), col("top_le")), 4).as(s"p${(q * 100).toInt}"))
      .orderBy(col("service_name"))
  }

  /** [[histQuantileOf]] over the OTLP-ingested metric lake. */
  def histQuantileFromLake(spark: SparkSession, metricsRoot: String,
                           metricName: String, q: Double = 0.95): DataFrame =
    histQuantileOf(graft.sources.LogSync.table(spark, metricsRoot)
      .filter(col("kind") === "histogram" && col("metric_name") === metricName), q)

  /** PEAK EXEMPLARS over INGESTED data points — the real-data twin of
    * the synthesized [[exemplars]] query: per (service, metric, day,
    * hour), the trace id of the bucket's peak exemplar value via the
    * same mergeable `(value, trace_id)` struct max. The exemplars
    * column is the canonical JSON array the intake lands
    * ([[graft.sources.OtlpMetrics.exemplarSchema]]); lakes written
    * before the column existed read as exemplar-free.
    */
  def exemplarsFromLake(spark: SparkSession, metricsRoot: String,
                        metricName: String): DataFrame = {
    val t0 = graft.sources.LogSync.table(spark, metricsRoot)
    val t = if (t0.columns.contains("exemplars")) t0
            else t0.withColumn("exemplars", lit(null).cast("string"))
    // per-POINT peak first (array_max over (value, trace) structs —
    // real SDKs attach several exemplars to one point), then the
    // bucket fold: `n` counts DATA POINTS carrying exemplars, not
    // exploded exemplar rows, matching the synthesized twin's
    // sample-count semantics
    t.filter(col("metric_name") === metricName && col("exemplars").isNotNull)
      .select(col("service_name"), col("metric_name"), col("timestamp"),
        array_max(transform(
          from_json(col("exemplars"), graft.sources.OtlpMetrics.exemplarSchema),
          e => struct(e.getField("value").as("value"),
            e.getField("traceId").as("traceId")))).as("peak"))
      .groupBy(col("service_name"), col("metric_name"),
        dayofmonth(col("timestamp")).as("day"), hour(col("timestamp")).as("hour"))
      .agg(count(lit(1)).as("n"),
        max(col("peak.value")).as("max_v"),
        max(col("peak")).getField("traceId").as("exemplar_trace_id"))
      .orderBy(col("service_name"), col("metric_name"), col("day"), col("hour"))
  }

  private val metricsLake = graft.sources.FixtureBuild("graft_metric_lake_v6")

  /** A METRIC LAKE built from the synthesis through the REAL wire
    * ingest path: each cumulative counter sample encoded as a
    * protobuf `MetricsData` envelope ([[graft.sources.OtlpMetrics
    * .toOtlpProtoSum]]) → wire decode → the shared parse →
    * partitioned write → sync; memoized per sf dir (the metrics
    * analog of `TraceAnalytics.tracesLakeRoot`, through the
    * HARDER transport).
    */
  private[graft] def metricsLakeRoot(spark: SparkSession, dir: String): String =
    metricsLake(spark, dir) { root =>
      import graft.sources.{LogSync, LogWriter, OtlpMetrics}
      graft.functions.VectorFunctions.register(spark)
      // each sample carries one EXEMPLAR: the event's own value and
      // the md5(user/day) trace key all three signals share — the
      // wire-ingested twin of the synthesized exemplars query. The
      // samples are counterSamples ITSELF (one cum definition in the
      // codebase — the fixture cannot drift from the synthesis)
      val samples = counterSamples(spark, dir)
        .withColumn("xtrace", md5(concat(col("user_id").cast("string"), lit("/"),
          date_format(col("ts"), "yyyy-MM-dd"))))
      val bins = samples.select(OtlpMetrics.toOtlpProtoSum(
        unix_micros(col("ts")), col("service"), lit("requests"), lit("{req}"),
        col("cum").cast("double"), lit(true), lit(2),
        col("xtrace"), col("vi").cast("double")).as("bin"))
      LogWriter.write(OtlpMetrics.parseProto(bins, col("bin")), root,
        layout = LogWriter.DailyLayout)
      // plus per-(service, hour) explicit-bucket HISTOGRAM points of
      // the same value stream (JSON transport — both transports land
      // in one lake, like a mixed exporter fleet): size(bounds)+1
      // bucket counts, the trailing +Inf overflow; DELTA temporality —
      // each point is one hour's window, the shape whose bucket runs
      // legitimately SUM
      val bs = Boundaries
      val hourly = Tables.events(spark, dir)
        .withColumn("service", svc)
        .groupBy(col("service"), date_trunc("hour", col("ts")).as("hb"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("value")), 6).as("s") +:
            bs.zipWithIndex.map { case (b, i) =>
              val lowOk = if (i == 0) lit(true) else col("value") > bs(i - 1)
              sum(when(lowOk && col("value") <= b, 1L).otherwise(0L)).as(s"b$i")
            } :+
            sum(when(col("value") > bs.last, 1L).otherwise(0L)).as("bover")): _*)
      val countsArr = array(
        (bs.indices.map(i => col(s"b$i").cast("string")) :+
          col("bover").cast("string")): _*)
      // and per-event GAUGE points (metric "cpu") so the gauge kind is
      // certified end-to-end too
      val gaugeEnvs = Tables.events(spark, dir)
        .withColumn("service", svc)
        .select(OtlpMetrics.toOtlpJsonGauge(
          unix_micros(col("ts")), col("service"), lit("cpu"), lit("1"),
          col("value")).as("payload"))
      LogWriter.write(OtlpMetrics.parse(gaugeEnvs, col("payload")), root,
        layout = LogWriter.DailyLayout)
      val histEnvs = hourly.select(OtlpMetrics.toOtlpJsonHistogram(
        unix_micros(col("hb")), col("service"), lit("latency"), lit("ms"),
        col("n"), col("s"), countsArr, typedLit(bs)).as("payload"))
      LogWriter.write(OtlpMetrics.parse(histEnvs, col("payload")), root,
        layout = LogWriter.DailyLayout)
      // plus per-(service, day) SUMMARY points (the legacy
      // prometheus-bridge kind): pre-computed quantile values that are
      // DETERMINISTIC functions of the window (p95 slot carries the
      // day's max — replayable in the DuckDB oracle), count/sum from
      // the same aggregate
      val daily = Tables.events(spark, dir)
        .withColumn("service", svc)
        .groupBy(col("service"), date_trunc("day", col("ts")).as("db"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("s"),
          max(col("value")).as("mx"))
      val summaryEnvs = daily.select(OtlpMetrics.toOtlpJsonSummary(
        unix_micros(col("db")), col("service"), lit("latency_summary"),
        lit("ms"), col("n"), col("s"),
        array(struct(lit(0.95).as("quantile"), col("mx").as("value"))))
        .as("payload"))
      LogWriter.write(OtlpMetrics.parse(summaryEnvs, col("payload")), root,
        layout = LogWriter.DailyLayout)
      LogSync.sync(spark, root)
      ()
    }


  /** `metrics_lake_rate`: [[increaseFromLake]] over the wire-ingested
    * metric lake — hourly PromQL increase of the daily-resetting
    * cumulative series, certified against an oracle that replays the
    * synthesis + the LAKE's lag rule (per-series order by
    * (timestamp, value)). The hash-match certifies protobuf encode →
    * wire decode → flatten → partitioned write → sync → lake read →
    * reset-corrected increase END-TO-END — the full path of a stock
    * http/protobuf metrics exporter against this backend.
    */
  def lakeRate(spark: SparkSession, dir: String): DataFrame =
    increaseFromLake(spark, metricsLakeRoot(spark, dir), "requests")
      .select(col("service_name"), col("metric_name"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("increase"))
      .orderBy(col("service_name"), col("metric_name"), col("bucket"))

  /** `metrics_lake_hist_p95`: [[histQuantileFromLake]] over the
    * ingested histogram points — the SAME oracle as
    * `metrics_hist_p95`, so the hash-match certifies envelope →
    * parse → write → sync → bucket-run merge → quantile end-to-end
    * (per-hour points merge back to exactly the per-service
    * histogram the one-shot contract computes).
    */
  def lakeHistP95(spark: SparkSession, dir: String): DataFrame =
    histQuantileFromLake(spark, metricsLakeRoot(spark, dir), "latency")
      .select(col("service_name").as("service"), col("p95"))
      .orderBy(col("service"))

  /** `metrics_lake_gauge`: the gauge rollup over INGESTED gauge
    * points — SAME oracle as `metrics_gauge`, certifying the gauge
    * kind (envelope → parse → write → sync → read → rollup)
    * end-to-end.
    */
  def lakeGauge(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LogSync.table(spark, metricsLakeRoot(spark, dir))
      .filter(col("kind") === "gauge" && col("metric_name") === "cpu")
      .groupBy(col("service_name").as("service"),
        dayofmonth(col("timestamp")).as("day"), hour(col("timestamp")).as("hour"))
      .agg(count(lit(1)).as("n"),
        min(vi).as("min_c"),
        max(vi).as("max_c"),
        sum(vi).as("__sum_vi"))
      // same exact-cents mean as [[gauge]] — see the rationale there
      .withColumn("avg_v",
        expr("(__sum_vi * 200 + n) div (2 * n)") / lit(10000.0))
      .drop("__sum_vi")
      .orderBy(col("service"), col("day"), col("hour"))

  /** `metrics_lake_summary`: [[summaryQuantileFromLake]] over the
    * ingested SUMMARY points — the fixture's per-(service, day)
    * summaries carry the day's max in the 0.95 slot (a deterministic
    * pre-computed quantile, the way a prometheus-bridge exporter
    * ships whatever its client library computed), so the oracle
    * replays: each service's LATEST day's max value. Certifies the
    * Summary kind envelope → parse → write → sync → latest-point
    * quantile extraction end-to-end.
    */
  def lakeSummary(spark: SparkSession, dir: String): DataFrame =
    summaryQuantileFromLake(spark, metricsLakeRoot(spark, dir),
        "latency_summary", 0.95)
      .select(col("service_name").as("service"), col("p95"))
      .orderBy(col("service"))

  /** `metrics_lake_exemplars`: [[exemplarsFromLake]] over the
    * wire-ingested lake — the SAME oracle as `metrics_exemplars`, so
    * the hash-match certifies exemplar encode → wire decode → JSON
    * landing → typed re-read → struct-max argmax end-to-end.
    */
  def lakeExemplars(spark: SparkSession, dir: String): DataFrame =
    exemplarsFromLake(spark, metricsLakeRoot(spark, dir), "requests")
      .select(col("service_name").as("service"), col("day"), col("hour"),
        col("n"), col("max_v").cast("long").as("max_c"),
        col("exemplar_trace_id"))
      .orderBy(col("service"), col("day"), col("hour"))

  /** PROTOBUF-transport ingest round-trip proof for the metrics
    * signal: each event as one cumulative monotonic-sum data point
    * encoded to OTLP `MetricsData` wire bytes
    * ([[graft.sources.OtlpMetrics.toOtlpProtoSum]]) →
    * [[graft.sources.OtlpMetrics.parseProto]] (wire decode → the
    * shared JSON-envelope parse) → per-(service, day, hour)
    * aggregate. The oracle computes the same aggregate from `events`
    * directly, so the hash-match certifies the protobuf
    * encode→decode→flatten path point-for-point, including the
    * monotonic flag and temporality surviving the wire. Map-only
    * encode+decode; the only shuffle is the final aggregate.
    */
  def otlpProtoRoundtrip(spark: SparkSession, dir: String): DataFrame =
    protoPoints(spark, dir)
      .filter(col("kind") === "sum" && col("is_monotonic") && col("temporality") === 2)
      .groupBy(col("service_name"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_c"),
        date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
        date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
      .orderBy(col("service_name"))

  /** The wire-parsed data-point frame, persisted once per session —
    * the [[LogAnalytics]] `otelProtoLogs` discipline: the protobuf
    * encode→decode path is certified once, not re-run per query.
    */
  private val protoCache = graft.SessionCaches.memo[String, DataFrame](_.unpersist(false))

  private def protoPoints(spark: SparkSession, dir: String): DataFrame =
    protoCache(spark, dir) {
      import graft.sources.OtlpMetrics
      graft.functions.VectorFunctions.register(spark)
      val payloads = Tables.events(spark, dir)
        .select(OtlpMetrics.toOtlpProtoSum(
          unix_micros(col("ts")), svc, lit("requests"), lit("{req}"),
          col("value"), lit(true), lit(2)).as("bin"))
      OtlpMetrics.parseProto(payloads, col("bin")).persist()
    }
}
