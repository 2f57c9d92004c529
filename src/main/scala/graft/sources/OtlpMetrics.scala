package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTLP/JSON METRICS ingestion — the `/v1/metrics` leg of the intake
  * (completing the three OTLP signals on one socket, the shape of the
  * reference's collector edge). Envelope: resourceMetrics →
  * scopeMetrics → metrics, each metric carrying ONE of the data
  * kinds; this reader flattens the three kinds every stock SDK emits:
  *
  *  - `gauge` / `sum` number data points → one row per point with a
  *    double `value` (OTLP/JSON writes int points as the string
  *    `asInt`; both forms coalesce), the sum's monotonic flag and
  *    temporality preserved;
  *  - `histogram` data points → one row per point with point-level
  *    `count`/`hsum` and the bucket counts + explicit bounds kept as
  *    JSON arrays — nothing a backend needs is dropped.
  *
  * One row per data point, `timestamp` first so the metric lake
  * shares [[LogWriter]]'s partitioned layouts. Same execution shape
  * as the other signals: `from_json` + `explode` + expressions,
  * map-only, zero shuffles.
  */
object OtlpMetrics {

  private def attrType = OtlpAttrs.attrType

  private val exemplarType = new StructType()
    .add("timeUnixNano", StringType)
    .add("asDouble", DoubleType)
    .add("asInt", StringType)
    .add("traceId", StringType)
    .add("spanId", StringType)

  private val numberPointType = new StructType()
    .add("timeUnixNano", StringType)
    .add("asDouble", DoubleType)
    .add("asInt", StringType) // OTLP/JSON encodes int64 as string
    .add("exemplars", ArrayType(exemplarType))
    .add("attributes", attrType)

  private val histPointType = new StructType()
    .add("timeUnixNano", StringType)
    .add("count", StringType)
    .add("sum", DoubleType)
    .add("bucketCounts", ArrayType(StringType))
    .add("explicitBounds", ArrayType(DoubleType))
    .add("exemplars", ArrayType(exemplarType))
    .add("attributes", attrType)

  private val expBucketsType = new StructType()
    .add("offset", IntegerType)
    .add("bucketCounts", ArrayType(StringType))

  private val expPointType = new StructType()
    .add("timeUnixNano", StringType)
    .add("count", StringType)
    .add("sum", DoubleType)
    .add("scale", IntegerType)
    .add("zeroCount", StringType)
    .add("positive", expBucketsType)
    .add("negative", expBucketsType)
    .add("attributes", attrType)

  private val summaryPointType = new StructType()
    .add("timeUnixNano", StringType)
    .add("count", StringType)
    .add("sum", DoubleType)
    .add("quantileValues", ArrayType(new StructType()
      .add("quantile", DoubleType)
      .add("value", DoubleType)))
    .add("attributes", attrType)

  private val metricType = new StructType()
    .add("name", StringType)
    .add("unit", StringType)
    .add("gauge", new StructType()
      .add("dataPoints", ArrayType(numberPointType)))
    .add("sum", new StructType()
      .add("dataPoints", ArrayType(numberPointType))
      // StringType: OTLP/JSON writes enums as integers, but proto3
      // canonical JSON (some SDKs) writes the NAME — a string field
      // accepts both tokens; [[temporalityOf]] normalizes
      .add("aggregationTemporality", StringType)
      .add("isMonotonic", BooleanType))
    .add("histogram", new StructType()
      .add("dataPoints", ArrayType(histPointType))
      .add("aggregationTemporality", StringType))
    .add("exponentialHistogram", new StructType()
      .add("dataPoints", ArrayType(expPointType))
      .add("aggregationTemporality", StringType))
    .add("summary", new StructType()
      .add("dataPoints", ArrayType(summaryPointType)))

  /** Schema of one OTLP/HTTP metrics envelope. */
  val otlpSchema: StructType = new StructType()
    .add("resourceMetrics", ArrayType(new StructType()
      .add("resource", new StructType().add("attributes", attrType))
      .add("scopeMetrics", ArrayType(new StructType()
        .add("scope", new StructType()
          .add("name", StringType).add("version", StringType))
        .add("metrics", ArrayType(metricType))))))

  private def attrsJson(attrs: Column): Column = OtlpAttrs.attrsJson(attrs)

  private def resourceAttr(attrs: Column, key: String): Column =
    OtlpAttrs.resourceAttr(attrs, key)

  /** Normalize an aggregationTemporality token to the enum int: OTLP
    * integers ("1"/"2") pass through, proto3-canonical names map, and
    * anything else lands NULL rather than poisoning the envelope.
    */
  private def temporalityOf(raw: Column): Column =
    when(raw.rlike("^[0-9]+$"), raw.cast("int"))
      .when(raw.contains("DELTA"), lit(1))
      .when(raw.contains("CUMULATIVE"), lit(2))
      .otherwise(lit(null).cast("int"))

  /** Parse a column of OTLP/JSON metric envelopes into flattened
    * data-point rows (kind ∈ gauge | sum | histogram).
    */
  def parse(df: DataFrame, jsonCol: Column): DataFrame = {
    // each exploded row carries only the resource attributes, the
    // scope name and its metric's own fields: the arrays are projected
    // out as their own columns before they are exploded, so no output
    // row copies its envelope's whole scope, metric and point arrays
    val exploded = df.select(from_json(jsonCol, otlpSchema).as("o"))
      .select(explode(col("o.resourceMetrics")).as("rm"))
      .select(col("rm.resource.attributes").as("rattrs"), col("rm.scopeMetrics").as("sms"))
      .select(col("rattrs"), explode(col("sms")).as("sm"))
      .select(col("rattrs"), col("sm.scope.name").as("scope_name"), col("sm.metrics").as("ms"))
      .select(col("rattrs"), col("scope_name"), explode(col("ms")).as("m"))

    // the data points of one metric kind, `metricCols` read off the
    // metric before its point array is exploded
    def pointsOf(field: String, metricCols: Column*) = exploded
      .filter(col(s"m.$field.dataPoints").isNotNull)
      .select(Seq(col("rattrs"), col("scope_name"), col("m.name").as("metric_name"),
        col("m.unit").as("unit")) ++ metricCols :+ col(s"m.$field.dataPoints").as("dps"): _*)
      .select(col("*"), explode(col("dps")).as("dp"))
      .drop("dps")

    def base(kind: String) = Seq(
      timestamp_micros(expr("CAST(dp.timeUnixNano AS BIGINT) div 1000")).as("timestamp"),
      coalesce(resourceAttr(col("rattrs"), "service.name"),
        lit("unknown")).as("service_name"),
      col("metric_name"),
      col("unit"),
      lit(kind).as("kind"),
      col("scope_name"),
      attrsJson(col("rattrs")).as("resource_attributes"))

    // the data point's EXEMPLARS — the metrics→traces hop carried on
    // the wire — land as one canonical JSON array (null when absent),
    // derived POST-parse so both transports produce byte-identical
    // values; consumers re-read with [[exemplarSchema]]
    def exemplarsJson(dp: Column): Column =
      when(dp.isNotNull && size(dp) > 0, to_json(transform(dp, e =>
        struct(e.getField("traceId").as("traceId"),
          e.getField("spanId").as("spanId"),
          e.getField("timeUnixNano").as("ts"),
          coalesce(e.getField("asDouble"),
            e.getField("asInt").cast("double")).as("value")))))

    def numberRows(field: String, kind: String) = pointsOf(field,
        (if (kind == "sum") coalesce(col("m.sum.isMonotonic"), lit(false))
         else lit(null).cast("boolean")).as("is_monotonic"),
        // temporality decides whether rate() needs reset correction
        // (cumulative=2) or a plain sum (delta=1) — irrecoverable
        // after ingest, so it must land (gauges have none)
        (if (kind == "sum") temporalityOf(col("m.sum.aggregationTemporality"))
         else lit(null).cast("int")).as("temporality"))
      .select(base(kind) ++ Seq(
        coalesce(col("dp.asDouble"), col("dp.asInt").cast("double")).as("value"),
        col("is_monotonic"),
        col("temporality"),
        lit(null).cast("long").as("point_count"),
        lit(null).cast("double").as("point_sum"),
        lit(null).cast("string").as("bucket_counts"),
        lit(null).cast("string").as("explicit_bounds"),
        exemplarsJson(col("dp.exemplars")).as("exemplars"),
        attrsJson(col("dp.attributes")).as("attributes")): _*)

    val histRows = pointsOf("histogram",
        temporalityOf(col("m.histogram.aggregationTemporality")).as("temporality"))
      .select(base("histogram") ++ Seq(
        lit(null).cast("double").as("value"),
        lit(null).cast("boolean").as("is_monotonic"),
        col("temporality"),
        col("dp.count").cast("long").as("point_count"),
        col("dp.sum").as("point_sum"),
        to_json(col("dp.bucketCounts")).as("bucket_counts"),
        to_json(col("dp.explicitBounds")).as("explicit_bounds"),
        exemplarsJson(col("dp.exemplars")).as("exemplars"),
        attrsJson(col("dp.attributes")).as("attributes")): _*)

    // exponential-histogram points land under the SAME landed schema:
    // kind = "exp_histogram", point-level count/sum in their columns,
    // and the base-2 structure (scale, zeroCount, positive/negative
    // offset + bucket runs) as one canonical JSON object in
    // `bucket_counts` — no lake schema evolution, and consumers
    // re-read it with [[expStructSchema]]; `explicit_bounds` is null
    // (an exponential histogram has none)
    val expRows = pointsOf("exponentialHistogram",
        temporalityOf(col("m.exponentialHistogram.aggregationTemporality")).as("temporality"))
      .select(base("exp_histogram") ++ Seq(
        lit(null).cast("double").as("value"),
        lit(null).cast("boolean").as("is_monotonic"),
        col("temporality"),
        col("dp.count").cast("long").as("point_count"),
        col("dp.sum").as("point_sum"),
        to_json(struct(
          col("dp.scale").as("scale"),
          col("dp.zeroCount").cast("long").as("zeroCount"),
          struct(coalesce(col("dp.positive.offset"), lit(0)).as("offset"),
            coalesce(col("dp.positive.bucketCounts").cast("array<long>"),
              array().cast("array<long>")).as("bucketCounts")).as("positive"),
          struct(coalesce(col("dp.negative.offset"), lit(0)).as("offset"),
            coalesce(col("dp.negative.bucketCounts").cast("array<long>"),
              array().cast("array<long>")).as("bucketCounts")).as("negative")))
          .as("bucket_counts"),
        lit(null).cast("string").as("explicit_bounds"),
        lit(null).cast("string").as("exemplars"),
        attrsJson(col("dp.attributes")).as("attributes")): _*)

    // SUMMARY points (the legacy kind prometheus client bridges still
    // emit): kind = "summary", point-level count/sum in their columns,
    // and the pre-computed quantile/value pairs as one canonical JSON
    // array in `bucket_counts` (re-read with [[summaryQuantileSchema]]).
    // Summaries define no temporality (always cumulative-style
    // snapshots) and no bounds.
    val summaryRows = pointsOf("summary")
      .select(base("summary") ++ Seq(
        lit(null).cast("double").as("value"),
        lit(null).cast("boolean").as("is_monotonic"),
        lit(null).cast("int").as("temporality"),
        col("dp.count").cast("long").as("point_count"),
        col("dp.sum").as("point_sum"),
        to_json(col("dp.quantileValues")).as("bucket_counts"),
        lit(null).cast("string").as("explicit_bounds"),
        lit(null).cast("string").as("exemplars"),
        attrsJson(col("dp.attributes")).as("attributes")): _*)

    numberRows("gauge", "gauge")
      .unionByName(numberRows("sum", "sum"))
      .unionByName(histRows)
      .unionByName(expRows)
      .unionByName(summaryRows)
  }

  /** Schema of the `bucket_counts` JSON object on `exp_histogram`
    * rows — consumers `from_json(col("bucket_counts"), expStructSchema)`
    * to get the typed base-2 structure back.
    */
  val expStructSchema: StructType = new StructType()
    .add("scale", IntegerType)
    .add("zeroCount", LongType)
    .add("positive", new StructType()
      .add("offset", IntegerType).add("bucketCounts", ArrayType(LongType)))
    .add("negative", new StructType()
      .add("offset", IntegerType).add("bucketCounts", ArrayType(LongType)))

  /** Schema of the `bucket_counts` JSON array on `summary` rows —
    * consumers `from_json(col("bucket_counts"), summaryQuantileSchema)`
    * for the typed quantile/value pairs.
    */
  val summaryQuantileSchema: org.apache.spark.sql.types.ArrayType =
    ArrayType(new StructType()
      .add("quantile", DoubleType)
      .add("value", DoubleType))

  /** Schema of the `exemplars` JSON array on data-point rows —
    * consumers `from_json(col("exemplars"), exemplarSchema)` for the
    * typed metrics→traces hop.
    */
  val exemplarSchema: org.apache.spark.sql.types.ArrayType =
    ArrayType(new StructType()
      .add("traceId", StringType)
      .add("spanId", StringType)
      .add("ts", StringType)
      .add("value", DoubleType))

  /** Parse a column of protobuf `MetricsData` payloads: wire decode
    * ([[OtlpProtoSignalOps.toMetricJson]]) into the same envelope
    * shape, then the one shared [[parse]].
    */
  def parseProto(df: DataFrame, binCol: Column): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    parse(df.select(call_function("graft_otlp_metric_json", binCol).as("payload")),
      col("payload"))
  }

  /** One monotonic sum data point per envelope as protobuf
    * `MetricsData` bytes — the round-trip generator.
    */
  def toOtlpProtoSum(timeUs: Column, serviceName: Column, metricName: Column,
                     unit: Column, value: Column, isMonotonic: Column,
                     temporality: Column,
                     exemplarTrace: Column = lit(null),
                     exemplarValue: Column = lit(null)): Column =
    call_function("graft_otlp_sum_proto", struct(
      timeUs.cast("long"), serviceName.cast("string"), metricName.cast("string"),
      unit.cast("string"), value.cast("double"), isMonotonic.cast("boolean"),
      temporality.cast("int"), exemplarTrace.cast("string"),
      exemplarValue.cast("double")))

  /** One GAUGE data point per envelope as OTLP/JSON — the
    * simplest exporter shape (a scraped instantaneous value).
    */
  def toOtlpJsonGauge(timeUs: Column, serviceName: Column,
                      metricName: Column, unit: Column,
                      value: Column): Column =
    to_json(struct(
      array(struct(
        struct(array(
          struct(lit("service.name").as("key"),
            struct(serviceName.as("stringValue")).as("value"))).as("attributes"))
          .as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            metricName.as("name"),
            unit.as("unit"),
            struct(array(struct(
              (timeUs * 1000).cast("string").as("timeUnixNano"),
              value.cast("double").as("asDouble"))).as("dataPoints"))
              .as("gauge"))).as("metrics")))
          .as("scopeMetrics"))).as("resourceMetrics")))

  /** One SUMMARY data point per envelope as OTLP/JSON — the legacy
    * prometheus-bridge exporter shape: pre-computed quantile/value
    * pairs (`quantiles` = an array<struct<quantile:double,
    * value:double>> column) with the window's count and sum.
    */
  def toOtlpJsonSummary(timeUs: Column, serviceName: Column,
                        metricName: Column, unit: Column,
                        count: Column, ssum: Column,
                        quantiles: Column): Column =
    to_json(struct(
      array(struct(
        struct(array(
          struct(lit("service.name").as("key"),
            struct(serviceName.as("stringValue")).as("value"))).as("attributes"))
          .as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            metricName.as("name"),
            unit.as("unit"),
            struct(array(struct(
              (timeUs * 1000).cast("string").as("timeUnixNano"),
              count.cast("string").as("count"),
              ssum.cast("double").as("sum"),
              quantiles.as("quantileValues"))).as("dataPoints"))
              .as("summary"))).as("metrics")))
          .as("scopeMetrics"))).as("resourceMetrics")))

  /** One explicit-bucket HISTOGRAM data point per envelope as
    * OTLP/JSON — the histogram twin of [[toOtlpProtoSum]] on the JSON
    * transport (a statsd-style per-window exporter's shape):
    * `bucketCounts` carries size(bounds)+1 entries, the trailing one
    * the +Inf overflow, per the OTLP data model.
    */
  def toOtlpJsonHistogram(timeUs: Column, serviceName: Column,
                          metricName: Column, unit: Column,
                          count: Column, hsum: Column,
                          bucketCounts: Column, bounds: Column,
                          temporality: Int = 1): Column =
    to_json(struct(
      array(struct(
        struct(array(
          struct(lit("service.name").as("key"),
            struct(serviceName.as("stringValue")).as("value"))).as("attributes"))
          .as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            metricName.as("name"),
            unit.as("unit"),
            struct(
              array(struct(
                (timeUs * 1000).cast("string").as("timeUnixNano"),
                count.cast("string").as("count"),
                hsum.cast("double").as("sum"),
                bucketCounts.as("bucketCounts"),
                bounds.as("explicitBounds"))).as("dataPoints"),
              lit(temporality).as("aggregationTemporality")).as("histogram"))).as("metrics")))
          .as("scopeMetrics"))).as("resourceMetrics")))

  /** (valid data-point rows, undecodable payloads) for the protobuf
    * transport — decode failures AND shape-invalid decodes both land
    * in the rejected stream as their raw bytes.
    */
  def parseProtoWithInvalid(df: DataFrame, binCol: Column): (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val marked = df
      .select(binCol.as("bin"),
        call_function("graft_otlp_metric_json_try", binCol).as("payload"))
      .select(col("bin"), col("payload"), from_json(col("payload"), otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceMetrics").isNull ||
        size(col("o.resourceMetrics")) === 0)
      .select(col("bin").as("payload"))
    (parse(marked.filter(col("o.resourceMetrics").isNotNull &&
       size(col("o.resourceMetrics")) > 0), col("payload")), bad)
  }

  /** (valid data-point rows, shape-invalid envelopes) — the
    * quarantine split, mirroring [[OtlpLogs.parseWithInvalid]].
    */
  def parseWithInvalid(df: DataFrame, jsonCol: Column): (DataFrame, DataFrame) = {
    val marked = df.select(jsonCol.as("payload"), from_json(jsonCol, otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceMetrics").isNull ||
        size(col("o.resourceMetrics")) === 0)
      .select(col("payload"))
    (parse(marked.filter(col("o.resourceMetrics").isNotNull &&
       size(col("o.resourceMetrics")) > 0), col("payload")), bad)
  }
}
