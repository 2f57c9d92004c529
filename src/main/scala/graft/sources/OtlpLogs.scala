package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTLP/JSON log ingestion: the Spark-native equivalent of the
  * reference's otel-collector → otlp2parquet stage.
  *
  * Input: a DataFrame with one OTLP/HTTP JSON envelope per row
  * (resourceLogs → scopeLogs → logRecords, as POSTed to /v1/logs —
  * reference README.md "Send Test Logs"). Output: the flattened
  * snake_case schema of the OpenTelemetry ClickHouse exporter
  * (reference README.md "Schema" table, 15 columns).
  *
  * Everything is `from_json` + `explode` + column expressions — fully
  * codegen'd, no UDFs, linear per record: the parse scales to any
  * number of executors with zero shuffles.
  *
  * Both OTLP transports are accepted: JSON via [[parse]], protobuf via
  * [[parseProto]] (a pure-JVM wire decode — [[OtlpProtoOps]] — that
  * renders the identical envelope and reuses this one parse surface),
  * so the 15-column schema, flatten, and round-trip certification are
  * transport-independent in code, not just in principle.
  */
object OtlpLogs {

  private def attrType = OtlpAttrs.attrType

  private val logRecordType = new StructType()
    .add("timeUnixNano", StringType)
    .add("observedTimeUnixNano", StringType)
    .add("severityText", StringType)
    .add("severityNumber", IntegerType)
    .add("body", new StructType().add("stringValue", StringType))
    .add("traceId", StringType)
    .add("spanId", StringType)
    .add("attributes", attrType)

  private val scopeLogsType = new StructType()
    .add("scope", new StructType()
      .add("name", StringType).add("version", StringType).add("attributes", attrType))
    .add("logRecords", ArrayType(logRecordType))

  private val resourceLogsType = new StructType()
    .add("resource", new StructType().add("attributes", attrType))
    .add("scopeLogs", ArrayType(scopeLogsType))

  /** Schema of one OTLP/HTTP logs envelope. */
  val otlpSchema: StructType = new StructType()
    .add("resourceLogs", ArrayType(resourceLogsType))

  private def attrsJson(attrs: Column): Column = OtlpAttrs.attrsJson(attrs)

  private def resourceAttr(attrs: Column, key: String): Column =
    OtlpAttrs.resourceAttr(attrs, key)

  /** Parse a column of OTLP/PROTOBUF `LogsData` payloads into the same
    * flattened rows as [[parse]]: the wire bytes are decoded to the
    * OTLP/JSON envelope by the codegen'd [[OtlpProtoToJson]] expression
    * ([[OtlpProtoOps]], pure-JVM wire walk) and flow through the ONE
    * shared parse surface — both transports, one column-derivation
    * path. Map-only, zero shuffles, like the JSON intake.
    */
  def parseProto(df: DataFrame, binCol: Column): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    parse(df.select(call_function("graft_otlp_json", binCol).as("payload")), col("payload"))
  }

  /** The wire twin of [[toOtlpJsonTraced]]: encode one traced record
    * as protobuf `LogsData` bytes ([[OtlpProtoEncode]]) — the
    * round-trip certification generator for the protobuf intake.
    */
  def toOtlpProtoTraced(timestampUs: Column, serviceName: Column, severityText: Column,
                        severityNumber: Column, body: Column,
                        traceId: Column, spanId: Column,
                        scopeVersion: Column, codeNamespace: Column): Column =
    call_function("graft_otlp_proto", struct(
      timestampUs.cast("long"), serviceName.cast("string"), severityText.cast("string"),
      severityNumber.cast("int"), body.cast("string"), traceId.cast("string"),
      spanId.cast("string"), scopeVersion.cast("string"), codeNamespace.cast("string")))

  /** Parse a column of OTLP/JSON envelopes into flattened log rows. */
  def parse(df: DataFrame, jsonCol: Column): DataFrame = {
    val rattrs = col("rattrs")
    // each exploded row carries only the resource attributes and the
    // scope: the arrays are projected out as their own columns before
    // they are exploded, so no output row copies its envelope's whole
    // scope and record arrays
    df.select(from_json(jsonCol, otlpSchema).as("o"))
      .select(explode(col("o.resourceLogs")).as("rl"))
      .select(col("rl.resource.attributes").as("rattrs"), col("rl.scopeLogs").as("sls"))
      .select(rattrs, explode(col("sls")).as("sl"))
      .select(rattrs, col("sl.scope").as("scope"), col("sl.logRecords").as("lrs"))
      .select(rattrs, col("scope"), explode(col("lrs")).as("lr"))
      .select(
        timestamp_micros(expr("CAST(lr.timeUnixNano AS BIGINT) div 1000")).as("timestamp"),
        col("lr.observedTimeUnixNano").cast("long").as("observed_timestamp"),
        coalesce(resourceAttr(rattrs, "service.name"), lit("unknown")).as("service_name"),
        resourceAttr(rattrs, "service.namespace").as("service_namespace"),
        resourceAttr(rattrs, "service.instance.id").as("service_instance_id"),
        col("lr.severityText").as("severity_text"),
        col("lr.severityNumber").as("severity_number"),
        col("lr.body.stringValue").as("body"),
        col("lr.traceId").as("trace_id"),
        col("lr.spanId").as("span_id"),
        attrsJson(rattrs).as("resource_attributes"),
        attrsJson(col("lr.attributes")).as("log_attributes"),
        col("scope.name").as("scope_name"),
        col("scope.version").as("scope_version"),
        attrsJson(col("scope.attributes")).as("scope_attributes"))
  }

  /** Parse with a quarantine: returns (valid rows, rejected payloads).
    * A payload is rejected when it isn't valid JSON for the OTLP
    * envelope shape (from_json yields null / no resourceLogs) — the
    * ingest equivalent of the collector 4xx-ing a bad POST, without
    * silently dropping data mid-pipeline.
    */
  def parseWithInvalid(df: DataFrame, jsonCol: Column): (DataFrame, DataFrame) = {
    val marked = df.select(jsonCol.as("payload"), from_json(jsonCol, otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceLogs").isNull || size(col("o.resourceLogs")) === 0)
      .select(col("payload"))
    (parse(marked.filter(col("o.resourceLogs").isNotNull && size(col("o.resourceLogs")) > 0),
       col("payload")), bad)
  }

  /** The protobuf analog of [[parseWithInvalid]]: returns (valid rows,
    * rejected payloads). A payload is rejected when the wire decode
    * fails ([[OtlpProtoToJsonTry]] yields null) OR the decoded
    * envelope fails the same JSON-shape checks as the JSON transport —
    * one bad collector payload cannot kill the intake job, and nothing
    * is silently dropped mid-pipeline.
    */
  def parseProtoWithInvalid(df: DataFrame, binCol: Column): (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val marked = df
      .select(binCol.as("bin"),
        call_function("graft_otlp_json_try", binCol).as("payload"))
      .select(col("bin"), col("payload"), from_json(col("payload"), otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceLogs").isNull || size(col("o.resourceLogs")) === 0)
      .select(col("bin").as("payload"))
    (parse(marked.filter(col("o.resourceLogs").isNotNull && size(col("o.resourceLogs")) > 0),
       col("payload")), bad)
  }

  /** Render rows of the flattened schema back into minimal OTLP/JSON
    * envelopes (one record per envelope) — used by the round-trip
    * correctness query and as a test-data generator.
    */
  def toOtlpJson(timestampUs: Column, serviceName: Column, severityText: Column,
                 body: Column, extraResourceAttrs: Seq[(String, Column)] = Nil): Column =
    to_json(struct(
      array(struct(
        struct(array(
          (("service.name", serviceName) +: extraResourceAttrs).map { case (k, v) =>
            struct(lit(k).as("key"), struct(v.as("stringValue")).as("value"))
          }: _*).as("attributes")).as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            (timestampUs * 1000).cast("string").as("timeUnixNano"),
            severityText.as("severityText"),
            struct(body.as("stringValue")).as("body"))).as("logRecords"))).as("scopeLogs"))).as("resourceLogs")))

  /** [[toOtlpJson]] with the full log-record identity the reference
    * schema carries (README schema table): numeric severity and
    * trace/span context — the fields the severity-range and
    * trace-lookup queries exercise.
    */
  def toOtlpJsonTraced(timestampUs: Column, serviceName: Column, severityText: Column,
                       severityNumber: Column, body: Column,
                       traceId: Column, spanId: Column,
                       scopeVersion: Column = lit("1.0"),
                       scopeAttrs: Seq[(String, Column)] = Nil,
                       extraResourceAttrs: Seq[(String, Column)] = Nil): Column =
    to_json(struct(
      array(struct(
        struct(array(
          (("service.name", serviceName) +: extraResourceAttrs).map { case (k, v) =>
            struct(lit(k).as("key"), struct(v.as("stringValue")).as("value"))
          }: _*).as("attributes")).as("resource"),
        array(struct(
          struct(
            (Seq(lit("graft").as("name"), scopeVersion.as("version")) ++
              (if (scopeAttrs.isEmpty) Nil
               else Seq(array(scopeAttrs.map { case (k, v) =>
                 struct(lit(k).as("key"), struct(v.as("stringValue")).as("value"))
               }: _*).as("attributes")))): _*).as("scope"),
          array(struct(
            (timestampUs * 1000).cast("string").as("timeUnixNano"),
            severityText.as("severityText"),
            severityNumber.as("severityNumber"),
            struct(body.as("stringValue")).as("body"),
            traceId.as("traceId"),
            spanId.as("spanId"))).as("logRecords"))).as("scopeLogs"))).as("resourceLogs")))
}
