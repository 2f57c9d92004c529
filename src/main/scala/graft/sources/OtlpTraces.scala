package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTLP/JSON TRACES ingestion — the `/v1/traces` twin of [[OtlpLogs]]
  * (the reference's collector image serves all three OTLP signals on
  * the same port; docker-compose.yaml:92-101 wires logs, and a stock
  * SDK pointed at the same endpoint sends spans in exactly this
  * envelope: resourceSpans → scopeSpans → spans).
  *
  * Output: a flattened snake_case span schema in the style of the
  * OpenTelemetry ClickHouse exporter's traces table — timestamps from
  * the span's start/end nanos, duration in nanoseconds, service from
  * resource attributes, trace/span/parent ids, kind, status, and the
  * attribute maps as canonical JSON strings.
  *
  * Same execution shape as the log parse: `from_json` + `explode` +
  * column expressions — fully codegen'd, map-only, zero shuffles.
  */
object OtlpTraces {

  private def attrType = OtlpAttrs.attrType

  private val spanEventType = new StructType()
    .add("timeUnixNano", StringType)
    .add("name", StringType)
    .add("attributes", attrType)

  private val spanLinkType = new StructType()
    .add("traceId", StringType)
    .add("spanId", StringType)

  private val spanType = new StructType()
    .add("traceId", StringType)
    .add("spanId", StringType)
    .add("parentSpanId", StringType)
    .add("name", StringType)
    .add("kind", IntegerType)
    .add("startTimeUnixNano", StringType) // OTLP/JSON encodes int64 as string
    .add("endTimeUnixNano", StringType)
    .add("status", new StructType()
      .add("code", IntegerType).add("message", StringType))
    .add("events", ArrayType(spanEventType))
    .add("links", ArrayType(spanLinkType))
    .add("attributes", attrType)

  private val scopeSpansType = new StructType()
    .add("scope", new StructType()
      .add("name", StringType).add("version", StringType))
    .add("spans", ArrayType(spanType))

  /** Schema of one OTLP/HTTP traces envelope. */
  val otlpSchema: StructType = new StructType()
    .add("resourceSpans", ArrayType(new StructType()
      .add("resource", new StructType().add("attributes", attrType))
      .add("scopeSpans", ArrayType(scopeSpansType))))

  private def attrsJson(attrs: Column): Column = OtlpAttrs.attrsJson(attrs)

  private def resourceAttr(attrs: Column, key: String): Column =
    OtlpAttrs.resourceAttr(attrs, key)

  /** Parse a column of OTLP/JSON trace envelopes into flattened span
    * rows. `timestamp` (span start, µs precision) leads the schema so
    * the span lake shares [[LogWriter]]'s time-partitioned layouts.
    */
  def parse(df: DataFrame, jsonCol: Column): DataFrame = {
    val rattrs = col("rattrs")
    // each exploded row carries only the resource attributes and the
    // scope: the arrays are projected out as their own columns before
    // they are exploded, so no output row copies its envelope's whole
    // scope and span arrays
    df.select(from_json(jsonCol, otlpSchema).as("o"))
      .select(explode(col("o.resourceSpans")).as("rs"))
      .select(col("rs.resource.attributes").as("rattrs"), col("rs.scopeSpans").as("sss"))
      .select(rattrs, explode(col("sss")).as("ss"))
      .select(rattrs, col("ss.scope").as("scope"), col("ss.spans").as("sps"))
      .select(rattrs, col("scope"), explode(col("sps")).as("sp"))
      .select(
        timestamp_micros(expr("CAST(sp.startTimeUnixNano AS BIGINT) div 1000")).as("timestamp"),
        (col("sp.endTimeUnixNano").cast("long") -
          col("sp.startTimeUnixNano").cast("long")).as("duration_ns"),
        coalesce(resourceAttr(rattrs, "service.name"), lit("unknown")).as("service_name"),
        col("sp.traceId").as("trace_id"),
        col("sp.spanId").as("span_id"),
        col("sp.parentSpanId").as("parent_span_id"),
        col("sp.name").as("span_name"),
        coalesce(col("sp.kind"), lit(0)).as("span_kind"),
        coalesce(col("sp.status.code"), lit(0)).as("status_code"),
        col("sp.status.message").as("status_message"),
        col("scope.name").as("scope_name"),
        col("scope.version").as("scope_version"),
        attrsJson(rattrs).as("resource_attributes"),
        attrsJson(col("sp.attributes")).as("span_attributes"),
        // SPAN EVENTS (the in-span log records OTel SDKs attach —
        // exceptions, messages) and LINKS (causal references to other
        // traces: batch consumers, follows-from) land as canonical
        // JSON arrays, null when absent; re-read typed with
        // [[eventSchema]]/[[linkSchema]]
        when(col("sp.events").isNotNull && size(col("sp.events")) > 0,
          to_json(transform(col("sp.events"), e =>
            struct(e.getField("timeUnixNano").as("ts"),
              e.getField("name").as("name"),
              OtlpAttrs.attrsJson(e.getField("attributes")).as("attributes")))))
          .as("span_events"),
        when(col("sp.links").isNotNull && size(col("sp.links")) > 0,
          to_json(transform(col("sp.links"), l =>
            struct(l.getField("traceId").as("traceId"),
              l.getField("spanId").as("spanId")))))
          .as("span_links"))
  }

  /** Schema of one `span_events` JSON entry (after
    * `from_json(col, eventSchema)`).
    */
  val eventSchema: ArrayType = ArrayType(new StructType()
    .add("ts", StringType)
    .add("name", StringType)
    .add("attributes", StringType))

  /** Schema of one `span_links` JSON entry. */
  val linkSchema: ArrayType = ArrayType(new StructType()
    .add("traceId", StringType)
    .add("spanId", StringType))

  /** SPAN EVENTS exploded to log-like rows — the "span events are
    * logs" view a backend serves next to the log lake: one row per
    * event with its span context attached (timestamp from the event's
    * own nanos), map-only.
    */
  def spanEvents(spanTable: DataFrame): DataFrame = {
    // lakes written before the events column existed read event-free
    val t = if (spanTable.columns.contains("span_events")) spanTable
            else spanTable.withColumn("span_events", lit(null).cast("string"))
    t.filter(col("span_events").isNotNull)
      .select(col("trace_id"), col("span_id"), col("service_name"),
        col("span_name"),
        explode(from_json(col("span_events"), eventSchema)).as("e"))
      .select(
        timestamp_micros(expr("CAST(e.ts AS BIGINT) div 1000")).as("timestamp"),
        col("service_name"), col("trace_id"), col("span_id"),
        col("span_name"), col("e.name").as("event_name"),
        col("e.attributes").as("event_attributes"))
  }

  /** Parse a column of protobuf `TracesData` payloads: wire decode
    * ([[OtlpProtoSignalOps.toTraceJson]]) into the SAME envelope shape,
    * then the one shared [[parse]] — the transport twins stay behind a
    * single flatten, like the log signal.
    */
  def parseProto(df: DataFrame, binCol: Column): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    parse(df.select(call_function("graft_otlp_trace_json", binCol).as("payload")),
      col("payload"))
  }

  /** The wire twin of [[toOtlpJson]]: one span per envelope as
    * protobuf `TracesData` bytes — round-trip generator.
    */
  def toOtlpProto(startUs: Column, endUs: Column, serviceName: Column,
                  traceId: Column, spanId: Column, parentSpanId: Column,
                  spanName: Column, kind: Column, statusCode: Column): Column =
    call_function("graft_otlp_span_proto", struct(
      startUs.cast("long"), endUs.cast("long"), serviceName.cast("string"),
      traceId.cast("string"), spanId.cast("string"), parentSpanId.cast("string"),
      spanName.cast("string"), kind.cast("int"), statusCode.cast("int")))

  /** [[toOtlpProto]] with the optional exception-event / causal-link
    * tail (the wire twin of [[toOtlpJson]]'s trailing parameters).
    */
  def toOtlpProtoEvents(startUs: Column, endUs: Column, serviceName: Column,
                        traceId: Column, spanId: Column, parentSpanId: Column,
                        spanName: Column, kind: Column, statusCode: Column,
                        excType: Column, excMsg: Column,
                        linkTrace: Column, linkSpan: Column): Column =
    call_function("graft_otlp_span_proto", struct(
      startUs.cast("long"), endUs.cast("long"), serviceName.cast("string"),
      traceId.cast("string"), spanId.cast("string"), parentSpanId.cast("string"),
      spanName.cast("string"), kind.cast("int"), statusCode.cast("int"),
      excType.cast("string"), excMsg.cast("string"),
      linkTrace.cast("string"), linkSpan.cast("string")))

  /** (valid span rows, undecodable payloads) for the protobuf
    * transport — decode failures AND shape-invalid decodes both land
    * in the rejected stream as their raw bytes.
    */
  def parseProtoWithInvalid(df: DataFrame, binCol: Column): (DataFrame, DataFrame) = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val marked = df
      .select(binCol.as("bin"),
        call_function("graft_otlp_trace_json_try", binCol).as("payload"))
      .select(col("bin"), col("payload"), from_json(col("payload"), otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceSpans").isNull ||
        size(col("o.resourceSpans")) === 0)
      .select(col("bin").as("payload"))
    (parse(marked.filter(col("o.resourceSpans").isNotNull &&
       size(col("o.resourceSpans")) > 0), col("payload")), bad)
  }

  /** (valid span rows, shape-invalid envelopes) — the quarantine split
    * the HTTP edge's no-silent-drop contract needs, mirroring
    * [[OtlpLogs.parseWithInvalid]].
    */
  def parseWithInvalid(df: DataFrame, jsonCol: Column): (DataFrame, DataFrame) = {
    val marked = df.select(jsonCol.as("payload"), from_json(jsonCol, otlpSchema).as("o"))
    val bad = marked
      .filter(col("o").isNull || col("o.resourceSpans").isNull ||
        size(col("o.resourceSpans")) === 0)
      .select(col("payload"))
    (parse(marked.filter(col("o.resourceSpans").isNotNull &&
       size(col("o.resourceSpans")) > 0), col("payload")), bad)
  }

  /** Render one span per envelope as minimal OTLP/JSON — the test-data
    * generator and round-trip certifier (the traces twin of
    * [[OtlpLogs.toOtlpJsonTraced]]).
    */
  def toOtlpJson(startUs: Column, endUs: Column, serviceName: Column,
                 traceId: Column, spanId: Column, parentSpanId: Column,
                 spanName: Column, kind: Column, statusCode: Column,
                 excType: Column = lit(null).cast("string"),
                 excMsg: Column = lit(null).cast("string"),
                 linkTrace: Column = lit(null).cast("string"),
                 linkSpan: Column = lit(null).cast("string")): Column =
    to_json(struct(
      array(struct(
        struct(array(
          struct(lit("service.name").as("key"),
            struct(serviceName.as("stringValue")).as("value"))).as("attributes"))
          .as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            traceId.as("traceId"),
            spanId.as("spanId"),
            parentSpanId.as("parentSpanId"),
            spanName.as("name"),
            kind.cast("int").as("kind"),
            (startUs * 1000).cast("string").as("startTimeUnixNano"),
            (endUs * 1000).cast("string").as("endTimeUnixNano"),
            struct(statusCode.cast("int").as("code")).as("status"),
            // one "exception" span event when excType is set — the
            // shape OTel SDKs emit from recordException (event time =
            // span end; exception.type/message attributes); to_json
            // omits the null-valued key for event-free spans
            when(excType.isNotNull, array(struct(
              (endUs * 1000).cast("string").as("timeUnixNano"),
              lit("exception").as("name"),
              // message entry only when set — the PROTO twin omits an
              // absent exception.message, and both transports must
              // land byte-identical event attributes
              when(excMsg.isNotNull, array(
                struct(lit("exception.type").as("key"),
                  struct(excType.as("stringValue")).as("value")),
                struct(lit("exception.message").as("key"),
                  struct(excMsg.as("stringValue")).as("value"))))
                .otherwise(array(
                  struct(lit("exception.type").as("key"),
                    struct(excType.as("stringValue")).as("value"))))
                .as("attributes"))))
              .as("events"),
            // one causal link when linkTrace is set (batch consumers,
            // follows-from)
            when(linkTrace.isNotNull, array(struct(
              linkTrace.as("traceId"), linkSpan.as("spanId")))).as("links")))
            .as("spans")))
          .as("scopeSpans"))).as("resourceSpans")))
}
