package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** The reference's own log-analytics surface, re-expressed on the
  * `events` table (event_type ↔ severity_text, user_id ↔ service_name,
  * props ↔ log_attributes JSON).
  *
  * Query shapes ported from the reference (behavior, not code):
  *  - recent-logs tail + severity-count: reference README.md
  *    "Example Queries" (lines ~100-115)
  *  - time-bucketed per-series counts and time-filtered log view:
  *    reference grafana/provisioning/dashboards/logs.json panels
  *    "Logs by Service" ($timeSeries GROUP BY) and "Logs" ($timeFilter
  *    ORDER BY timestamp LIMIT 1000)
  *
  * Scale notes: every aggregate is keyed on low-cardinality buckets
  * (day/hour × type) or on user_id — partial aggregation happens
  * map-side, so the shuffle carries one row per (bucket, key) per
  * partition, not per event. Top-N and tails are agg/filter → global
  * sort → limit, which Spark executes as per-partition top-K.
  * Timestamps are formatted at µs precision (both Spark and DuckDB
  * truncate parquet ns → µs, so formatted strings compare stably).
  */
object LogAnalytics {

  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def m2(sumOfDecimal: Column): Column = round(sumOfDecimal, 2).cast("double")
  private def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Recent-logs tail: time filter → ordered tail, newest first. The
    * bound is applied to the raw nanos column (Tables.eventsBetween) so
    * it prunes parquet row groups instead of scanning everything.
    * Window/limit are parameters (the Grafana `$timeFilter` is
    * user-chosen); the defaults are the contract-query values.
    */
  def recent(spark: SparkSession, dir: String,
             from: String = "2024-01-28", until: String = "2025-01-01",
             limit: Int = 100): DataFrame =
    Tables.eventsBetween(spark, dir, from, until)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(limit)
      .select(col("event_id"), tsStr(col("ts")).as("ts_str"), col("user_id"),
              col("event_type"), col("value"), col("props"))

  /** Severity count by service (README "Severity count by service"). */
  def severityByService(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("event_type"))

  /** Grafana "Logs by Service": time-bucketed counts per series. The
    * bucket width mirrors the dashboard's `$interval` — a zoomed-out
    * view asks for hours, a zoomed-in one for minutes — so it is a
    * parameter (any Spark interval string), not a hardcoded truncation.
    * `window()` buckets are epoch-aligned, matching DuckDB's
    * `time_bucket`.
    */
  def timeseries(spark: SparkSession, dir: String, bucket: String = "1 hour"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), bucket), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"))
      .orderBy(col("bucket"), col("event_type"))

  /** Log search: substring match on the attributes payload + time
    * range, ordered view (Grafana "Logs" panel shape). Needle and
    * window are parameters; defaults are the contract-query values.
    */
  def search(spark: SparkSession, dir: String, needle: String = "\"k\": 7",
             from: String = "2024-01-10", until: String = "2024-01-20"): DataFrame =
    Tables.eventsBetween(spark, dir, from, until)
      .filter(col("props").contains(needle))
      .orderBy(col("ts"), col("event_id"))
      .select(col("event_id"), tsStr(col("ts")).as("ts_str"), col("user_id"),
              col("event_type"), col("props"))

  /** JSON attribute extraction + aggregation over the extracted key
    * (the reference keeps log_attributes as a JSON string column and
    * extracts at query time — README schema table).
    */
  def jsonAttrs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), m2(sum(dec2(col("value")))).as("sum_value"))
      .orderBy(col("k_bucket"))

  /** Error-rate time series: share of severity=error per day. */
  def errorRate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(dayStr(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("error_rate",
        round(col("n_errors").cast("double") / col("n_events"), 4))
      .orderBy(col("day"))

  /** Exact p50/p95 of value per severity (latency-percentile shape). */
  def p95Value(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Sessionization: 30-minute-inactivity sessions per user via
    * lag + running sum — one shuffle on user_id, linear in events.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        tsStr(min(col("ts"))).as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .drop("session_seq")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** USER-JOURNEY TRANSITION MATRIX — the Markov view of event flow
    * (which step follows which, the input to funnel design and
    * next-action prediction): consecutive event pairs within each
    * user's stream via one lag window (ties broken by event_id so the
    * sequence is deterministic on any engine), then one count per
    * (prev, next) pair and the row-normalized transition probability.
    * The window shuffles once on user_id; the matrix is
    * |event types|² rows — control-plane sized at any scale. The
    * probability is one exact-integer division, so it is bit-identical
    * across engines with no rounding.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byPrev = Window.partitionBy(col("prev_type"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum(col("n")).over(byPrev).cast("double"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Top-K most active services/users: agg → sort → limit. */
  def topkUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), m2(sum(dec2(col("value")))).as("sum_value"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)

  /** EXEMPLARS — the link from an aggregate back to raw evidence:
    * per (event_type, day) bucket, `k` REPRESENTATIVE event ids chosen
    * by bottom-k-of-md5(event_id) — a deterministic uniform sample
    * (reproducible across runs, engines, partitionings: the engine's
    * universal sampling discipline), so "error spiked Tuesday" comes
    * with concrete events to open, the Grafana exemplar workflow.
    *
    * Scale shape: a partial-merging aggregate, NOT a window. The
    * bottom-k-by-md5 definition is mergeable ([[graft.functions
    * .BottomKSample]] is a TypedImperativeAggregate with O(k) state),
    * so each map task keeps k candidates per local bucket and only
    * those survivors shuffle — a hot (event_type, day) bucket costs
    * every partition k rows, never "all events of the hot key on one
    * window task". Same definition ⇒ same oracle hash as the
    * row_number formulation; only the plan differs (ObjectHashAggregate
    * with partial merge vs a skewed-key row-cardinality window
    * Exchange — the named 100 TB scale-killer).
    */
  def exemplars(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.events(spark, dir)
      .select(col("event_type"), dayStr(col("ts")).as("day"), col("event_id"))
      .groupBy(col("event_type"), col("day"))
      .agg(expr(s"graft_sample(event_id, $k)").as("ids"))
      .select(col("event_type"), col("day"), posexplode(col("ids")))
      .select(col("event_type"), col("day"),
        (col("pos") + 1).cast("int").as("rk"), col("col").as("event_id"))
      .orderBy(col("event_type"), col("day"), col("rk"))
  }

  /** Exact distinct users per day. */
  def dau(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(dayStr(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"),
           count(lit(1)).as("n_events"))
      .orderBy(col("day"))

  /** Approximate distinct users per day (HyperLogLog++): the 100 TB
    * path — fixed-size sketch per bucket instead of a distinct shuffle.
    * No DuckDB oracle (sketch internals differ); spec bounds its error
    * against the exact count.
    */
  /** Ingest round-trip proof: events → OTLP/JSON envelopes →
    * [[graft.sources.OtlpLogs.parse]] → severity aggregate. The oracle
    * computes the same aggregate directly on `events`, so equality
    * certifies the whole encode→parse→flatten path record-for-record.
    * Reads the ONE persisted [[otelLogs]] parse shared with
    * [[severityNumber]]/[[traceLookup]] (projecting only the non-traced
    * columns) — the ingest path is certified once per session, not
    * re-encoded per query.
    */
  def otlpRoundtrip(spark: SparkSession, dir: String): DataFrame =
    otelLogs(spark, dir)
      .groupBy(col("service_name"), col("severity_text"))
      .agg(count(lit(1)).as("n"),
           tsStr(min(col("timestamp"))).as("first_ts"),
           tsStr(max(col("timestamp"))).as("last_ts"))
      .orderBy(col("service_name"), col("severity_text"))

  /** PROTOBUF-transport ingest round-trip proof: events → OTLP
    * protobuf `LogsData` wire bytes ([[graft.sources.OtlpLogs
    * .toOtlpProtoTraced]], codegen'd pure-JVM encoder) →
    * [[graft.sources.OtlpLogs.parseProto]] (wire decode → the shared
    * JSON-envelope parse) → severity aggregate. The oracle computes
    * the same aggregate directly on `events`, so the hash-match
    * certifies the whole protobuf encode→decode→flatten path
    * record-for-record — the transport the reference's otlp2parquet
    * accepts and rounds 1-4 documented as a limitation. Encode+decode
    * are map-only expressions in one stage; the only shuffle is the
    * final aggregate.
    */
  def otlpProtoRoundtrip(spark: SparkSession, dir: String): DataFrame =
    otelProtoLogs(spark, dir)
      .groupBy(col("service_name"), col("severity_text"))
      .agg(count(lit(1)).as("n"),
           tsStr(min(col("timestamp"))).as("first_ts"),
           tsStr(max(col("timestamp"))).as("last_ts"))
      .orderBy(col("service_name"), col("severity_text"))

  /** The protobuf twin of [[otelLogs]]: events encoded to wire bytes
    * and re-parsed through [[graft.sources.OtlpLogs.parseProto]],
    * persisted once per session (the same shared-parse discipline —
    * the ingest path is certified once, not re-encoded per query).
    */
  private val otelProtoCache = graft.SessionCaches.memo[String, DataFrame](_.unpersist(false))

  private def otelProtoLogs(spark: SparkSession, dir: String): DataFrame =
    otelProtoCache(spark, dir) {
      import graft.sources.OtlpLogs
      graft.functions.VectorFunctions.register(spark)
      val payloads = Tables.events(spark, dir)
        .select(OtlpLogs.toOtlpProtoTraced(
          unix_micros(col("ts")),
          concat(lit("svc-"), col("user_id")),
          col("event_type"),
          sevNumOf(col("event_type")),
          col("props"),
          md5(concat(col("user_id").cast("string"), lit("/"), dayStr(col("ts")))),
          substring(md5(col("event_id").cast("string")), 1, 16),
          concat(lit("1."), col("user_id") % 2),
          concat(lit("mod-"), col("user_id") % 4)).as("payload"))
      OtlpLogs.parseProto(payloads, col("payload")).persist()
    }

  /** Sketch percentiles (t-digest-style approx_percentile): the
    * fixed-size-state path for latency percentiles at 100 TB. No
    * oracle (sketch internals); spec bounds error vs exact.
    */
  def approxP95(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(round(expr("approx_percentile(value, 0.95, 10000)"), 4).as("p95_approx"))
      .orderBy(col("event_type"))

  /** Deterministic distributed sample of 100 event ids via the custom
    * bottom-k-by-md5 TypedImperativeAggregate — same sample regardless
    * of partitioning or row order, so it's oracle-checkable.
    */
  def sample(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.events(spark, dir)
      .agg(expr("graft_sample(event_id, 100)").as("ids"))
      .select(explode(col("ids")).as("event_id"))
      .withColumn("h", md5(col("event_id").cast("string")))
      .orderBy(col("h"))
  }

  /** Approximate top users by event volume via the SpaceSaving summary
    * ([[graft.functions.SpaceSavingTopK]]): O(m) state per partition
    * independent of user cardinality — the "top talkers over 100 TB"
    * query without a per-key shuffle. Emits estimate upper/lower
    * bounds (`est`, `est - err`); any user with true frequency above
    * n/m is guaranteed present. Approximate → rows-only + spec.
    */
  def heavyHitters(spark: SparkSession, dir: String, m: Int = 256): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.events(spark, dir)
      .agg(expr(s"graft_heavy_hitters(cast(user_id as string), $m)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("user_id"), col("e.est").as("est_max"),
        (col("e.est") - col("e.err")).as("est_min"))
      .orderBy(col("est_max").desc, col("user_id"))
      .limit(20)
  }

  def approxDau(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(dayStr(col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_dau"))
      .orderBy(col("day"))

  /** OTel numeric severity for an event type (the ClickHouse-exporter
    * severity_number column, reference README schema): ERROR=17,
    * WARN=13, INFO=9, DEBUG=5.
    */
  private def sevNumOf(eventType: Column): Column =
    when(eventType === "error", 17)
      .when(eventType === "signup", 13)
      .when(eventType === "purchase", 9)
      .when(eventType === "view", 9)
      .otherwise(5)

  /** events rendered as FULL OTLP records (numeric severity + trace/span
    * context) and re-parsed — the shared input for the severity-range
    * and trace-lookup queries. Trace identity: all of a user's events
    * on one day share a trace (md5(user/day)); each event is a span.
    *
    * Materialized ONCE per (session, dir): the encode→parse step
    * certifies the ingest path, and in production its output is the
    * stored lake (LogWriter) — analytics queries read parsed columns,
    * they don't re-parse JSON per query. Sharing the parsed dataset
    * between the severity-range and trace-lookup queries mirrors that.
    */
  private val otelCache = graft.SessionCaches.memo[String, DataFrame](_.unpersist(false))

  private def otelLogs(spark: SparkSession, dir: String): DataFrame =
    otelCache(spark, dir) {
      import graft.sources.OtlpLogs
      val payloads = Tables.events(spark, dir)
        .select(OtlpLogs.toOtlpJsonTraced(
          unix_micros(col("ts")),
          concat(lit("svc-"), col("user_id")),
          col("event_type"),
          sevNumOf(col("event_type")),
          col("props"),
          md5(concat(col("user_id").cast("string"), lit("/"), dayStr(col("ts")))),
          substring(md5(col("event_id").cast("string")), 1, 16),
          // per-SDK scope identity: version varies by emitter, and the
          // instrumentation module rides a scope attribute — so the
          // scope_version/scope_attributes schema columns carry real,
          // queryable data end-to-end through encode → parse
          concat(lit("1."), col("user_id") % 2),
          Seq("code.namespace" -> concat(lit("mod-"), col("user_id") % 4))).as("payload"))
      OtlpLogs.parse(payloads, col("payload")).persist()
    }

  /** The shared OTel log parse for cross-signal consumers
    * ([[TraceAnalytics.traceLogs]] joins these rows against the span
    * model on the trace/span ids both syntheses stamp). Same memoized
    * frame the log family queries read — no extra parse pass.
    */
  private[graft] def otelLogsShared(spark: SparkSession, dir: String): DataFrame =
    otelLogs(spark, dir)

  /** Severity-range filter on the NUMERIC severity (default >= WARN =
    * 13): the query every OTel user runs when text severities vary by
    * SDK. Filters on severity_number, not severity_text.
    */
  def severityNumber(spark: SparkSession, dir: String, minSeverity: Int = 13): DataFrame =
    otelLogs(spark, dir)
      .filter(col("severity_number") >= minSeverity)
      .groupBy(col("service_name"), col("severity_number"), col("severity_text"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("service_name"), col("severity_number"), col("severity_text"))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** "Find the logs for this trace": point lookup by trace_id, spans in
    * time order — the debugging query the reference schema's trace_id
    * column exists for. The trace id is a parameter (a user pastes one
    * from a trace view); the default is the contract query's trace.
    */
  def traceLookup(spark: SparkSession, dir: String,
                  traceId: String = md5Hex("7/2024-01-15")): DataFrame =
    otelLogs(spark, dir)
      .filter(col("trace_id") === lit(traceId))
      .select(col("trace_id"), col("span_id"), tsStr(col("timestamp")).as("ts_str"),
              col("severity_text"), col("severity_number"), col("body"))
      .orderBy(col("ts_str"), col("span_id"))

  /** Per-(scope version, instrumentation module) error counts — the
    * "which SDK/module emits the errors" query, extracting the module
    * from the `scope_attributes` JSON column. With this, every one of
    * the exporter schema's 15 columns is exercised by a contract
    * query. One codegen'd `from_json` in the scan stage, one agg
    * shuffle on a low-cardinality key.
    */
  def scopeAttrs(spark: SparkSession, dir: String): DataFrame =
    otelLogs(spark, dir)
      .withColumn("module",
        try_element_at(
          from_json(col("scope_attributes"), "map<string,string>",
            Map.empty[String, String]),
          lit("code.namespace")))
      .filter(col("severity_number") >= 17) // ERROR and up
      .groupBy(col("scope_name"), col("scope_version"), col("module"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("scope_name"), col("scope_version"), col("module"))

  /** DAU via MERGEABLE HLL sketches (Apache DataSketches, built into
    * Spark 4): per-(day, service) partial sketches — the granularity
    * you'd PERSIST at 100 TB — then re-aggregated per day with
    * `hll_union_agg`. The two-level shape certifies the property exact
    * distinct counts lack: partials combine across ANY dimension
    * without rescanning the raw data. No DuckDB oracle (sketch
    * internals); the spec bounds the estimate against exact DAU and
    * checks the union equals the single-level sketch estimate.
    */
  /** Spike detection over the per-type hourly series — the Grafana
    * alert-rule shape ("volume > 2x trailing average"). The verdict
    * uses INTEGER cross-multiplication (`n * W > factor * trailing`)
    * instead of a float mean, so it is exact in any evaluation order
    * and oracle-portable; an anomaly needs a full trailing window
    * (first W buckets never alert). One agg shuffle plus one window
    * per event_type — series cardinality, not event cardinality.
    */
  def anomaly(spark: SparkSession, dir: String,
              trailing: Int = 6, factor: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-trailing, -1)
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"))
      .withColumn("trailing_n", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("trailing_buckets", count(col("n")).over(w))
      .withColumn("is_anomaly",
        col("trailing_buckets") === trailing &&
          col("n") * trailing > col("trailing_n") * factor)
      .select(col("bucket"), col("event_type"), col("n"),
              col("trailing_n"), col("is_anomaly"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** MULTI-WINDOW SLO BURN-RATE alert (the Google SRE workbook's
    * recommended paging rule): with an SLO of `sloPct` (99 ⇒ 1% error
    * budget), the burn rate over a window is
    * `(errors/total) / budget-fraction`, and a page fires only when a
    * SHORT and a LONG window both burn ≥ `factor` — the short window
    * gives fast detection, the long one suppresses blips. Verdicts are
    * INTEGER cross-multiplications (`errors × 100 ≥ factor × total`
    * for a 1% budget) over rolling hourly sums — exact in any
    * evaluation order, the same determinism discipline as
    * [[anomaly]]. Both rolling windows run over the hourly series
    * (bucket cardinality), never event rows.
    */
  def sloBurn(spark: SparkSession, dir: String, sloPct: Int = 75,
              shortH: Int = 1, longH: Int = 6, factor: Int = 1): DataFrame = {
    // contract defaults are tuned to the synthetic corpus's ~20%
    // baseline error fraction (a real service pages at e.g. 99.9 SLO /
    // factor 14.4); the arithmetic is SLO-independent
    require(sloPct >= 1 && sloPct <= 99 && 100 % (100 - sloPct) == 0,
      s"sloPct must be in [1,99] with an error budget dividing 100, got $sloPct")
    // the halo replicates longH-1 lookback rows; a short window longer
    // than the long one would silently lose lookback at year starts
    require(shortH >= 1 && shortH <= longH,
      s"need 1 <= shortH <= longH, got shortH=$shortH longH=$longH")
    val budgetPctInv = 100 / (100 - sloPct) // 25% budget -> 4
    // HALO-PARTITIONED rolling windows: the hourly series is
    // control-plane sized (~10⁴ rows/year), but a bare
    // Window.orderBy(bucket) executes on ONE task forever — a ceiling
    // for multi-decade series. Partitioning by year keeps tasks
    // bounded, and each year's window stays EXACTLY equal to the
    // unpartitioned result by replicating the previous year's last
    // longH-1 ROWS into the next year's partition as lookback-only
    // halo rows (rows, not hours — rowsBetween semantics survive
    // bucket gaps), dropped after the window pass. (Assumes each year
    // holds ≥ longH-1 buckets — an hourly series with fewer rows per
    // YEAR is degenerate for a burn-rate alert.)
    def w(h: Int) = Window.partitionBy(col("yr")).orderBy(col("bucket"))
      .rowsBetween(-(h - 1), 0)
    val hourly = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        year(col("window.start")).as("yr"), col("total"), col("errors"))
    val base = hourly.withColumn("halo", lit(false))
    val halo = hourly
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("bucket").desc)))
      .filter(col("rn") <= longH - 1).drop("rn")
      .withColumn("yr", col("yr") + 1)
      .withColumn("halo", lit(true))
    base.unionByName(halo)
      .withColumn("err_s", sum(col("errors")).over(w(shortH)))
      .withColumn("tot_s", sum(col("total")).over(w(shortH)))
      .withColumn("err_l", sum(col("errors")).over(w(longH)))
      .withColumn("tot_l", sum(col("total")).over(w(longH)))
      .withColumn("n_l", count(col("total")).over(w(longH)))
      .withColumn("page",
        col("n_l") === longH &&
          col("err_s") * budgetPctInv >= col("tot_s") * factor &&
          col("err_l") * budgetPctInv >= col("tot_l") * factor)
      .filter(!col("halo"))
      .select(col("bucket"), col("total"), col("errors"),
        col("err_l"), col("tot_l"), col("page"))
      .orderBy(col("bucket"))
  }

  /** Day-over-day comparison — the "vs yesterday" column every
    * dashboard adds: per (day, severity) counts with the previous
    * day's count and the percent change (null on each series' first
    * day). One aggregate to day×type cardinality, then a lag window
    * over that tiny series — the window never sees event-cardinality
    * rows.
    */
  /** EWMA-SMOOTHED rate trend — the dashboard's "smoothed" series and
    * the baseline every spike detector compares against. A true
    * (recursive) EWMA is not a SQL window function; the standard
    * finite-memory form is the `taps`-term geometric lag polynomial
    * EWMAₜ = Σₖ αᵏ·n₍ₜ₋ₖ₎ / Σₖ αᵏ over the available history.
    *
    * α is fixed at 1/2: every product n·2⁻ᵏ is a dyadic rational and
    * every partial sum fits a double's 53-bit mantissa, so the whole
    * computation — including the final division — is BIT-EXACT and
    * order-fixed on any engine; the oracle hash-matches with no
    * rounding at all (the same determinism-by-construction trick as
    * the integer micro-nat scores, done in floats). The window runs
    * over the bucket×type series, never event-cardinality rows.
    */
  def trend(spark: SparkSession, dir: String, taps: Int = 5): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val base = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"))
    val lagCols = (1 to taps).map(k => lag(col("n"), k).over(byType).as(s"l$k"))
    val withLags = base.select(
      (Seq(col("bucket"), col("event_type"), col("n")) ++ lagCols): _*)
    // left-associated sums, matching the oracle SQL's parse order
    val num = (1 to taps).foldLeft(col("n").cast("double")) { (acc, k) =>
      acc + coalesce(col(s"l$k").cast("double"), lit(0.0)) * lit(math.pow(0.5, k))
    }
    val den = (1 to taps).foldLeft(lit(1.0)) { (acc, k) =>
      acc + when(col(s"l$k").isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0))
    }
    withLags
      .withColumn("ewma", num / den)
      .select(col("bucket"), col("event_type"), col("n"), col("ewma"))
      .orderBy(col("bucket"), col("event_type"))
  }

  def compareWindows(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day"))
    Tables.events(spark, dir)
      .groupBy(dayStr(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(byType))
      .withColumn("pct_change",
        round((col("n") - col("prev_n")).cast("double") / col("prev_n") * 100, 2))
      .orderBy(col("day"), col("event_type"))
  }

  /** Alert BURST GROUPING on top of [[anomaly]] — the alert-fatigue
    * suppression every on-call rotation configures (Grafana/PagerDuty
    * grouping): consecutive anomalous buckets within `cooldownHours`
    * of each other form one burst; one alert per burst, carrying its
    * start, end, bucket count and peak rate. The burst id is the
    * classic gap-and-island (lag + conditional cumsum — the
    * [[sessionize]] machinery applied to the anomaly series); the
    * series has bucket cardinality, so every window here is
    * control-plane sized regardless of event volume.
    */
  def alertBursts(spark: SparkSession, dir: String,
                  cooldownHours: Int = 3): DataFrame = {
    val byType = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    anomaly(spark, dir)
      .filter(col("is_anomaly"))
      .withColumn("prev", lag(col("bucket"), 1).over(byType))
      .withColumn("gap_h",
        (unix_timestamp(col("bucket"), "yyyy-MM-dd HH:mm:ss") -
          unix_timestamp(col("prev"), "yyyy-MM-dd HH:mm:ss")) / 3600)
      .withColumn("new_burst",
        when(col("prev").isNull || col("gap_h") > cooldownHours, 1L).otherwise(0L))
      .withColumn("burst", sum(col("new_burst")).over(
        byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("event_type"), col("burst"))
      .agg(min(col("bucket")).as("burst_start"),
           max(col("bucket")).as("burst_end"),
           count(lit(1)).as("n_buckets"),
           max(col("n")).as("peak_n"))
      .orderBy(col("event_type"), col("burst"))
  }

  def dauSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(dayStr(col("ts")).as("day"),
               (col("user_id") % 10).as("svc"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("dau_est"),
           count(lit(1)).as("n_partials"))
      .orderBy(col("day"))

  /** Value histogram per severity — the Grafana histogram-panel shape
    * (fixed-width bins over a measure, one series per type). Bin id is
    * `floor(value / width)` computed in IEEE double on both engines, so
    * the bucket edges are bit-identical to the oracle's. One aggregate
    * keyed on (type, bin) — ≤ types × bins groups regardless of event
    * count, partials combined map-side; the low/high bin edges are
    * derived arithmetic, not extra scans.
    */
  def histogram(spark: SparkSession, dir: String, width: Double = 25.0): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
               floor(col("value") / width).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
           m2(sum(dec2(col("value")))).as("sum_value"))
      .select(col("event_type"), col("bin"),
              round(col("bin") * width, 2).as("lo"),
              round((col("bin") + 1) * width, 2).as("hi"),
              col("n"), col("sum_value"))
      .orderBy(col("event_type"), col("bin"))
}
