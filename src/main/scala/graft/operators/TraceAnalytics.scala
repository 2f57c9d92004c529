package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** DISTRIBUTED TRACE analytics — the traces signal of the OTel triple
  * (the reference pipes logs only, but its schema carries trace/span
  * context precisely so log rows join a tracing backend:
  * README schema rows `TraceId`/`SpanId`; grafana logs.json surfaces
  * them as columns). This family builds the span model those columns
  * point INTO and runs the standard APM queries over it.
  *
  * Span synthesis (deterministic, shared by every query and replayed
  * verbatim by the DuckDB oracles): each event is a span;
  * `trace_id = md5(user_id '/' yyyy-MM-dd)` — the SAME trace key the
  * log side stamps ([[LogAnalytics.traceLookup]]), so logs and spans
  * correlate; span index = arrival rank within the trace; parent =
  * HEAP parent (`idx div 2` — span 1 is the root), giving a balanced
  * call tree whose depth grows log₂ with trace size; the service tier
  * is a function of the operation (view/click → web, signup → auth,
  * purchase → checkout, error → backend), so traces cross services
  * the way real request trees do.
  *
  * Scale shape: one shuffle by `trace_id` ranks spans inside their
  * trace (windows partition on the trace key — trace cardinality =
  * active user-days, span-per-trace bounded by per-user daily
  * activity, so no skewed giant partition); parent edges are an
  * equi-join on (trace_id, parent idx) — co-partitioned with the
  * ranking shuffle; the critical-path walk iterates the heap-parent
  * chain log₂(max depth) times (each round one co-partitioned join),
  * never materializing per-trace recursion state on the driver.
  */
object TraceAnalytics {

  /** The span table: (trace_id, idx, span_id, parent_span_id,
    * service, operation, ts, dur_ms). `dur_ms` uses
    * truncate(value×100 + 0.5) — identical double arithmetic in Spark
    * and DuckDB, no round-half ambiguity.
    */
  private[graft] def spans(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("trace_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("trace_id",
        md5(concat(col("user_id").cast("string"), lit("/"),
          date_format(col("ts"), "yyyy-MM-dd"))))
      .withColumn("idx", row_number().over(w))
      .withColumn("span_id", md5(col("event_id").cast("string")))
      .withColumn("service", serviceOf(col("event_type")))
      .withColumn("operation", col("event_type"))
      .withColumn("dur_ms", floor(col("value") * 100 + lit(0.5)).cast("long"))
      .select(col("trace_id"), col("idx"), col("span_id"), col("service"),
        col("operation"), col("ts"), col("dur_ms"))
  }

  private def serviceOf(op: Column): Column =
    when(op.isin("view", "click"), "web")
      .when(op === "signup", "auth")
      .when(op === "purchase", "checkout")
      .otherwise("backend")

  // ---- the general span model ---------------------------------------
  //
  // Every trace operator below runs on ONE span-model shape:
  //   (trace_id, __key, __pkey, service, operation, ts, dur_ms,
  //    is_error, is_root)
  // where `__key` identifies a span inside its trace and `__pkey`
  // points at its parent's `__key` (null at the root). The contract
  // synthesis exploits its heap structure (__key = idx, __pkey =
  // idx div 2 — integer keys, no parent lookup needed); the lake
  // mapping uses the OTLP ids the exporters stamped. Operators are
  // agnostic to the key type, so the certified contract plans and the
  // real-APM lake plans are the SAME code.

  /** The synthesis in model shape (contract plans unchanged: the heap
    * keys make `__pkey` a pure projection, no join).
    */
  private[graft] def synthModel(spark: SparkSession, dir: String): DataFrame =
    spans(spark, dir)
      .withColumn("__key", col("idx"))
      .withColumn("__pkey", when(col("idx") > 1, (col("idx") / 2).cast("int")))
      .withColumn("is_error", col("operation") === "error")
      .withColumn("is_root", col("idx") === 1)

  /** The OTLP-ingested span lake (`<root>/_traces`, written by
    * [[graft.serving.OtlpHttp]]) in model shape: durations arrive in
    * nanoseconds (round-half-up to ms — truncation would zero sub-ms
    * spans), services under `service_name`, operations under
    * `span_name`, error = OTLP `STATUS_CODE_ERROR` (2), root = no
    * parent id.
    */
  def spansFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    graft.sources.LogSync.table(spark, tracesRoot)
      .select(col("trace_id"),
        col("span_id").as("__key"),
        col("parent_span_id").as("__pkey"),
        col("service_name").as("service"),
        col("span_name").as("operation"),
        col("timestamp").as("ts"),
        floor(col("duration_ns") / lit(1000000.0) + lit(0.5))
          .cast("long").as("dur_ms"),
        (col("status_code") === 2).as("is_error"),
        col("parent_span_id").isNull.as("is_root"))

  /** Spans of ONE trace, tree-structured (the trace-view panel): each
    * span with its parent's span id attached. The trace filter lands
    * BEFORE the window, so the rank runs over one trace's rows — a
    * point lookup, not a corpus window ([[graft.sources.LakeIndex]]
    * covers the file-pruning side of the same lookup on a lake).
    */
  def traceSpans(spark: SparkSession, dir: String,
                 userDay: String = "7/2024-01-15"): DataFrame = {
    val mine = Tables.events(spark, dir)
      .withColumn("trace_id",
        md5(concat(col("user_id").cast("string"), lit("/"),
          date_format(col("ts"), "yyyy-MM-dd"))))
      .filter(col("trace_id") === md5(lit(userDay)))
    val w = Window.partitionBy(col("trace_id")).orderBy(col("ts"), col("event_id"))
    val s = mine
      .withColumn("idx", row_number().over(w))
      .withColumn("span_id", md5(col("event_id").cast("string")))
      .withColumn("service", serviceOf(col("event_type")))
      .withColumn("dur_ms", floor(col("value") * 100 + lit(0.5)).cast("long"))
    s.as("c")
      .withColumn("pidx", (col("c.idx") / 2).cast("int"))
      .join(s.select(col("idx").as("pidx"),
        col("span_id").as("parent_span_id")).as("p"), Seq("pidx"), "left")
      .select(col("c.idx").as("idx"), col("c.span_id").as("span_id"),
        col("parent_span_id"), col("c.service").as("service"),
        col("c.event_type").as("operation"), col("c.dur_ms").as("dur_ms"))
      .orderBy(col("idx"))
  }

  /** The service graph over ANY span table carrying real parent ids —
    * the library API for spans ingested through the OTLP edge
    * ([[graft.serving.OtlpHttp]]'s `/v1/traces` lake) or any source
    * with (trace_id, span_id, parent_span_id, service, dur_ms)
    * columns. Caller→callee edges from child⋈parent on
    * (trace_id, parent_span_id = span_id) — co-partitioned equi-join,
    * tier²-cardinality aggregate, same shape as the synthesized
    * contract twin below.
    */
  def serviceGraphEdges(spanTable: DataFrame): DataFrame = {
    // SELF-JOINED — one narrow checkpoint feeds both sides instead of
    // two full scans, and the repartition(trace_id) co-partitions the
    // parent equi-join (the [[serviceGraph]] discipline)
    val s = spanTable
      .select(col("trace_id"), col("span_id"), col("parent_span_id"),
        col("service"), col("dur_ms"))
      .repartition(col("trace_id"))
      .localCheckpoint()
    s.as("c").filter(col("c.parent_span_id").isNotNull)
      .join(s.select(col("trace_id"), col("span_id").as("__psid"),
        col("service").as("parent_service")).as("p"),
        col("c.trace_id") === col("p.trace_id") &&
          col("c.parent_span_id") === col("__psid"))
      .groupBy(col("parent_service"), col("c.service").as("service"))
      .agg(count(lit(1)).as("calls"), sum(col("c.dur_ms")).as("callee_ms"))
      .orderBy(col("parent_service"), col("service"))
  }

  /** [[serviceGraphEdges]] over the OTLP-ingested span lake (the
    * `<root>/_traces` table [[graft.serving.OtlpHttp]] writes):
    * durations arrive in nanoseconds and services under
    * `service_name` — mapped here onto the span model.
    */
  def serviceGraphFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    serviceGraphEdges(graft.sources.LogSync.table(spark, tracesRoot)
      .select(col("trace_id"), col("span_id"), col("parent_span_id"),
        col("service_name").as("service"),
        // round-half-up like every other duration path (truncation
        // would zero sub-ms spans and under-report callee_ms)
        floor(col("duration_ns") / lit(1000000.0) + lit(0.5))
          .cast("long").as("dur_ms")))

  /** The SERVICE GRAPH (the APM service-map panel): caller→callee
    * edges with call counts and callee latency, from parent→child
    * span pairs across every trace. One trace-keyed window + one
    * co-partitioned equi-join on (trace_id, parent idx) + one
    * low-cardinality aggregate — no per-trace driver work.
    */
  def serviceGraph(spark: SparkSession, dir: String): DataFrame = {
    // the span model is SELF-JOINED — uncut, both sides re-ran the
    // events scan + trace window; one narrow checkpoint (the
    // criticalPath discipline) feeds both sides, and the single
    // repartition(trace_id) co-partitions the parent equi-join
    val s = spans(spark, dir)
      .select(col("trace_id"), col("idx"), col("service"), col("dur_ms"))
      .repartition(col("trace_id"))
      .localCheckpoint()
    s.as("c").filter(col("c.idx") > 1)
      .withColumn("pidx", (col("c.idx") / 2).cast("int"))
      .join(s.select(col("trace_id"), col("idx").as("pidx"),
        col("service").as("parent_service")).as("p"), Seq("trace_id", "pidx"))
      .groupBy(col("parent_service"), col("c.service").as("service"))
      .agg(count(lit(1)).as("calls"),
        sum(col("c.dur_ms")).as("callee_ms"))
      .orderBy(col("parent_service"), col("service"))
  }

  /** Per-trace rollup (the trace-search result row): span count,
    * total span work, wall span (first to last event), root service,
    * error span count. Trace-cardinality output, one shuffle.
    */
  def traceSummary(spark: SparkSession, dir: String): DataFrame =
    traceSummaryOf(synthModel(spark, dir))

  /** [[traceSummary]] on any span-model frame. */
  def traceSummaryOf(model: DataFrame): DataFrame =
    model
      .groupBy(col("trace_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("dur_ms")).as("total_ms"),
        max(when(col("is_root"), col("service"))).as("root_service"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("n_errors"))
      .orderBy(col("trace_id"))

  /** [[traceSummary]] over the OTLP-ingested span lake. */
  def traceSummaryFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    traceSummaryOf(spansFromLake(spark, tracesRoot))

  /** Span-duration latency panel per (service, operation) — the APM
    * "p50/p95 by endpoint" view: exact percentiles over the span
    * durations (`percentile` is a mergeable aggregate — map-side
    * partials, one shuffle to tier×operation cardinality) plus call
    * counts and total time. The window in the span synthesis is the
    * only trace-keyed pass; the percentile aggregate itself never
    * sorts the corpus.
    */
  def latencyByService(spark: SparkSession, dir: String): DataFrame =
    latencyOf(synthModel(spark, dir))

  /** [[latencyByService]] on any span-model frame. */
  def latencyOf(model: DataFrame): DataFrame =
    model
      .groupBy(col("service"), col("operation"))
      .agg(
        round(expr("percentile(dur_ms, 0.5)"), 4).as("p50_ms"),
        round(expr("percentile(dur_ms, 0.95)"), 4).as("p95_ms"),
        count(lit(1)).as("calls"),
        sum(col("dur_ms")).as("total_ms"))
      .orderBy(col("service"), col("operation"))

  /** [[latencyByService]] over the OTLP-ingested span lake — the real
    * APM p50/p95-by-endpoint panel.
    */
  def latencyFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    latencyOf(spansFromLake(spark, tracesRoot))

  /** TAIL-BASED SAMPLING — the OTel tail-sampling processor's
    * decision, made the way only a backend can (after the whole trace
    * is visible): keep every trace with an ERROR span, every trace
    * slower than `slowMs` total, and a deterministic hash sample of
    * the rest. The probabilistic leg is the md5-PREFIX rule
    * (`md5(trace_id) < hexCut` over the first two hex digits — e.g.
    * "2a" keeps 42/256 ≈ 16%), so the decision is a pure function of
    * the trace id: replayable on both engines, consistent across
    * re-runs, and exactly the property a distributed sampler needs
    * (any node decides any trace identically, no coordination).
    *
    * Scale shape: ONE trace-keyed aggregate makes every decision
    * (error-count, total, and the hash rule are all mergeable);
    * output is kept-trace-cardinality. No join back to spans here —
    * exporting the kept spans is the existing manifest semi-join
    * pattern ([[graft.sources.LogSync.table]]) with this frame as
    * the keep set.
    */
  def tailSample(spark: SparkSession, dir: String,
                 slowMs: Long = 3000, hexCut: String = "2a"): DataFrame =
    tailSampleOf(synthModel(spark, dir), slowMs, hexCut)

  /** [[tailSample]] on any span-model frame. */
  def tailSampleOf(model: DataFrame, slowMs: Long = 3000,
                   hexCut: String = "2a"): DataFrame = {
    // hexCut compares lexicographically against a lowercase 2-char md5
    // prefix — validate it's exactly that shape so e.g. "2A" (keeps
    // ~0%: uppercase sorts below all lowercase hex) or a 1/3-char cut
    // can't silently change the keep rate
    require(hexCut.length == 2 && hexCut.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"hexCut must be exactly 2 lowercase hex chars (keep rate = " +
        s"parseInt(hexCut,16)/256); got '$hexCut'")
    model
      .groupBy(col("trace_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("dur_ms")).as("total_ms"),
        sum(when(col("is_error"), 1L).otherwise(0L)).as("n_errors"))
      .withColumn("reason",
        when(col("n_errors") > 0, "error")
          .when(col("total_ms") >= slowMs, "slow")
          .when(substring(md5(col("trace_id")), 1, 2) < hexCut, "prob"))
      .filter(col("reason").isNotNull)
      .select(col("trace_id"), col("n_spans"), col("total_ms"), col("reason"))
      .orderBy(col("trace_id"))
  }

  /** [[tailSample]] over the OTLP-ingested span lake — the decision
    * frame a tail-sampling exporter keeps; exporting the kept spans is
    * the manifest semi-join with this as the keep set.
    */
  def tailSampleFromLake(spark: SparkSession, tracesRoot: String,
                         slowMs: Long = 3000, hexCut: String = "2a"): DataFrame =
    tailSampleOf(spansFromLake(spark, tracesRoot), slowMs, hexCut)

  /** PER-SERVICE SELF TIME — the flamegraph aggregate: how much of a
    * service's span time is its OWN work vs waiting on children
    * (`self = dur − Σ children dur`; negative when children overlap
    * the parent, surfaced as-is — the overlap is real concurrency
    * information). The children's contribution comes from ONE
    * aggregate over the heap-parent key (trace_id, idx div 2) joined
    * back co-partitioned on (trace_id, idx) — no per-trace recursion,
    * no window beyond the synthesis rank; final frame is
    * tier-cardinality.
    */
  def selfTime(spark: SparkSession, dir: String): DataFrame =
    selfTimeOf(synthModel(spark, dir))

  /** [[selfTime]] on any span-model frame: children aggregate on the
    * parent pointer (trace_id, __pkey), joined back co-partitioned on
    * (trace_id, __key) — no per-trace recursion.
    */
  def selfTimeOf(model: DataFrame): DataFrame = {
    val childSums = model.filter(col("__pkey").isNotNull)
      .groupBy(col("trace_id"), col("__pkey").as("__key"))
      .agg(sum(col("dur_ms")).as("child_ms"))
    model.join(childSums, Seq("trace_id", "__key"), "left")
      .groupBy(col("service"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("dur_ms")).as("total_ms"),
        sum(col("dur_ms") - coalesce(col("child_ms"), lit(0L))).as("self_ms"))
      .orderBy(col("service"))
  }

  /** [[selfTime]] over the OTLP-ingested span lake — the flamegraph
    * self-vs-wait aggregate on real spans.
    */
  def selfTimeFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    selfTimeOf(spansFromLake(spark, tracesRoot))

  /** CROSS-SIGNAL CORRELATION, corpus-wide: every span left-joined to
    * its WARN-and-up log record through the SAME (trace_id, span_id)
    * context both signals stamp — the "do my logs actually land on my
    * traces" audit an OTel deployment runs after wiring trace context
    * into its log SDKs, and the aggregate behind "which services emit
    * warnings from inside which spans". The log side carries the
    * 16-hex span id OTLP logs use; the span side the full 32-hex id —
    * the join matches on the log-length prefix, exactly the
    * truncation a log SDK applies.
    *
    * Scale shape: BOTH sides are corpus-sized, so this is the one
    * genuinely large⋈large join in the trace family — an equi-join
    * hash-partitioned on (trace_id, span prefix) (one shuffle each
    * side, no broadcast of a corpus-scaled table), then a
    * service×day-cardinality aggregate. Each span matches ≤1 log row
    * (span ids are unique), so the join never amplifies.
    */
  def traceLogs(spark: SparkSession, dir: String): DataFrame = {
    val s = spans(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val warn = LogAnalytics.otelLogsShared(spark, dir)
      .filter(col("severity_number") >= 13)
      .select(col("trace_id").as("l_trace_id"), col("span_id").as("l_span_id"))
    s.join(warn,
        col("trace_id") === col("l_trace_id") &&
          substring(col("span_id"), 1, 16) === col("l_span_id"), "left")
      .groupBy(col("service"), col("day"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("l_span_id").isNotNull, 1L).otherwise(0L)).as("n_warn"),
        coalesce(sum(when(col("l_span_id").isNotNull, col("dur_ms"))), lit(0L))
          .as("warn_ms"))
      .orderBy(col("service"), col("day"))
  }

  /** CRITICAL PATH per trace: the maximum root-to-span cost in the
    * heap-parent tree — the "where did the latency go" number. The
    * ancestor chain of span `idx` is idx, idx÷2, idx÷4, …, 1, so the
    * walk needs ⌈log₂(deepest index)⌉ rounds; each round advances
    * every span's cursor one hop via a co-partitioned equi-join and
    * folds the parent's duration into the path sum. The round count
    * is a control-plane aggregate (max idx), NOT a data-dependent
    * driver loop per trace; at 100 TB spans-per-trace is bounded by
    * per-user daily activity, so rounds ≈ log₂(a few thousand) ≤ 12.
    * Oracle: DuckDB recursive CTE replays the same walk.
    */
  def criticalPath(spark: SparkSession, dir: String): DataFrame = {
    // The synthesis' heap keys make every span's ENTIRE ancestor set a
    // pure projection — idx, idx÷2, …, 1 is just idx right-shifted by
    // k = 0..⌊log₂ idx⌋ — so the ⌈log₂ depth⌉ iterative join rounds
    // (r17 shape: one job + checkpoint per round) collapse into ONE
    // generate + equi-join + aggregate pass: explode each span into
    // its ≤ ⌊log₂ idx⌋+1 ancestor indices (shift-and-filter, no FP
    // log), fetch each ancestor's duration with a single
    // (trace_id, anc) join, and sum per span. Same O(N·log depth)
    // rows as the walk shuffled across rounds, but one shuffle stage
    // instead of log₂(depth) sequential barriers. The single
    // repartition on trace_id co-partitions the checkpointed frame
    // for BOTH join sides AND both aggregates (hash(trace_id)
    // satisfies every downstream clustering), so the join and the
    // aggregates add no exchange.
    val s = spans(spark, dir)
      .select(col("trace_id"), col("idx"), col("dur_ms"))
      .repartition(col("trace_id"))
      .localCheckpoint() // materialized once; both join sides read it
    val hops = s.select(col("trace_id"), col("idx"),
        explode(sequence(lit(0), lit(31))).as("k"))
      .withColumn("anc", expr("shiftright(idx, k)"))
      .filter(col("anc") >= 1)
    hops.join(s.select(col("trace_id"), col("idx").as("anc"),
        col("dur_ms")), Seq("trace_id", "anc"))
      .groupBy(col("trace_id"), col("idx"))
      .agg(sum(col("dur_ms")).as("path_ms"))
      .groupBy(col("trace_id"))
      .agg(max(col("path_ms")).as("critical_ms"), count(lit(1)).as("n_spans"))
      .orderBy(col("trace_id"))
  }

  /** [[criticalPath]] on any span-model frame — POINTER JUMPING over
    * arbitrary parent pointers (the heap walk above exploits the
    * synthesis' integer keys; real spans carry opaque ids): state
    * (trace_id, __key, jump, acc) starts at (span, parent, own dur)
    * and each round composes the chain with ITSELF — acc += acc at
    * jump, jump = jump at jump — so the walked distance DOUBLES per
    * round and ⌈log₂ depth⌉ co-partitioned self-joins complete every
    * root-to-span sum (vs depth rounds for one-hop walking). A jump
    * landing on a MISSING key (an orphan child whose parent never
    * arrived) terminates there: the partial path is the honest answer
    * for a torn trace; `maxRounds` bounds the loop against cyclic
    * garbage (2^40 depth covers any real trace).
    */
  def criticalPathOf(model: DataFrame, maxRounds: Int = 40): DataFrame = {
    // the open-pointer count rides the materializing localCheckpoint
    // action itself (the [[Hierarchy.depths]] observe discipline) —
    // ONE job per jump round instead of checkpoint + a separate
    // limit(1).count probe; the seed's single repartition on trace_id
    // co-partitions every round's self-join (hash(trace_id) satisfies
    // the (trace_id, jump) clustering on both sides, and projections
    // preserve it through each checkpoint), so no round exchanges
    def checkpointWithOpen(df: DataFrame, tag: String): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation(tag)
      val out = df
        .observe(obs, sum(when(col("jump").isNotNull, 1L).otherwise(0L)).as("open"))
        .localCheckpoint()
      (out, obs.get("open").asInstanceOf[Long])
    }
    var (state, open) = checkpointWithOpen(
      model.select(col("trace_id"), col("__key"),
          col("__pkey").as("jump"),
          coalesce(col("dur_ms"), lit(0L)).as("acc"))
        .repartition(col("trace_id")), "cp_seed")
    var rounds = 0
    while (open > 0 && rounds < maxRounds) {
      rounds += 1
      val hop = state.select(col("trace_id"), col("__key").as("jump"),
        col("jump").as("__jump2"), col("acc").as("__acc2"))
      val r = checkpointWithOpen(state.join(hop, Seq("trace_id", "jump"), "left")
        .select(col("trace_id"), col("__key"),
          // matched: advance to the parent's jump (doubling); missed
          // (complete, or dangling parent): terminate
          when(col("__acc2").isNotNull, col("__jump2")).as("jump"),
          (col("acc") + coalesce(col("__acc2"), lit(0L))).as("acc")), s"cp_jump$rounds")
      state = r._1; open = r._2
    }
    state.groupBy(col("trace_id"))
      .agg(max(col("acc")).as("critical_ms"), count(lit(1)).as("n_spans"))
      .orderBy(col("trace_id"))
  }

  /** [[criticalPath]] over the OTLP-ingested span lake. */
  def criticalPathFromLake(spark: SparkSession, tracesRoot: String): DataFrame =
    criticalPathOf(spansFromLake(spark, tracesRoot))

  private val tracesLake = graft.sources.FixtureBuild("graft_trace_lake_v3")

  /** A SPAN LAKE built from the synthesis through the REAL ingest
    * path — OTLP/JSON envelopes ([[graft.sources.OtlpTraces
    * .toOtlpJson]]) → the shared parse → partitioned
    * [[graft.sources.LogWriter.write]] → [[graft.sources.LogSync
    * .sync]] — memoized per sf dir under /tmp (marker-idempotent),
    * the traces analog of `LakeAnalytics.lakeRoot`. What the lake
    * twins' contract certification runs against.
    */
  private[graft] def tracesLakeRoot(spark: SparkSession, dir: String): String =
    tracesLake(spark, dir) { root =>
      import graft.sources.{LogSync, LogWriter, OtlpTraces}
      graft.functions.VectorFunctions.register(spark)
      // real parent SPAN IDS on the wire (one co-partitioned
      // self-join at build time): the lake carries the tree the way
      // exporters ship it, so every lake twin — graph, self-time,
      // critical path — runs on genuine opaque pointers
      val s = spans(spark, dir)
      val withParent = s
        .withColumn("pidx", (col("idx") / 2).cast("int"))
        .join(s.select(col("trace_id"), col("idx").as("pidx"),
          col("span_id").as("parent_span_id")), Seq("trace_id", "pidx"), "left")
      // SPAN EVENTS: error spans and every dur_ms ≡ 0 (mod 7) span
      // carry one "exception" event (the recordException shape) with a
      // deterministic exception.type — replayable in the DuckDB
      // oracle. LINKS: each ROOT span links to the same user's
      // PREVIOUS-day trace (the batch-consumer / follows-from shape) —
      // resolvable when that day had events, dangling otherwise.
      val prevKeys = graft.sources.Tables.events(spark, dir)
        .select(md5(concat(col("user_id").cast("string"), lit("/"),
            date_format(col("ts"), "yyyy-MM-dd"))).as("trace_id"),
          md5(concat(col("user_id").cast("string"), lit("/"),
            date_format(date_sub(col("ts"), 1), "yyyy-MM-dd"))).as("prev_trace_id"))
        .distinct()
      val enriched = withParent
        .join(prevKeys, Seq("trace_id"))
        .withColumn("exc_type",
          when(col("operation") === "error" || col("dur_ms") % 7 === 0,
            when(col("dur_ms") % 3 === 0, "TimeoutError")
              .when(col("dur_ms") % 3 === 1, "ConnectionError")
              .otherwise("ValueError")))
        .withColumn("exc_msg",
          when(col("exc_type").isNotNull, concat(lit("exc-"), col("operation"))))
        .withColumn("link_trace", when(col("idx") === 1, col("prev_trace_id")))
      // BOTH transports feed one lake (a mixed exporter fleet), split
      // by span-id hash so roots (with links) and exception spans ride
      // both wires: half ship protobuf TracesData, half OTLP/JSON —
      // every trace_lake_* twin and the two event/link queries below
      // certify the two wire paths land identical rows
      val startUs = unix_micros(col("ts"))
      val endUs = unix_micros(col("ts")) + col("dur_ms") * 1000L
      val parent = when(col("idx") > 1, col("parent_span_id"))
      val status = when(col("operation") === "error", 2).otherwise(0)
      val jsonEnvs = enriched.filter(crc32(col("span_id")) % 2 === 1)
        .select(OtlpTraces.toOtlpJson(
          startUs, endUs, col("service"), col("trace_id"), col("span_id"),
          parent, col("operation"), lit(2), status,
          col("exc_type"), col("exc_msg"), col("link_trace"),
          lit(null).cast("string")).as("payload"))
      val protoBins = enriched.filter(crc32(col("span_id")) % 2 === 0)
        .select(OtlpTraces.toOtlpProtoEvents(
          startUs, endUs, col("service"), col("trace_id"), col("span_id"),
          parent, col("operation"), lit(2), status,
          col("exc_type"), col("exc_msg"), col("link_trace"),
          lit(null).cast("string")).as("bin"))
      LogWriter.write(OtlpTraces.parse(jsonEnvs, col("payload")), root,
        layout = LogWriter.DailyLayout)
      LogWriter.write(OtlpTraces.parseProto(protoBins, col("bin")), root,
        layout = LogWriter.DailyLayout)
      LogSync.sync(spark, root)
      ()
    }

  /** `trace_lake_latency`: [[latencyFromLake]] over the ingested span
    * lake — the SAME oracle as `trace_latency`, so the hash-match
    * certifies envelope → parse → partitioned write → sync →
    * lake read → model mapping → exact percentiles END-TO-END on the
    * lake surface (the synthesis twin certifies only the in-memory
    * plan). Durations survive bit-exactly: ms → µs span bounds → ns
    * lake column → round-half-up back to ms.
    */
  def lakeLatency(spark: SparkSession, dir: String): DataFrame =
    latencyFromLake(spark, tracesLakeRoot(spark, dir))

  /** The remaining lake twins as contract queries, each reusing its
    * synthesis twin's oracle verbatim: the hash-matches certify that
    * the GENERAL operators (opaque parent ids, pointer jumping,
    * status-code error detection) reproduce the specialized
    * heap-walk results bit for bit on a lake that went through the
    * real ingest path.
    */
  def lakeServiceGraph(spark: SparkSession, dir: String): DataFrame =
    serviceGraphFromLake(spark, tracesLakeRoot(spark, dir))

  def lakeSummary(spark: SparkSession, dir: String): DataFrame =
    traceSummaryFromLake(spark, tracesLakeRoot(spark, dir))

  def lakeTailSample(spark: SparkSession, dir: String): DataFrame =
    tailSampleFromLake(spark, tracesLakeRoot(spark, dir))

  def lakeSelfTime(spark: SparkSession, dir: String): DataFrame =
    selfTimeFromLake(spark, tracesLakeRoot(spark, dir))

  def lakeCriticalPath(spark: SparkSession, dir: String): DataFrame =
    criticalPathFromLake(spark, tracesLakeRoot(spark, dir))

  // LakeIndex builds are incremental, so once per (session, lake)
  private val spanIndexed = graft.SessionCaches.memo[String, Unit]()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** `trace_lake_spans`: the trace-view panel as a POINT LOOKUP on the
    * ingested span lake, routed through the [[graft.sources.LakeIndex]]
    * bloom sidecar on `trace_id` (the `lake_needle` pattern) — at
    * 100 TB the lookup opens only the bloom-positive files instead of
    * scanning the corpus for one trace (the synthesized `trace_spans`
    * computes its trace key and so cannot push the filter; the real
    * lake CAN, and this query proves the routed path end-to-end).
    * Spec asserts the kept-file fraction actually falls
    * (bloom-negative files never reach the scan).
    */
  def lakeTraceSpans(spark: SparkSession, dir: String,
                     userDay: String = "7/2024-01-15"): DataFrame = {
    val root = tracesLakeRoot(spark, dir)
    spanIndexed(spark, root) {
      graft.sources.LakeIndex.build(spark, root, "trace_id",
        expectedItemsPerFile = 4096); ()
    }
    graft.sources.LakeIndex.lookup(spark, root, "trace_id", Seq(md5Hex(userDay)))
      .select(col("span_id"), col("parent_span_id"),
        col("service_name").as("service"), col("span_name").as("operation"),
        floor(col("duration_ns") / lit(1000000.0) + lit(0.5))
          .cast("long").as("dur_ms"))
      .orderBy(col("span_id"))
  }

  /** `trace_span_events`: top EXCEPTION TYPES per service — the
    * exception-analysis panel every APM ships — off
    * [[graft.sources.OtlpTraces.spanEvents]] over the ingested span
    * lake: span events (OTel `recordException`'s in-span log records)
    * land as canonical JSON arrays on both transports, explode to the
    * log-like view, and the `exception.type` attribute aggregates per
    * service. Map-only until the (service × type)-cardinality
    * aggregate; the oracle replays the synthesis rules, so the
    * hash-match certifies event encode (JSON AND protobuf wire) →
    * intake → landing → typed re-read → attribute extraction
    * end-to-end.
    */
  def lakeSpanEvents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.OtlpTraces.spanEvents(
        graft.sources.LogSync.table(spark, tracesLakeRoot(spark, dir)))
      .filter(col("event_name") === "exception")
      .select(col("service_name").as("service"),
        from_json(col("event_attributes"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
          .getItem("exception.type").as("exc_type"))
      .groupBy(col("service"), col("exc_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("service"), col("exc_type"))

  /** `trace_span_links`: trace→trace CAUSALITY — each root span links
    * to the same user's previous-day trace (the batch-consumer /
    * follows-from shape OTel links exist for); per service, how many
    * links RESOLVE to a trace present in the lake vs dangle. The
    * resolve probe is a broadcast-free left-semi-shaped join on the
    * distinct trace-id relation (trace cardinality = user-days);
    * everything else is map-only + a tiny aggregate. Certifies link
    * encode (both wires) → landing → typed re-read → cross-trace
    * resolution.
    */
  def lakeSpanLinks(spark: SparkSession, dir: String): DataFrame = {
    val root = tracesLakeRoot(spark, dir)
    val t = graft.sources.LogSync.table(spark, root)
    val linked = t.filter(col("span_links").isNotNull)
      .select(col("service_name").as("service"),
        explode(from_json(col("span_links"),
          graft.sources.OtlpTraces.linkSchema)).as("l"))
      .select(col("service"), col("l.traceId").as("target"))
    val known = t.select(col("trace_id").as("target")).distinct()
      .withColumn("__hit", lit(true))
    linked.join(known, Seq("target"), "left")
      .groupBy(col("service"),
        coalesce(col("__hit"), lit(false)).as("resolved"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("service"), col("resolved"))
  }

  /** PROTOBUF-transport ingest round-trip proof for the traces
    * signal: the span model encoded to OTLP `TracesData` wire bytes
    * ([[graft.sources.OtlpTraces.toOtlpProto]], codegen'd pure-JVM
    * encoder) → [[graft.sources.OtlpTraces.parseProto]] (wire decode
    * → the shared JSON-envelope parse) → per-service aggregate. The
    * oracle computes the same aggregate from the span synthesis
    * directly, so the hash-match certifies the whole protobuf
    * encode→decode→flatten path span-for-span — the transport a
    * stock OTLP exporter defaults to. Encode+decode are map-only
    * expressions in one stage; the only shuffles are the synthesis
    * rank window and the final aggregate.
    */
  def otlpProtoRoundtrip(spark: SparkSession, dir: String): DataFrame =
    protoSpans(spark, dir)
      .groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("duration_ns")).as("total_dur_ns"),
        countDistinct(col("trace_id")).as("n_traces"),
        date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_ts"),
        date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
      .orderBy(col("service_name"))

  /** The wire-parsed span frame, persisted once per session — the
    * [[LogAnalytics]] `otelProtoLogs` discipline: the protobuf
    * encode→decode path is certified once, not re-run per query.
    */
  private val protoCache = graft.SessionCaches.memo[String, DataFrame](_.unpersist(false))

  private def protoSpans(spark: SparkSession, dir: String): DataFrame =
    protoCache(spark, dir) {
      import graft.sources.OtlpTraces
      graft.functions.VectorFunctions.register(spark)
      val payloads = spans(spark, dir)
        .select(OtlpTraces.toOtlpProto(
          unix_micros(col("ts")),
          unix_micros(col("ts")) + col("dur_ms") * 1000L,
          col("service"), col("trace_id"), col("span_id"),
          lit(null).cast("string"), col("operation"), lit(2), lit(0)).as("bin"))
      OtlpTraces.parseProto(payloads, col("bin")).persist()
    }
}
