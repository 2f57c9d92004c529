package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LogSync

/** STREAMING SERVICE GRAPH — the traces-signal member of the follow
  * family: as span files land in the `/v1/traces` lake
  * ([[graft.serving.OtlpHttp]]'s span intake), each polled increment
  * emits the caller→callee edge increments its spans complete — the
  * continuously-maintained APM service map (what Grafana Tempo's
  * metrics-generator derives from its span stream) instead of a
  * rescan of the span history.
  *
  * The structural problem a STREAMED service map has that the batch
  * twin ([[graft.operators.TraceAnalytics.serviceGraphEdges]]) does
  * not: an edge needs BOTH ends, and a child span can arrive in an
  * earlier poll than its parent (exporters batch per process, so the
  * two ends of a cross-service call ship independently). Two stores,
  * both pure functions of the consumed set (crash replay identical):
  *
  *  - PARENT DIRECTORY: (trace_id, span_id, service, ts) of consumed
  *    spans inside the join HORIZON — what children arriving later
  *    resolve against.
  *  - PENDING CHILDREN: consumed child spans whose parent has not
  *    been consumed — re-tried each poll, expired past the horizon.
  *
  * An edge is emitted by EXACTLY the increment that completes its
  * pair (parent already consumed → on the child's arrival; child
  * pending → on the parent's arrival; both in one increment → that
  * increment): `pending ⋈ directory` is empty BY INVARIANT, so
  * joining the unions touches only increment-completing pairs and
  * the union of all increments' edges equals the batch edge set —
  * the follow family's twin-equality discipline, spec-driven with a
  * child-before-parent poll split.
  *
  * The HORIZON bounds both stores: directory rows and pending
  * children older than `horizonMs` before the newest consumed span
  * are dropped (a real tracing backend's span-wait window — Tempo's
  * `wait`/`max_span_age`). A child whose parent never arrives inside
  * the horizon is surfaced in `__expired`, not silently dropped;
  * edges whose ends straddle more than the horizon are the
  * documented loss. State is therefore horizon-bounded (arrival-rate
  * × horizon rows), never history-sized.
  */
object TraceFollow {

  /** Incremental TWO-STORE state: (covered path set, parent directory,
    * pending children) per (session, root, marks). All frames are
    * eager localCheckpoints (marks/data files are rewritten beneath
    * us — see DedupFollow's rationale); production persists both
    * horizon-bounded tables beside the lake.
    */
  private val graphStore = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (DataFrame, DataFrame, DataFrame)]()

  /** Lake span rows mapped onto the edge model — the same projection
    * as [[graft.operators.TraceAnalytics.serviceGraphFromLake]]
    * (ns → round-half-up ms).
    */
  private def spansOf(df: DataFrame): DataFrame =
    df.select(col("trace_id"), col("span_id"), col("parent_span_id"),
      col("service_name").as("service"),
      floor(col("duration_ns") / lit(1000000.0) + lit(0.5))
        .cast("long").as("dur_ms"),
      col("timestamp").as("ts"))

  private def spansFor(spark: SparkSession, root: String,
                       paths: DataFrame): DataFrame =
    spansOf(LogSync.tableForKeep(spark, root, paths))

  private def childrenOf(spans: DataFrame): DataFrame =
    spans.filter(col("parent_span_id").isNotNull &&
      col("parent_span_id") =!= "")

  private def directoryOf(spans: DataFrame): DataFrame =
    spans.select(col("trace_id"), col("span_id"), col("service"), col("ts"))

  /** Advance (directory, pending) over newly consumed spans `add`:
    * new children resolve against the grown directory; survivors and
    * still-unresolved old pending stay. BOTH stores cut against ONE
    * clock — the newest instant across the grown DIRECTORY (a lone
    * orphan must age out against the stream's progress, not its own
    * standstill timestamp). Returns localCheckpointed frames.
    */
  private def advance(directory: DataFrame, pending: DataFrame,
                      add: DataFrame, horizonMs: Long): (DataFrame, DataFrame) = {
    val dir2 = directoryOf(add).unionByName(directory)
    val pend2 = childrenOf(add)
      .select(col("trace_id"), col("parent_span_id"), col("service"),
        col("dur_ms"), col("ts"))
      .unionByName(pending)
      .join(dir2.select(col("trace_id"),
          col("span_id").as("parent_span_id")),
        Seq("trace_id", "parent_span_id"), "left_anti")
    val mx = dir2.agg(max(col("ts"))).head()
    def cutOf(df: DataFrame): DataFrame =
      if (mx.isNullAt(0)) df
      else {
        val cut = new java.sql.Timestamp(mx.getTimestamp(0).getTime - horizonMs)
        df.filter(col("ts") >= lit(cut))
      }
    (cutOf(dir2).localCheckpoint(), cutOf(pend2).localCheckpoint())
  }

  /** The consumed corpus' (directory, pending), reusing and extending
    * the store under the covered ⊆ consumed discipline.
    */
  private def oldState(spark: SparkSession, root: String, marksDir: String,
                       consumed: DataFrame,
                       horizonMs: Long): (DataFrame, DataFrame) = {
    val key = (spark, root, marksDir)
    val st = graphStore.get(key)
    if (st == null)
      graft.SessionCaches.register(spark) { () =>
        Option(graphStore.remove(key)).foreach { case (c, d, p) =>
          c.unpersist(false); d.unpersist(false); p.unpersist(false)
        }
      }
    val frozen = consumed.localCheckpoint()
    def rebuild(): (DataFrame, DataFrame) = {
      val empty = spansOf(LogSync.table(spark, root).limit(0))
      advance(directoryOf(empty.limit(0)),
        childrenOf(empty.limit(0)).select(col("trace_id"),
          col("parent_span_id"), col("service"), col("dur_ms"), col("ts")),
        spansFor(spark, root, frozen), horizonMs)
    }
    val fresh = st match {
      case null =>
        val (d, p) = rebuild(); (frozen, d, p)
      case (covered, dir, pend) =>
        val vanished = covered.join(frozen, Seq("__registered_path"), "left_anti")
          .limit(1).count() > 0
        if (vanished) { // trimmed/foreign-rewritten marks: cache is stale
          covered.unpersist(false); dir.unpersist(false); pend.unpersist(false)
          val (d, p) = rebuild(); (frozen, d, p)
        } else {
          val missing = frozen.join(covered, Seq("__registered_path"), "left_anti")
          val (d, p) = advance(dir, pend, spansFor(spark, root, missing), horizonMs)
          covered.unpersist(false); dir.unpersist(false); pend.unpersist(false)
          (frozen, d, p)
        }
    }
    graphStore.put(key, fresh)
    (fresh._2, fresh._3)
  }

  /** Spec observable: advance the store to the CURRENT consumed set
    * and return (directory, pending) — what the next poll would see.
    * (Stores otherwise advance lazily, inside the next
    * [[incrementEdges]].)
    */
  private[graft] def refreshedState(spark: SparkSession, root: String,
                                    marksDir: String,
                                    horizonMs: Long): (DataFrame, DataFrame) = {
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    oldState(spark, root, marksDir, consumed, horizonMs)
  }

  /** One polled increment's service-map edge increments:
    * (parent_service, service, calls, callee_ms, __expired) — deltas a
    * downstream store folds by summing per edge; `__expired` counts
    * the pending children this increment's horizon advance timed out
    * (a surfaced diagnostic, constant per emitted row). When
    * expirations occur but the increment completes ZERO edges, one
    * all-null sentinel row (null edge, calls 0) carries the count so
    * the diagnostic is never lost; summing folds are unaffected.
    * Deterministic given the consumed set and the increment.
    */
  def incrementEdges(spark: SparkSession, root: String, marksDir: String,
                     inc: LakeFollow.Increment,
                     horizonMs: Long = 3600L * 1000): DataFrame = {
    val newSpans = spansOf(inc.rows).localCheckpoint()
    val consumed = LakeFollow.consumedPaths(spark, root, marksDir)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    val (directory, pending) = oldState(spark, root, marksDir, consumed, horizonMs)

    // pending ⋈ directory is empty by invariant, so joining the unions
    // emits exactly the pairs this increment completes
    val children = pending.unionByName(
      childrenOf(newSpans).select(col("trace_id"), col("parent_span_id"),
        col("service"), col("dur_ms"), col("ts")))
    val parents = directory.unionByName(directoryOf(newSpans))
      .select(col("trace_id"), col("span_id").as("parent_span_id"),
        col("service").as("parent_service"))
    val resolved = children.join(parents, Seq("trace_id", "parent_span_id"))

    // horizon expiry diagnostic: unresolved children the next poll's
    // advance will time out, against the SAME newest instant that
    // advance will see (directory ∪ increment)
    val unresolved = children.join(parents.select(col("trace_id"),
        col("parent_span_id")), Seq("trace_id", "parent_span_id"), "left_anti")
    val mxRow = directory.select(col("ts"))
      .unionByName(newSpans.select(col("ts")))
      .agg(max(col("ts"))).head()
    val expired =
      if (mxRow.isNullAt(0)) 0L
      else {
        val cut = new java.sql.Timestamp(mxRow.getTimestamp(0).getTime - horizonMs)
        unresolved.filter(col("ts") < lit(cut)).count()
      }

    val edges = resolved
      .groupBy(col("parent_service"), col("service"))
      .agg(count(lit(1)).as("calls"), sum(col("dur_ms")).as("callee_ms"))
      .withColumn("__expired", lit(expired))
      .orderBy(col("parent_service"), col("service"))
    // checkpoint FIRST, then probe emptiness on the checkpointed
    // frame (probing the raw plan would re-run the join + aggregate)
    val ck = edges.localCheckpoint()
    // an increment that completes no edge but expires pending
    // children still surfaces the count, on one all-null sentinel
    val out =
      if (expired > 0 && ck.limit(1).count() == 0)
        ck.unionByName(spark.range(1).select(
          lit(null).cast("string").as("parent_service"),
          lit(null).cast("string").as("service"),
          lit(0L).as("calls"),
          lit(null).cast("long").as("callee_ms"),
          lit(expired).as("__expired")))
      else ck
    newSpans.unpersist(false)
    out
  }

  /** The continuous form: follow the span lake and hand each
    * increment's edge deltas to `sink` before the increment commits
    * (process-then-commit at-least-once, identical replay on crash).
    */
  def start(spark: SparkSession, root: String, marksDir: String,
            checkpoint: String, sink: DataFrame => Unit,
            horizonMs: Long = 3600L * 1000,
            pollsPerSecond: Int = 2): StreamingQuery =
    LakeFollow.follow(spark, root, marksDir, checkpoint,
      (_, inc) => sink(incrementEdges(spark, root, marksDir, inc, horizonMs)),
      pollsPerSecond)
}
