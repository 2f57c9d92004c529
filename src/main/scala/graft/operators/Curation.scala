package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-curation operators — the composite decisions a training-data
  * pipeline makes on top of the primitive text/dedup operators.
  * Everything is per-document column arithmetic plus one window or
  * aggregate; no operator here shuffles more than once.
  */
object Curation {

  import TextAnalysis.{toks, StopWords}

  /** n-token shingles (distinct) from a MATERIALIZED token column —
    * the n-gram generalization of the dedup shingler (tokenize once;
    * Catalyst does not CSE across lambda bodies).
    */
  private[graft] def shingleArr(t: Column, n: Int): Column =
    when(size(t) >= n,
      array_distinct(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Keep/drop decision per document with the FIRST failing rule as the
    * reason: too short → low quality → exact duplicate (non-keeper) →
    * keep. Quality/fingerprint arithmetic mirrors
    * [[TextAnalysis.stats]] / [[TextAnalysis.fingerprintExpr]] verbatim
    * so the DuckDB oracle replays it step for step.
    *
    * Shape: one projection (tokens → counts → quality → fingerprint),
    * one window over the fingerprint for the cluster keeper, one
    * ordered output — two shuffles total regardless of corpus size.
    */
  /** The per-document curation SIGNALS (token count, quality score,
    * content fingerprint) — ONE definition shared by the batch gate
    * ([[curate]]) and the streaming gate
    * ([[graft.streaming.CurateFollow]]), so the stream can never
    * drift from the batch semantics it must agree with.
    */
  private[graft] def curateSignalsOf(documents: DataFrame): DataFrame = {
    val t = col("tk")
    documents
      .select(col("doc_id"), col("text"), toks(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(t).as("n_tokens"),
        size(filter(t, x => x.isInCollection(StopWords))).as("stop_hits"),
        TextAnalysis.fingerprintExpr(col("text")).as("fp"))
      .withColumn("quality",
        round(
          least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5 +
          (col("stop_hits").cast("double") / greatest(col("n_tokens"), lit(1))) * 0.5, 4))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("fp"))
  }

  def curate(spark: SparkSession, dir: String,
             minTokens: Int = 20, minQuality: Double = 0.25): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    curateSignalsOf(Tables.documents(spark, dir))
      .withColumn("keeper", min(col("doc_id")).over(byFp))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "short")
          .when(col("quality") < minQuality, "low_quality")
          .when(col("doc_id") =!= col("keeper"), "duplicate")
          .otherwise("keep"))
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("reason"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sample: k documents per language via the
    * bottom-k-by-md5 reservoir ([[graft.functions.BottomKSample]]) as a
    * grouped aggregate — O(k) state per group, partitioning-invariant,
    * so the stratified sample is oracle-checkable.
    */
  def samplePerGroup(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(expr(s"graft_sample(doc_id, $k)").as("ids"))
      .select(col("lang"), explode(col("ids")).as("doc_id"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .orderBy(col("lang"), col("h"))
  }

  /** Test-set contamination scan (decontamination): how many distinct
    * n-gram shingles of each TRAINING document also appear in the
    * TEST set (here: doc_id < 20, the evaluation-holdout stand-in).
    *
    * Scale shape: the test set's shingles are tiny by definition and
    * broadcast; the training corpus is scanned ONCE with a broadcast
    * semi-join per shingle — no shuffle of the corpus at all. This is
    * the n-gram-overlap decontamination pass every LLM data pipeline
    * runs before training.
    */
  def contamination(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(shingleArr(col("t"), n)).as("s"))
    val testShingles = sh.filter(col("doc_id") < 20).select(col("s")).distinct()
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(testShingles), Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** [[contamination]] with a BLOOM-FILTER PREFILTER — the shape that
    * scales the decontamination scan. The exact broadcast semi-join is
    * still the last word (bloom false positives are re-checked, so the
    * result is IDENTICAL to [[contamination]] and shares its oracle),
    * but the corpus-side shingle stream is first probed against a
    * KB-sized bloom built from the test set: at 100 TB the prefilter
    * discards ~all non-contaminated shingles inside the scan stage
    * with one hash probe each, so the semi-join's input — and the
    * whole-stage-codegen break it implies — sees only the tiny
    * might-match residue. Uses Spark's own BloomFilterAggregate /
    * BloomFilterMightContain (the runtime-join-filter machinery),
    * exposed as `graft_bloom` / `graft_bloom_contains`; the built
    * bloom crosses the driver once as a literal, exactly like a
    * broadcast-join build side (control plane, size independent of
    * corpus).
    */
  def contaminationBloom(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(shingleArr(col("t"), n)).as("s"))
    val testShingles = sh.filter(col("doc_id") < 20).select(col("s")).distinct().cache()
    val bloom = testShingles
      .agg(expr("graft_bloom(xxhash64(s), 8192)").as("bf")).head().getAs[Array[Byte]]("bf")
    sh.filter(col("doc_id") >= 20)
      .filter(call_function("graft_bloom_contains", lit(bloom), xxhash64(col("s"))))
      .join(broadcast(testShingles), Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** SEMANTIC test-set contamination — decontamination's embedding
    * path. The exact n-gram scans ([[contamination]]/
    * [[contaminationBloom]]) catch verbatim leakage; the eval leakage
    * that actually bites model evaluations is PARAPHRASED — same
    * content, different surface, invisible to any shingle match. This
    * composes the SemDeDup cell machinery ([[Dedup.semantic]]) with a
    * test-set probe: k-means cells over the embedding corpus
    * (centroids are control-plane, k×dim doubles back as broadcast
    * literals), the TEST vectors (`vec_id < 20`, the same
    * evaluation-holdout stand-in as [[contamination]]'s `doc_id <
    * 20`) assigned to their `probes` nearest cells (multiprobe — the
    * recall knob, IVF's nprobe), corpus rows joined to test rows on
    * the CELL id, and within-cell cosine flags every corpus vector
    * within `threshold` of some test vector — reported with its
    * nearest test id and the similarity, the triage columns a
    * decontamination reviewer needs.
    *
    * Scale shape: the quadratic term is bucketed to
    * Σ_cell |cell|·|test ∩ probed(cell)| — a plain equi-join on
    * `cell`, never all-pairs (spec-asserted: no
    * BroadcastNestedLoopJoin, no CartesianProduct); the test side is
    * tiny by definition and explodes to |test|·probes rows, so the
    * join broadcasts it. Flagging is EXACT within probed cells
    * (false positives impossible — every candidate's true cosine is
    * computed), so precision is 1 and recall is the cell-probe
    * recall; the spec checks ≥ 0.9 vs the all-pairs oracle at
    * sf0.001 and recovers an injected paraphrase with its source
    * test id. Rows-only by design: k-means is iterative, no SQL
    * oracle.
    */
  def contaminationSemantic(spark: SparkSession, dir: String,
                            threshold: Double = 0.3, k: Int = 16,
                            probes: Int = 6): DataFrame =
    contaminationSemanticOf(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("v")),
      threshold, k, probes,
      // the source-table corpus trains through the per-session memo
      // ([[Clustering.centroids]]) — same cells, paid once per session
      centsOpt = Some(Clustering.centroids(spark, dir, k)))

  /** [[contaminationSemantic]] over an arbitrary `(vec_id, v)` frame —
    * the spec's injection seam (paraphrase fixtures, following the
    * mm_neardup injected-near-duplicate discipline).
    */
  private[graft] def contaminationSemanticOf(spark: SparkSession, emb: DataFrame,
                                             threshold: Double, k: Int,
                                             probes: Int,
                                             centsOpt: Option[Array[(Int, Seq[Double])]] = None
                                            ): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val cents = centsOpt.getOrElse(
      Clustering.centroidsOf(spark, emb.select(col("vec_id"), col("v")), k))
    val e = emb
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val corpus = e.filter(col("vec_id") >= 20)
      .withColumn("cell", element_at(Similarity.topCellsExpr(cents)(col("v"), 1), 1))
    val tests = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("test_id"), col("v").as("tv"), col("nrm").as("tn"),
        explode(Similarity.topCellsExpr(cents)(col("v"), probes)).as("cell"))
    val cosc = call_function("graft_dot", col("v"), col("tv")) / (col("nrm") * col("tn"))
    corpus.join(tests, Seq("cell"))
      .filter(cosc >= threshold)
      .withColumn("cos", round(cosc, 4))
      .groupBy(col("vec_id"))
      // nearest test id per flagged doc; cos ties break to the higher
      // test id — deterministic under any partitioning
      .agg(max(struct(col("cos"), col("test_id"))).as("m"))
      .select(col("vec_id"), col("m.test_id").as("test_id"), col("m.cos").as("cos"))
      .orderBy(col("vec_id"))
  }

  /** Connected components over the near-duplicate graph (edges =
    * [[Dedup.ngramJaccard]] J ≥ 0.8 pairs): every document in a
    * near-dup cluster labeled with the cluster's smallest doc_id —
    * the keeper-selection step after pairwise dedup.
    *
    * HashMin label propagation: per round each vertex takes the min of
    * its own and its neighbors' labels (one equi-join + one aggregate
    * per round); rounds ≤ graph diameter (near-dup clusters are
    * shallow). `localCheckpoint` truncates the lineage each round so
    * the plan doesn't grow with iterations. Only the converged change
    * COUNT crosses the driver. No SQL oracle (iterative); the spec
    * checks exact agreement with a local union-find at small sf.
    */
  def dedupClusters(spark: SparkSession, dir: String, maxIters: Int = 20): DataFrame =
    clusterCache(spark, (dir, maxIters))(dedupClustersBuild(spark, dir, maxIters))

  /** Build-once memo for [[dedupClusters]] — the [[dedupRank]]
    * `rankCache` discipline applied to the labels: the iteration ends
    * in a materializing localCheckpoint, so the cached value is a tiny
    * vertex-cardinality frame with flat lineage, and the
    * canonical/keep/split_clean chain (which consumes the labels 3×)
    * pays the HashMin rounds once per (session, corpus) instead of per
    * query — the round-6 bench showed dedup_keep's cold path paying
    * the chain ~3× its warm time.
    */
  private val clusterCache = graft.SessionCaches.memo[(String, Int), DataFrame]()

  /** Conditional broadcast for near-dup control tables — the
    * [[graft.sources.LakeDml]] `maxRewriteFiles` honesty discipline
    * applied to join strategy: these frames scale with the NEAR-DUP
    * POPULATION (∝ duplication rate × corpus), not with a constant, so
    * at a 100 TB corpus with a typical 10–30% dup rate an unconditional
    * `broadcast()` hint would ship tens of GBs to every executor (or
    * OOM the driver). Rows ≤ `maxRows` (~tens of MB of (long, long)
    * pairs) → broadcast hint; above → NO hint, and the same plan runs
    * the join as a shuffle join (AQE still free to pick better). The
    * count is a cheap job: every frame passed here is memoized +
    * checkpoint-flattened. Spec proves both paths agree.
    */
  private[graft] def broadcastIfSmall(df: DataFrame,
                                      maxRows: Long = 1000000L): DataFrame =
    if (df.count() <= maxRows) broadcast(df) else df

  private def dedupClustersBuild(spark: SparkSession, dir: String, maxIters: Int): DataFrame = {
    val edges = Dedup.ngramJaccard(spark, dir)
      .select(col("da"), col("db")).cache()
    // Materialize the edge set at FULL session parallelism (this is
    // the heavy, corpus-scale part). The iteration frames hold one row
    // per near-dup-graph vertex (KBs at test scale, «corpus at any
    // scale); their per-round shuffles coalesce to a handful of tasks
    // under AQE (`coalescePartitions`, on in every graft session), so
    // the loop never schedules full-width task waves over KB frames —
    // and no session-global conf is mutated (a conf flip here would
    // leak to concurrent queries on the same session, e.g. a running
    // [[graft.streaming.DedupFollow]] micro-batch).
    edges.count()
    // symmetric closure PLUS self-loops: with (v, v) present, one
    // join + groupBy-min over this relation computes min over
    // N(v) ∪ {v} directly — no second join against the old labels per
    // round (2 shuffles/iteration instead of 3)
    val sym = edges
      .union(edges.select(col("db").as("da"), col("da").as("db")))
      .union(edges.select(explode(array(col("da"), col("db"))).as("da"))
        .distinct().withColumn("db", col("da")))
      .cache()
    def propagate(ls: DataFrame): DataFrame =
      sym.join(ls.select(col("doc_id").as("db"), col("label").as("nl")), "db")
        .groupBy(col("da").as("doc_id"))
        .agg(min(col("nl")).as("label"))
    // seed = identity labels; the first propagate IS the neighborhood
    // minimum. Convergence via one scalar: labels only ever decrease,
    // so the label sum strictly decreases each non-converged round —
    // comparing sums replaces a per-row old-vs-new join entirely.
    // Near-dup clusters are shallow (J >= 0.8 is nearly transitive),
    // so HashMin converges in a round or two; a pointer-jumping
    // compression step was measured to cost more in extra tiny-data
    // shuffles than it saves in rounds here.
    // decimal(38) sum: exact for any 64-bit id population (a long sum
    // could wrap at 100 TB id ranges and fake a fixpoint). The sum is
    // observed ON the materializing localCheckpoint action itself, so
    // each round is exactly ONE driver job — no separate label-sum
    // aggregation query per iteration.
    def checkpointWithSum(ls: DataFrame, tag: String): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation(tag)
      val out = ls
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("ls"))
        .localCheckpoint()
      (out, obs.get("ls").asInstanceOf[java.math.BigDecimal])
    }
    // seed: with self-loops in the relation, min(db) per da IS the
    // neighborhood minimum over identity labels — the first propagation
    // round as one aggregation, no join
    var (labels, prevSum) = checkpointWithSum(
      sym.groupBy(col("da").as("doc_id")).agg(min(col("db")).as("label")), "seed")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val (next, s) = checkpointWithSum(propagate(labels), s"round$iter")
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    labels.select(col("doc_id"), col("label").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Centrality over the shared near-dup edge set — PageRank with
    * damping 0.85 in INTEGER MICRO-UNITS: seeded at 1,000,000 per
    * vertex, then K fixed rounds of
    * `rank'(v) = 150000 + (85 × Σ_{u∈N(v)} (rank(u) div deg(u))) div 100`
    * with integer division at every step, so the whole trajectory is a
    * pure function of the edge set — bit-identical across engines,
    * which makes a chained-CTE DuckDB oracle hash-match (the floating
    * PageRank everyone ships can only ever be approximately compared).
    *
    * Why a curation pass wants it: within a near-dup family the
    * highest-centrality member is the canonical copy (the one most
    * other near-copies orbit) — a sharper keeper choice than min-id —
    * and rank mass concentrating on one node flags template/
    * boilerplate families whose pairwise report understates them.
    *
    * Scale: distributed PageRank in its join+agg (Pregel) shape — per
    * round one hash join at EDGE cardinality and one aggregate at
    * VERTEX cardinality; the near-dup graph is sparse (edges ∝
    * duplication rate, never corpus²  — candidate generation is the
    * df-capped inverted index upstream), K is fixed, lineage is
    * truncated per round, and the KB-sized iteration frames coalesce
    * under AQE exactly as in [[dedupClusters]].
    */
  def dedupRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    rankCache(spark, (dir, iters))(dedupRankBuild(spark, dir, iters))

  /** Build-once memo for [[dedupRank]]: the K-round iteration ends in a
    * materializing localCheckpoint, so the cached value is a tiny
    * vertex-cardinality frame with flat lineage — consumers
    * ([[dedupCanonical]], the contract query, specs) read it for free.
    * Same immutable-corpus-per-session contract and [[graft
    * .SessionCaches]] lifecycle as the shared edge set it derives from.
    */
  private val rankCache = graft.SessionCaches.memo[(String, Int), DataFrame]()

  private def dedupRankBuild(spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val edges = Dedup.ngramJaccard(spark, dir).select(col("da"), col("db"))
    // Two structural reductions vs the textbook loop: (1) the edge
    // relation and per-source degree are loop-INVARIANT — pre-joined
    // ONCE, so each round is one join against the rank frame plus one
    // aggregate, not a three-way re-join; (2) in an undirected graph
    // every vertex has deg ≥ 1, so the contribution aggregate already
    // covers EVERY vertex — no per-round left join back onto the
    // vertex list, and no null branch in the update. Join strategy is
    // left to AQE: at test scale the KB rank frame broadcasts; at
    // 100 TB (vertex set ∝ duplicated docs — GBs) it becomes a shuffle
    // hash join on the same plan.
    val sym = edges
      .union(edges.select(col("db").as("da"), col("da").as("db")))
      .select(col("da").as("src"), col("db").as("dst"))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg")).cache()
    val symDeg = sym.join(deg, "src")
      .select(col("src"), col("dst"), col("deg")).cache()
    symDeg.count()
    // Per-round localCheckpoint, same discipline as [[dedupClusters]]:
    // the fully lazy depth-K plan measured ~50% slower (AQE
    // re-optimizes the remaining plan at every stage boundary — deep
    // chains pay quadratic planning for KB data), and checkpointing
    // every second round measured the same as every round, so the
    // simplest lineage-flat form wins.
    var rank = deg.select(col("src").as("id"), lit(1000000L).as("r")).localCheckpoint()
    for (_ <- 1 to iters) {
      rank = symDeg
        .join(rank.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"), expr("150000 + (85 * s) div 100").as("r"))
        .localCheckpoint()
    }
    // one materializing checkpoint for the whole recursion, so the
    // cached edge relation can be released before returning
    val out = rank.join(deg, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("deg").as("degree"), col("r").as("rank_micro"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    symDeg.unpersist()
    deg.unpersist()
    out
  }

  /** CANONICAL SELECTION — the decision [[dedupRank]] exists to make:
    * per near-dup cluster, the keeper is the member the rest of the
    * family orbits — the HIGHEST-CENTRALITY member (ties broken by
    * minimum doc_id), a sharper choice than [[dedupClusters]]' min-id
    * label when a family's true original attracted the most
    * near-copies. Output per cluster: the canonical doc, its rank, and
    * the family size — the table a curation pipeline joins against to
    * drop the n_members−1 redundant copies.
    *
    * Scale shape: both inputs are vertex-cardinality control frames
    * (∝ duplicated docs, not corpus), already memoized; the argmax is
    * two mergeable aggregates (per-cluster max + tie-broken min), no
    * window, and the per-cluster top table broadcasts back onto the
    * labeled frame. The corpus itself is never touched.
    *
    * Oracle: the DuckDB side composes the recursive-CTE transitive
    * closure (cluster labels) with the unrolled integer-micro-unit
    * PageRank chain — both already hash-proven individually — so the
    * hash-match certifies the full cluster→centrality→keeper
    * composition, not just the pieces.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    canonCache(spark, dir)(dedupCanonicalBuild(spark, dir).localCheckpoint())

  /** Build-once memo: the keeper table is consumed by the contract
    * query AND by [[dedupKeep]] (where [[broadcastIfSmall]]'s count
    * would otherwise execute the whole aggregation chain a second
    * time); the checkpoint flattens it to a cluster-cardinality frame.
    */
  private val canonCache = graft.SessionCaches.memo[String, DataFrame]()

  private def dedupCanonicalBuild(spark: SparkSession, dir: String): DataFrame = {
    val lab = dedupClusters(spark, dir)
      .join(dedupRank(spark, dir).select(col("doc_id"), col("rank_micro")),
        Seq("doc_id"))
    val top = lab.groupBy(col("cluster"))
      .agg(max(col("rank_micro")).as("rank_micro"),
           count(lit(1)).as("n_members"))
    lab.select(col("cluster"), col("doc_id"), col("rank_micro"))
      .join(broadcastIfSmall(top), Seq("cluster", "rank_micro"))
      .groupBy(col("cluster"), col("rank_micro"), col("n_members"))
      .agg(min(col("doc_id")).as("canonical_id"))
      .select(col("cluster"), col("canonical_id"),
        col("rank_micro"), col("n_members"))
      .orderBy(col("cluster"))
  }

  /** The corpus-wide materialization of [[dedupCanonical]]'s decision —
    * the pass a pipeline actually feeds downstream: every document
    * tagged `unique` (no near-dup edge), `canonical` (its cluster's
    * keeper), or `drop` (a redundant near-copy). Filtering to
    * status != 'drop' yields the deduplicated corpus with the
    * centrality-chosen representative of every family retained.
    *
    * Scale shape: ONE map-only pass over the corpus — both control
    * tables (cluster labels and keepers, ∝ duplicated docs) join onto
    * it via [[broadcastIfSmall]] (broadcast while they fit, shuffle
    * join above the guard — the corpus side still never does MORE than
    * one shuffle); the same discipline as [[corpusSplitClean]].
    */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame =
    dedupKeepImpl(spark, dir, 1000000L)

  private[graft] def dedupKeepImpl(spark: SparkSession, dir: String,
                                   maxBroadcastRows: Long): DataFrame = {
    val labels = dedupClusters(spark, dir).select(col("doc_id"), col("cluster"))
    val canon = dedupCanonical(spark, dir).select(col("cluster"), col("canonical_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcastIfSmall(labels, maxBroadcastRows), Seq("doc_id"), "left")
      .join(broadcastIfSmall(canon, maxBroadcastRows), Seq("cluster"), "left")
      .withColumn("status",
        when(col("cluster").isNull, "unique")
          .when(col("doc_id") === col("canonical_id"), "canonical")
          .otherwise("drop"))
      .select(col("doc_id"), col("source"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split: the assignment is a pure
    * function of the document id (first md5 hex byte against fixed
    * thresholds — 240/8/8 of 256 by default), so it is reproducible
    * across runs, engines, and repartitions, and any new document
    * lands in a split without touching existing assignments. A pure
    * shuffle-free projection: at 100 TB this is a map-only pass.
    */
  /** The split rule as a pure expression of an id column — exposed so
    * consumers can evaluate "the split of doc X" WITHOUT joining the
    * corpus (e.g. [[corpusSplitClean]] derives the keeper's split
    * directly from the cluster label).
    */
  private def splitExpr(id: Column, valFrom: String, testFrom: String): Column = {
    val h2 = substring(md5(id.cast("string")), 1, 2)
    when(h2 < valFrom, "train").when(h2 < testFrom, "val").otherwise("test")
  }

  def corpusSplit(spark: SparkSession, dir: String,
                  valFrom: String = "f0", testFrom: String = "f8"): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitExpr(col("doc_id"), valFrom, testFrom))
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  /** SPLIT-LEAKAGE REPAIR — the fix [[splitLeakage]] audits for:
    * every near-dup CLUSTER must live in ONE split, so each document
    * connected to a cluster takes the split of the cluster's KEEPER
    * (minimum doc_id — [[dedupClusters]]'s label), a deterministic
    * rule that heals every straddling edge in one pass. Documents with
    * no near-dup edge keep their hash split untouched, so the repair
    * perturbs the split sizes by at most the near-dup population.
    *
    * Output: (doc_id, source, split_orig, split) — the corrected
    * assignment a pipeline feeds to [[TrainPrep.pipeline]]-style
    * stages instead of raw [[corpusSplit]].
    *
    * Scale shape: cluster labels come from the (tiny) edge-set
    * iteration and join onto the map-only split projection via
    * [[broadcastIfSmall]] (the label table is ∝ the near-dup
    * population — guarded, not assumed broadcastable); the keeper's
    * split needs NO second join at all, because the split is a pure
    * function of the id — `splitExpr(cluster)` IS the keeper's split
    * (the round-6 form broadcast the whole corpus-sized split
    * projection keyed by keeper id to compute the same value). The
    * corpus never shuffles. Oracle: DuckDB replays the clusters with
    * a real `WITH RECURSIVE` transitive closure (exact on the small
    * edge set), so the hash-match certifies engine == SQL-semantics
    * cluster-coherent splitting.
    */
  def corpusSplitClean(spark: SparkSession, dir: String): DataFrame =
    corpusSplitCleanImpl(spark, dir, 1000000L)

  private[graft] def corpusSplitCleanImpl(spark: SparkSession, dir: String,
                                          maxBroadcastRows: Long): DataFrame = {
    val labels = dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster"))
    corpusSplit(spark, dir)
      .join(broadcastIfSmall(labels, maxBroadcastRows), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("split").as("split_orig"),
        when(col("cluster").isNull, col("split"))
          .otherwise(splitExpr(col("cluster"), "f0", "f8")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** SPLIT-AWARE DECONTAMINATION audit — near-duplicate edges that
    * STRADDLE train/val/test splits are eval leakage (the reason
    * pipelines dedup before splitting): a val/test document with a
    * J ≥ 0.8 twin in train inflates eval scores without any bug in
    * either stage alone. Composes the [[Dedup.ngramJaccard]] edge set
    * with [[corpusSplit]]'s assignment: per unordered split pair, the
    * leaking-edge count and the canonical "da:db" edge list. Both
    * inputs are deterministic (md5 split, exact Jaccard) so the audit
    * is fully oracle-checkable.
    *
    * Scale shape: the edge set is the dedup stage's shared persisted
    * intermediate (tiny — near-dup pairs, not the corpus); the split
    * assignment is a map-only projection; the audit itself is two
    * broadcast-friendly joins + one 3-row aggregate. The full edge
    * list per split pair is the audit artifact at test scale; a
    * 100 TB run keeps the pre-aggregation edge-level rows as the
    * output table instead (drop the groupBy — same plan minus the
    * final aggregate) rather than folding millions of ids into one
    * string cell.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val splits = corpusSplit(spark, dir).select(col("doc_id"), col("split"))
    Dedup.ngramJaccard(spark, dir)
      .select(col("da"), col("db"))
      .join(splits.select(col("doc_id").as("da"), col("split").as("sa")), "da")
      .join(splits.select(col("doc_id").as("db"), col("split").as("sb")), "db")
      .filter(col("sa") =!= col("sb"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
               greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_edges"),
           array_join(
             transform(sort_array(collect_list(struct(col("da"), col("db")))),
               x => concat(x.getField("da"), lit(":"), x.getField("db"))),
             ",").as("edges"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Token-budget-aware domain mixing — THE training-data operation:
    * given a token budget and per-source target shares (uniform by
    * default), keep each source's documents at rate
    * `share x budget / source_tokens` via a deterministic md5-hash
    * Bernoulli, so over-represented domains are downsampled toward the
    * target mixture and the sample is reproducible (and engine-
    * portable — the oracle replays bit-identical IEEE arithmetic).
    *
    * Scale shape: one aggregate for per-source token mass (|sources|
    * rows — control-plane sized), broadcast back onto the corpus, then
    * a map-only keep decision. The corpus itself never shuffles.
    * The hash threshold compares the first 8 md5 hex digits against
    * `floor(rate * 2^32)` rendered as zero-padded hex — pure string
    * comparison, no float landing in the output.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    // `docs` feeds the per-source aggregate AND the keep filter — one
    // localCheckpoint of the narrow (doc, source, n_toks) projection
    // makes "one corpus pass" literal (uncut, each reference re-ran
    // the tokenize scan); recomputed per invocation
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_toks"))
      .localCheckpoint()
    val perSource = docs.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("src_toks"))
    val global = perSource.agg(
      expr("sum(src_toks) div 2").as("budget"),
      count(lit(1)).as("ns"))
    // threshold = floor(((budget * (1/ns)) / src_toks) * 2^32), every
    // step double-precision in this exact order on both engines
    val th = floor(
      ((col("budget").cast("double") * (lit(1.0) / col("ns").cast("double"))) /
        col("src_toks").cast("double")) * lit(4294967296.0)).cast("long")
    docs
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(global))
      .withColumn("th", th)
      .filter(col("th") >= 4294967296L ||
        upper(substring(md5(col("doc_id").cast("string")), 1, 8)) <
          lpad(hex(col("th")), 8, "0"))
      .select(col("doc_id"), col("source"), col("n_toks"))
      .orderBy(col("doc_id"))
  }

  /** HARD token-budget prefix per source — [[corpusMix]]'s exact
    * counterpart: where mix keeps at a RATE (the expected share),
    * this takes each source's md5-ordered document prefix until the
    * budget is spent — "exactly B tokens of each domain,
    * reproducibly", the cut a curriculum/mixture spec hands the
    * loader. Document-granular: the doc that would cross the budget
    * is dropped whole.
    *
    * Scale shape: the naive plan is a per-source running token sum —
    * a window ordered by hash with ONE task per source holding that
    * source's entire corpus slice (the skewed-key scale-killer
    * class). Decomposed instead over the md5 prefix byte:
    * (source × 256) bucket totals via one map-side-combined
    * aggregate, a running total over BUCKETS (a window on a ≤256-row
    * frame per source — control-plane sized), then the per-row
    * running sum runs only INSIDE (source, bucket) partitions of
    * buckets the budget can still reach — deeper buckets are dropped
    * BEFORE any sort, so the data that ever enters a window is
    * ∝ budget, not corpus size. The 2-hex-char bucket is a prefix of
    * the full hash, so (bucket, hash) lexicographic order IS the
    * global hash order and the decomposed cumulative sum is exact.
    */
  def mixBudget(spark: SparkSession, dir: String, budget: Long = 700): DataFrame = {
    // same one-pass cut as [[corpusMix]]: `docs` feeds the bucket
    // totals AND the budget-reachable join
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_toks"),
        md5(col("doc_id").cast("string")).as("ord"))
      .withColumn("bkt", substring(col("ord"), 1, 2))
      .localCheckpoint()
    val bktTotals = docs.groupBy(col("source"), col("bkt"))
      .agg(sum(col("n_toks")).as("bkt_toks"))
    val wBkt = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val reachable = bktTotals
      .withColumn("prior", coalesce(sum(col("bkt_toks")).over(wBkt), lit(0L)))
      .filter(col("prior") < budget)
      .select(col("source"), col("bkt"), col("prior"))
    val wDoc = Window.partitionBy(col("source"), col("bkt")).orderBy(col("ord"))
    docs.join(broadcast(reachable), Seq("source", "bkt"))
      .withColumn("cum_toks", sum(col("n_toks")).over(wDoc) + col("prior"))
      .filter(col("cum_toks") <= budget)
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"))
      .orderBy(col("source"), col("cum_toks"))
  }

  /** EPOCH-AWARE UPSAMPLING — [[corpusMix]]'s counterpart for the
    * keep-rate > 1 regime: when a small high-quality source must be
    * REPEATED to reach its token share (the pile-style "Wikipedia ×
    * epochs" mix), each document is emitted `copies` times with an
    * epoch index, where `copies = ⌊rate⌋ + Bernoulli(rate − ⌊rate⌋)`
    * and `rate = targetFactor × max-source-tokens / src_tokens ≥ 1`.
    * The Bernoulli draw is the same deterministic md5/2³² threshold as
    * [[corpusMix]] (bit-identical IEEE arithmetic both engines), so
    * the exact duplication decisions are a pure function of doc_id —
    * reproducible across runs, engines and partitionings, and
    * hash-exact against the oracle.
    *
    * Scale shape: one control-plane per-source aggregate broadcast
    * back onto the corpus, then a map-only `explode(sequence(...))` —
    * output ∝ epochs, the corpus itself never shuffles.
    */
  def corpusUpsample(spark: SparkSession, dir: String, targetFactor: Int = 2): DataFrame = {
    // same one-pass cut as [[corpusMix]]
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_toks"))
      .localCheckpoint()
    val perSource = docs.groupBy(col("source")).agg(sum(col("n_toks")).as("src_toks"))
    val global = perSource.agg(
      (max(col("src_toks")) * targetFactor).as("target"))
    // rate, ⌊rate⌋ and the 2³²-scaled fraction threshold: every step
    // double-precision in this exact order on both engines. A source
    // whose docs all tokenize empty would make the raw ratio Infinity
    // (⌊rate⌋ → Long.MaxValue → an unplantable sequence) — emit such a
    // degenerate source once per doc instead.
    val rate = when(col("src_toks") === 0L, lit(1.0))
      .otherwise(col("target").cast("double") / col("src_toks").cast("double"))
    val th = floor((rate - floor(rate)) * lit(4294967296.0)).cast("long")
    docs
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(global))
      .withColumn("copies",
        floor(rate).cast("long") +
          when(upper(substring(md5(col("doc_id").cast("string")), 1, 8)) <
            lpad(hex(th), 8, "0"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("copies") - 1)).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** TEMPERATURE-scaled source mixing — the multilingual-LM allocation
    * rule (α-scaled sampling, as in mBERT/XLM-R data mixing): a global
    * token budget (half the corpus) is split across sources
    * proportional to `src_toks^α` with α = 1/2, flattening the source
    * distribution so small domains keep a larger FRACTION of
    * themselves than big ones, then each source is down-sampled to its
    * allocation with the same deterministic md5/2³² Bernoulli
    * threshold as [[corpusMix]]. A source whose allocation exceeds its
    * size is kept whole (rate clamps at 1; this operator never
    * up-samples — compose with [[corpusUpsample]] for epochs > 1).
    *
    * Determinism discipline: `sqrt` is IEEE-correctly-rounded on both
    * engines, but a cross-source SUM of double sqrt values would
    * depend on summation order — so the sqrt is quantized to integer
    * 1/65536 units first and the cross-source sum is a BIGINT
    * (order-independent), after which every double step happens in the
    * same written order on both engines and the decision is a pure
    * function of doc_id.
    *
    * Scale shape: identical to [[corpusMix]] — two control-plane
    * aggregates broadcast back onto the corpus, then a map-only
    * filter; the corpus itself never shuffles.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    // same one-pass cut as [[corpusMix]]
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_toks"))
      .localCheckpoint()
    val perSource = docs.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("src_toks"))
      // α = 1/2 share weight, quantized so the cross-source sum is exact
      .withColumn("w_q",
        floor(sqrt(col("src_toks").cast("double")) * lit(65536.0)).cast("long"))
    val global = perSource.agg(
      expr("sum(src_toks) div 2").as("budget"),
      sum(col("w_q")).as("sum_w"))
    // rate = (budget * (w_q / sum_w)) / src_toks, every step
    // double-precision in this exact order on both engines
    val th = floor(
      ((col("budget").cast("double") *
        (col("w_q").cast("double") / col("sum_w").cast("double"))) /
        col("src_toks").cast("double")) * lit(4294967296.0)).cast("long")
    docs
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(global))
      .withColumn("th", th)
      .filter(col("th") >= 4294967296L ||
        upper(substring(md5(col("doc_id").cast("string")), 1, 8)) <
          lpad(hex(col("th")), 8, "0"))
      .select(col("doc_id"), col("source"), col("n_toks"))
      .orderBy(col("doc_id"))
  }

  /** DETECTED-LANGUAGE temperature mixing — [[mixTemperature]] keyed
    * by [[TextAnalysis.predLangExpr]]'s per-document language instead
    * of the source column: the multilingual pipeline's real allocation
    * step (α-sample per LANGUAGE so low-resource languages keep a
    * larger fraction — mBERT/XLM-R's exact recipe), composed from two
    * already-oracle-proven pieces and hash-checked END-TO-END (the
    * DuckDB oracle replays the langid CASE and the quantized-sqrt mix
    * arithmetic in one statement).
    *
    * Scale shape: identical to [[mixTemperature]] — the language
    * predicate rides the same map-only projection that counts tokens
    * (one corpus pass), two control-plane aggregates broadcast back,
    * keep decision a pure function of doc_id; the corpus never
    * shuffles.
    */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    // same one-pass cut as [[corpusMix]] — langid is the priciest
    // projection in the family, so the cut saves the most here
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), toks(col("text")).as("tk"))
      .select(col("doc_id"),
        TextAnalysis.predLangExpr(col("text"), col("tk")).as("pred_lang"),
        size(col("tk")).as("n_toks"))
      .localCheckpoint()
    val perLang = docs.groupBy(col("pred_lang"))
      .agg(sum(col("n_toks")).as("src_toks"))
      .withColumn("w_q",
        floor(sqrt(col("src_toks").cast("double")) * lit(65536.0)).cast("long"))
    val global = perLang.agg(
      expr("sum(src_toks) div 2").as("budget"),
      sum(col("w_q")).as("sum_w"))
    val th = floor(
      ((col("budget").cast("double") *
        (col("w_q").cast("double") / col("sum_w").cast("double"))) /
        col("src_toks").cast("double")) * lit(4294967296.0)).cast("long")
    docs
      .join(broadcast(perLang), "pred_lang")
      .crossJoin(broadcast(global))
      .withColumn("th", th)
      .filter(col("th") >= 4294967296L ||
        upper(substring(md5(col("doc_id").cast("string")), 1, 8)) <
          lpad(hex(col("th")), 8, "0"))
      .select(col("doc_id"), col("pred_lang"), col("n_toks"))
      .orderBy(col("doc_id"))
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES
    * with exponential keys): each document gets key `-ln(u)/w` from a
    * DETERMINISTIC md5-derived uniform `u` and weight `w` = token
    * count; the k smallest keys are a weighted sample — longer
    * documents proportionally more likely, yet the draw is a pure
    * function of doc_id (reproducible across runs, engines and
    * partitionings, like every sampler in this engine). The
    * importance-sampling primitive for "sample 1M docs ∝ length".
    *
    * Scale shape: key assignment is map-only; the global bottom-k is
    * Spark's TakeOrdered (per-partition top-k then a k-sized merge) —
    * no shuffle of the corpus.
    */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(toks(col("text"))).as("n_toks"))
      .withColumn("u",
        (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS DOUBLE)")
          + 0.5) / 4294967296.0)
      .withColumn("key", -log(col("u")) / greatest(col("n_toks"), lit(1)).cast("double"))
      .orderBy(col("key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("n_toks"), round(col("key"), 8).as("key"))

  /** Per-source corpus profile — the shard report a data pipeline
    * prints before mixing: document count, token totals, and the
    * token-length distribution (min/mean/median/p90/max). One exploded
    * token count per doc (map-only) then one aggregate keyed on
    * `source`; exact percentiles group ≤ shard-count rows, each group
    * holding one int per doc — at 100 TB swap `percentile` for
    * `percentile_approx` without changing the query shape.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(TextAnalysis.toks(col("text"))).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("toks")).as("total_toks"),
           min(col("toks")).as("min_toks"),
           round(avg(col("toks")), 4).as("mean_toks"),
           round(expr("percentile(toks, 0.5)"), 4).as("median_toks"),
           round(expr("percentile(toks, 0.9)"), 4).as("p90_toks"),
           max(col("toks")).as("max_toks"))
      .orderBy(col("source"))
}
