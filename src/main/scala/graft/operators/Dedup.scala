package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SessionCaches.cacheOnce
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Deduplication suite over `documents` — the operators a 100 TB
  * training-data pipeline needs. Design notes per operator:
  *
  *  - exact: hash-groupBy on a canonical fingerprint. One shuffle keyed
  *    by the 128-bit hash; map-side partial counts.
  *  - n-gram Jaccard: inverted-index candidate join (explode shingles →
  *    equi-join on shingle) — shuffles O(docs × shingles), never the
  *    O(docs²) cross product. This is the exact-correctness baseline.
  *    Each index row carries its document's shingle count and rare
  *    shingle count, so the candidate-pair aggregate already holds
  *    both sides' stats and the upper-bound prefilter needs no join;
  *    only the two array-verify joins remain past the aggregate.
  *  - MinHash+LSH: fixed-size signatures (64 perms → 16 bands × 4 rows)
  *    computed as pure array expressions (no explode, no signature
  *    shuffle); the only shuffles are the band-bucket candidate join
  *    and the verification joins on doc_id. Per-doc state is constant
  *    regardless of document length — the 100 TB path.
  *  - SimHash: one packed 64-bit signature, banded buckets,
  *    `bit_count(a ^ b)` hamming verification.
  *  - embedding cosine: banded hyperplane-LSH candidates + exact
  *    cosine verify through the codegen'd
  *    [[graft.functions.DotProduct]]; the all-pairs exact join
  *    survives only as the spec's small-sf recall oracle.
  */
object Dedup {

  import TextAnalysis.toks

  /** distinct 3-token shingles from a MATERIALIZED token column.
    *
    * The token array must be projected in its own stage first: Catalyst
    * does not common-subexpression-eliminate across lambda bodies, so
    * inlining `toks(text)` here would re-split the text for every
    * element_at — O(len²) per document.
    */
  private def shingleArr(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(0), size(t) - 3),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, shingles array) per (doc_id, text) row. */
  private[graft] def docShinglesOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), shingleArr(col("t")).as("sh"))

  /** (doc_id, shingles array) per document. */
  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOf(Tables.documents(spark, dir))

  /** Exact dedup on the canonical fingerprint: clusters with >1 doc. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintExpr(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") > 1)
      .orderBy(col("h"))

  /** Jaccard for candidate pairs given per-doc shingle arrays: exact
    * |A∩B| / |A∪B| via a size-2 join of the candidate list against the
    * (doc_id → shingles) table. Candidates × array_intersect is linear
    * in candidate count — never quadratic in docs.
    */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame): DataFrame = {
    val withSets = cand
      .join(docs.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(docs.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
    val inter = size(array_intersect(col("sha"), col("shb")))
    val union = size(col("sha")) + size(col("shb")) - inter
    withSets
      .withColumn("j", round(inter.cast("double") / union, 4))
      .withColumn("j_exact", inter.cast("double") / union)
  }

  /** Exact 3-gram Jaccard near-dup pairs (J ≥ 0.8) via inverted-index
    * candidate join + array-intersect verification.
    *
    * Hot-shingle cap: a shingle present in more than `dfCap` documents
    * is a stop-phrase — its inverted-index bucket alone would create
    * df² candidate pairs (quadratic skew: one shingle in 1M docs is a
    * 10¹²-pair bucket). Such shingles are dropped from CANDIDATE
    * GENERATION only; verification computes J over the full shingle
    * sets, so the cap cannot change a reported score — it can only
    * miss a pair whose every shared shingle is a stop-phrase, which at
    * J ≥ 0.8 would require ~all of both documents to be stop-phrases.
    */
  def ngramJaccard(spark: SparkSession, dir: String, dfCap: Int = 100): DataFrame =
    edgeCache(spark, (dir, dfCap)) {
      ngramJaccardOn(Tables.documents(spark, dir), dfCap).persist()
    }

  /** The near-dup edge set is the SHARED INTERMEDIATE of the whole
    * dedup stage family — the pairwise report consumes it directly,
    * [[graft.operators.Curation.dedupClusters]] runs connected
    * components over it, and the split-leakage audit joins it against
    * split assignments. Computing it is the expensive part (shingle +
    * inverted-index passes over the corpus); every consumer after the
    * first reads the tiny persisted pair list. At 100 TB this is a
    * materialized table written once per corpus snapshot, exactly like
    * the OTLP parse shared across the log queries.
    *
    * CONTRACT: the corpus under `dir` is immutable for the session
    * (true of every contract table) — the same assumption as the
    * session-shared OTLP parse. A pipeline whose corpus grows streams
    * through [[graft.streaming.DedupFollow]] instead, which never
    * reads this cache (it builds per-increment indexes directly);
    * a rewritten corpus takes a new dir or session.
    */
  private val edgeCache =
    graft.SessionCaches.memo[(String, Int), DataFrame](_.unpersist(false))

  /** df-capped inverted index (doc_id, s, n, n_rare): shingles in
    * more than `dfCap` documents are stop-phrases and dropped, so no
    * index bucket exceeds dfCap² candidate pairs. `n` is the
    * document's distinct shingle count and `n_rare` its count of kept
    * shingles: the per-doc stats the J upper bound needs, carried on
    * every posting so the pair aggregate groups them in with the ids
    * (they are functionally dependent on `doc_id`).
    *
    * The trade at scale: the `doc_id` window costs one more exchange of
    * index rows, and in return the candidate pairs skip the two stats
    * joins (two pair-scale exchanges) and the per-doc rare-count
    * aggregate. `df` is a window over `s`, which replaces the df
    * aggregate and its semi-join; unlike that aggregate it has no
    * map-side combine, so a stop-phrase's postings meet in one
    * (spillable) window buffer before the cap drops them. Measured on
    * a 750-document shard: 13 jobs instead of 22, and more shuffle
    * bytes, since every posting now carries two longs more.
    */
  private def cappedIndex(docs: DataFrame, dfCap: Int): DataFrame =
    docs.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= dfCap)
      .withColumn("n_rare", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("s"), col("n"), col("n_rare"))
      // hash(s)-partitioned ON PURPOSE (r19): every consumer joins this
      // index on `s` — the self-join (ngramJaccardOn), the bipartite
      // batch×corpus join (incremental), the per-increment stream join —
      // and the callers cache it, so partitioning established here is
      // established ONCE; without it each cached consumer re-exchanged
      // the full index per join side (the r18 incremental plan carried 8
      // hash(s) exchanges)
      .repartition(col("s"))

  /** Group key of an index join `a ⋈ b` on `s`: the pair's ids and both
    * sides' stats, with side `a` as `da` where `aFirst` holds (the
    * stats swap together with the ids).
    */
  private def pairKey(aFirst: Column = lit(true)): Seq[Column] = {
    def lo(c: String) = when(aFirst, col(s"a.$c")).otherwise(col(s"b.$c"))
    def hi(c: String) = when(aFirst, col(s"b.$c")).otherwise(col(s"a.$c"))
    Seq(lo("doc_id").as("da"), hi("doc_id").as("db"), lo("n").as("na"),
      lo("n_rare").as("na_rare"), hi("n").as("nb"), hi("n_rare").as("nb_rare"))
  }

  /** Stage 1 of every n-gram variant: per candidate pair, the EXACT
    * intersection count among rare shingles straight from the
    * index-join aggregate, with both sides' stats in the group key —
    * one shuffle of (pair, stats, count) rows, no shingle arrays on
    * the wire.
    */
  private def rareCounts(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("da"), col("db"), col("na"), col("na_rare"), col("nb"), col("nb_rare"))
      .agg(count(lit(1)).as("inter_rare"))

  /** Stages 2+3 shared by the self-join and bipartite variants, given
    * the stage-1 rare-intersection counts [[rareCounts]].
    *
    * Stage 2 (prefilter): hot shingles were excluded from the index,
    * so the true intersection is inter_rare + inter_hot with
    * inter_hot <= min(hot_a, hot_b) (hot_x = shingles of x above the
    * cap). J computed with that bound is an UPPER bound on the true
    * Jaccard — pairs below the threshold at the bound cannot qualify
    * and are dropped without ever touching their arrays.
    *
    * Stage 3 (exact, array-based): full-set Jaccard for survivors only
    * — hot shingles count again here, so the cap can never change a
    * reported score, only skip pairs provably below the threshold.
    */
  private def boundAndVerify(docs: DataFrame, interRare: DataFrame,
                             threshold: Double): DataFrame = {
    val hA = col("na") - col("na_rare")
    val hB = col("nb") - col("nb_rare")
    val interMax = col("inter_rare") + least(hA, hB)
    val jMax = interMax.cast("double") / (col("na") + col("nb") - interMax)
    val promising = interRare
      .filter(jMax >= threshold)
      .select(col("da"), col("db"))
    verifyJaccard(promising, docs)
      .filter(col("j_exact") >= threshold)
      .select(col("da"), col("db"), col("j"))
  }

  private[graft] def ngramJaccardOn(documents: DataFrame, dfCap: Int): DataFrame = {
    // cached: the verify joins reuse the shingle arrays instead of
    // recomputing the parse (the cache is also the barrier that keeps
    // filter pushdown from inlining the O(len²) shingle expression);
    // the capped index feeds both self-join sides, and without the
    // cache its two windows over every exploded shingle would run twice
    val docs = cacheOnce(docShinglesOf(documents))
    val idx = cacheOnce(cappedIndex(docs, dfCap))
    val interRare = rareCounts(idx.as("a")
      .join(idx.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(pairKey(): _*))
    boundAndVerify(docs, interRare, 0.8)
      .orderBy(col("da"), col("db"))
  }

  /** Incremental dedup: exact 3-gram Jaccard (J ≥ 0.8) of an INCOMING
    * BATCH against the existing corpus — the steady-state dedup a
    * 100 TB pipeline actually runs (dedup the day's crawl against the
    * lake, not the lake against itself). The batch here is the
    * deterministic `doc_id % 5 == 4` slice so the oracle can replay it.
    *
    * Same three stages as [[ngramJaccard]] but BIPARTITE: the
    * inverted-index join is batch-side × corpus-side, so its cost is
    * O(batch shingles × matching corpus postings) — proportional to
    * the new data, never to corpus², and re-running it tomorrow does
    * not redo today's corpus self-pairs. The df-cap/J-upper-bound
    * prefilter logic carries over unchanged (caps computed over the
    * full shingle population).
    */
  /** Near-dup pairs (J ≥ threshold) TOUCHING the new set — new×old ∪
    * new×new, never old×old — the per-increment unit of STREAMING
    * dedup ([[graft.streaming.DedupFollow]]). `documents` carries
    * (doc_id, text, is_new). Same three stages as [[ngramJaccard]];
    * candidate generation is the bipartite new-vs-old join PLUS the
    * new-side self-join, so per-increment cost is ∝ new shingles ×
    * matching postings — old×old candidates are never enumerated, the
    * property that makes the steady state affordable. Pairs are
    * canonical (da < db) so accumulated increments union into exactly
    * the batch edge set.
    */
  private[graft] def pairsTouchingOn(documents: DataFrame, dfCap: Int): DataFrame = {
    val docs = documents
      .select(col("doc_id"), toks(col("text")).as("t"), col("is_new"))
      .select(col("doc_id"), shingleArr(col("t")).as("sh"), col("is_new"))
      .cache()
    val out = pairsTouchingShingled(docs, dfCap)
    docs.unpersist()
    out
  }

  /** [[pairsTouchingOn]] over PRE-SHINGLED rows (doc_id, sh, is_new) —
    * the entry point for [[graft.streaming.DedupFollow]]'s incremental
    * shingle store: the old side arrives already tokenized+shingled
    * (persisted across polls, extended per commit), so a poll's cost is
    * the capped-index build + joins, never a corpus-scale re-tokenize.
    */
  private[graft] def pairsTouchingShingled(docs: DataFrame, dfCap: Int): DataFrame = {
    val idx = cappedIndex(docs.select(col("doc_id"), col("sh")), dfCap).cache()
    val flags = docs.select(col("doc_id"), col("is_new"))
    val newIdx = idx.join(flags.filter(col("is_new")).select("doc_id"), Seq("doc_id"))
    val oldIdx = idx.join(flags.filter(!col("is_new")).select("doc_id"), Seq("doc_id"))
    val bipartite = newIdx.as("a").join(oldIdx.as("b"), col("a.s") === col("b.s"))
      .select(pairKey(col("a.doc_id") < col("b.doc_id")): _*)
    val withinNew = newIdx.as("a")
      .join(newIdx.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(pairKey(): _*)
    val interRare = rareCounts(bipartite.unionByName(withinNew))
    // materialize the (tiny) pair set, then RELEASE the per-increment
    // index cache: a long-running DedupFollow stream calls this every
    // poll, and without the unpersist each increment would leave a
    // cached dataset behind — unbounded executor-storage growth
    val out = boundAndVerify(docs.select(col("doc_id"), col("sh")), interRare, 0.8)
      .orderBy(col("da"), col("db"))
      .localCheckpoint()
    idx.unpersist()
    out
  }

  def incremental(spark: SparkSession, dir: String, dfCap: Int = 100): DataFrame = {
    val isNew = col("doc_id") % 5 === 4
    val docs = cacheOnce(docShingles(spark, dir))
    val idx = cacheOnce(cappedIndex(docs, dfCap))
    val interRare = rareCounts(idx.filter(isNew).as("a")
      .join(idx.filter(!isNew).as("b"), col("a.s") === col("b.s"))
      .select(pairKey(): _*))
    boundAndVerify(docs, interRare, 0.8)
      .select(col("da").as("new_id"), col("db").as("old_id"), col("j"))
      .orderBy(col("new_id"), col("old_id"))
  }

  /** (da, db, inter_rare) for every pair sharing a sub-cap shingle
    * (spec observable for bucket-skew bounds). The index's windows,
    * one equi-join + aggregate — never an O(docs²) cross product.
    */
  private[graft] def ngramCandidateCounts(docs: DataFrame, dfCap: Int): DataFrame = {
    val idx = cappedIndex(docs, dfCap)
    idx.as("a")
      .join(idx.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter_rare"))
  }

  /** Distinct candidate pairs from the df-capped inverted index (used
    * by the skew spec to count bucket contributions).
    */
  private[graft] def ngramCandidates(docs: DataFrame, dfCap: Int): DataFrame =
    ngramCandidateCounts(docs, dfCap).select(col("da"), col("db"))

  private val P = graft.functions.MinHashPerms.P

  /** MinHash(64) + LSH(16 bands × 4 rows) candidate generation, then
    * exact-Jaccard verification of candidates (J ≥ 0.7).
    *
    * Signatures are computed entirely as array expressions over each
    * document's shingle-hash array — no explode, no 64-column
    * aggregate, no shuffle until the band-bucket join. No SQL oracle
    * (signatures depend on Spark's xxhash64); the spec checks that
    * every exact J ≥ 0.8 pair from [[ngramJaccard]] is recalled.
    */
  def minhash(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val allDocs = cacheOnce(docShingles(spark, dir))
    val docs = allDocs.filter(size(col("sh")) > 0)
    // per-doc shingle hash array, then all 64 permutation minima in one
    // native-loop expression evaluation (see MinHashSignature)
    val sigs = docs
      .withColumn("hs", transform(col("sh"), s => pmod(xxhash64(s), lit(P))))
      .withColumn("sig", call_function("graft_minhash", col("hs")))
      .select(col("doc_id"), col("sig"))
    val bands = (0 until 16).map { bIdx =>
      struct(lit(bIdx).as("band"),
        xxhash64((0 until 4).map(r => element_at(col("sig"), bIdx * 4 + r + 1)): _*).as("bh"))
    }
    // self-joined below: avoid recomputing signatures twice
    val buckets = cacheOnce(sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh")))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    verifyJaccard(cand, allDocs)
      .filter(col("j_exact") >= 0.7)
      .select(col("da"), col("db"), col("j"))
      .orderBy(col("da"), col("db"))
  }

  /** 64-bit SimHash near-dup pairs: banded buckets (4 × 16 bits) for
    * candidates, hamming ≤ 3 on the full signature to verify.
    *
    * The signature is ONE packed BIGINT (graft_simhash), so band
    * extraction is a shift+mask and hamming verification is
    * `bit_count(a ^ b)` — single codegen'd integer ops per pair, not an
    * interpreted 64-element lambda chain. No SQL oracle
    * (xxhash64/FNV-dependent); spec checks hamming bounds and that
    * high-Jaccard pairs collide.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      // token hashing happens inside the expression's tight loop
      .withColumn("bits", call_function("graft_simhash", col("t")))
      .select(col("doc_id"), col("bits"))
    val bandVal = (k: Int) =>
      call_function("shiftrightunsigned", col("bits"), lit(k * 16)).bitwiseAND(lit(0xffffL))
    // self-joined below
    val buckets = cacheOnce(sigs.select(col("doc_id"), col("bits"),
        explode(array((0 until 4).map(k => struct(lit(k).as("band"), bandVal(k).as("bv"))): _*)).as("bb"))
      .select(col("doc_id"), col("bits"), col("bb.band").as("band"), col("bb.bv").as("bv")))

    val hamming = bit_count(col("a.bits").bitwiseXOR(col("b.bits")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"), hamming.as("hamming"))
      // verify-first (the [[embeddingPairs]] rule): the hamming check is
      // one codegen'd integer op per occurrence, so it runs BEFORE the
      // dedup and the distinct exchange carries survivors only — the
      // same pair set either way (every occurrence computes the same
      // hamming)
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("da"), col("db"))
  }

  /** Embedding-cosine near-dup pairs (cos ≥ 0.45 — the synthetic
    * embeddings are random, so 0.45 marks the far tail of the noise
    * distribution).
    *
    * Scale path: banded hyperplane-LSH candidate generation (pairs
    * sharing ANY band's bucket) + exact cosine verification of
    * candidates only — an equi-join on (band, bucket), never an
    * O(N²) nested-loop join. Bands/planes are parameters; the
    * (5 planes × 48 bands) defaults were validated to recall every
    * true ≥ 0.45 pair of this corpus at sf0.01 AND sf0.1 (the spec
    * asserts set-equality against [[embeddingPairsAllPairs]]).
    * Selectivity grows with the threshold–noise gap: at this corpus's
    * 0.45 threshold (barely above noise) ~77% of pairs remain
    * candidates, while at a production near-dup threshold (≥ 0.9,
    * p_disagree ≈ 0.14/plane) the same banding prunes ~99.99% of
    * pairs; verification cost stays linear in candidates either way.
    */
  def embeddingPairs(spark: SparkSession, dir: String, threshold: Double = 0.45,
                     planesPerBand: Int = 5, bands: Int = 48): DataFrame = {
    VectorFunctions.register(spark)
    // signature side is self-joined and re-joined for verify
    val e = cacheOnce(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .withColumn("bks",
        call_function("graft_hyperplanes", col("v"), lit(planesPerBand), lit(bands))))
    val buckets = e.select(col("vec_id"), posexplode(col("bks")).as(Seq("band", "bucket")))
    // VERIFY-FIRST, dedup the SURVIVORS: candidate pair-OCCURRENCES
    // (one per colliding band) flow straight into the broadcast
    // vector joins and the exact-cosine filter, and the distinct runs
    // over the tiny verified set. The r17 shape deduplicated BEFORE
    // verification — a full-width exchange + two hash-aggregate builds
    // over the candidate set, which at this corpus's near-noise
    // threshold is ~77% of all pairs and measured 2.25 s of the
    // query's 2.1 s; the redundant dot products this trades in are
    // band-multiplicity-bounded (avg ~2.1 occurrences/pair here) and
    // each costs far less than a deduplicating exchange row. Same
    // verified pair set either way (every occurrence of a pair
    // computes the same cosine), so the output is unchanged.
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
    val cosc = call_function("graft_dot", col("av"), col("bv")) / (col("an") * col("bn"))
    cand
      .join(e.select(col("vec_id").as("va"), col("v").as("av"), col("nrm").as("an")), "va")
      .join(e.select(col("vec_id").as("vb"), col("v").as("bv"), col("nrm").as("bn")), "vb")
      .filter(cosc >= threshold)
      .select(col("va"), col("vb"), round(cosc, 4).as("cos"))
      .distinct()
      .orderBy(col("va"), col("vb"))
  }

  /** Exact all-pairs baseline (BroadcastNestedLoopJoin, O(N²)): the
    * spec's recall oracle for [[embeddingPairs]] at small scale
    * factors. NOT registered as a contract query — at 100 TB an
    * all-pairs join cannot run.
    */
  private[graft] def embeddingPairsAllPairs(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val cosc = call_function("graft_dot", col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(cosc >= 0.45)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), round(cosc, 4).as("cos"))
      .orderBy(col("va"), col("vb"))
  }

  /** SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, then
    * deduplicate WITHIN each cluster only — a pair is only ever
    * compared if both members land in the same cell, so the quadratic
    * term is (N/k)² per cluster instead of N² overall. With k ≈ √N the
    * expected within-cluster work is O(N^1.5 / something) bounded by
    * cluster occupancy, and at 100 TB the cluster id is a plain
    * equi-join key — the same bucketing discipline as every other
    * candidate generator in this file (LSH bands, IVF cells, shingle
    * buckets).
    *
    * Mechanics: centroids are control-plane ([[Clustering.centroids]],
    * k×dim doubles) and come back as broadcast literals; assignment is
    * one codegen'd dot-product ranking per row (no join); the
    * within-cluster pair join is an equi-join on `cell`; a member is
    * DROPPED when a lower-id member of the same cluster sits within
    * `threshold` cosine — greedy lowest-id-keeper, deterministic under
    * any partitioning. AQE's skew-join handles an over-full cell.
    *
    * Returns per-cluster occupancy and drop counts (k rows). Not
    * SQL-expressible (iterative k-means); the spec replays assignment +
    * greedy drops in local Scala at sf0.001 and asserts the dropped-id
    * set matches exactly.
    */
  def semantic(spark: SparkSession, dir: String, threshold: Double = 0.45,
               k: Int = 16): DataFrame = {
    val (e, dropped) = semanticParts(spark, dir, threshold, k)
    e.select(col("cell"), col("vec_id"))
      .join(dropped.withColumn("is_dropped", lit(1)), Seq("cell", "vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), count(col("is_dropped")).as("n_dropped"))
      .orderBy(col("cell"))
  }

  /** The dropped ids behind [[semantic]] — the spec's replay target. */
  private[graft] def semanticDropped(spark: SparkSession, dir: String,
                                     threshold: Double = 0.45, k: Int = 16): DataFrame =
    semanticParts(spark, dir, threshold, k)._2
      .select(col("vec_id")).orderBy(col("vec_id"))

  /** (assigned corpus, dropped (cell, vec_id) rows) shared by
    * [[semantic]] and [[semanticDropped]].
    */
  private def semanticParts(spark: SparkSession, dir: String, threshold: Double,
                            k: Int): (DataFrame, DataFrame) = {
    VectorFunctions.register(spark)
    val cents = Clustering.centroids(spark, dir, k)
    // self-joined for pairs, then joined again for the summary
    val e = cacheOnce(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .withColumn("cell", element_at(Similarity.topCellsExpr(cents)(col("v"), 1), 1)))
    val cosc = call_function("graft_dot", col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    val dropped = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosc >= threshold)
      .select(col("a.cell").as("cell"), col("b.vec_id").as("vec_id"))
      .distinct()
    (e, dropped)
  }
}
