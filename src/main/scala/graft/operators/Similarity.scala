package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionCaches.cacheOnce
import graft.functions.VectorFunctions
import graft.plans.TopK
import graft.sources.Tables

/** Similarity search over the `embeddings` table.
  *
  *  - [[annTopk]]: exact brute-force cosine top-k — the correctness
  *    baseline and the oracle-checked query. O(|Q|·N) with Q small.
  *  - [[annLsh]]: random-hyperplane LSH with multiprobe — the 100 TB
  *    path. Signatures bucket the corpus (one shuffle on bucket id);
  *    each query probes its bucket and all hamming-1 neighbors, so the
  *    scanned fraction is ~(planes+1)/2^planes of the corpus instead
  *    of all of it. Recall vs. [[annTopk]] is asserted in the spec.
  *
  * All dot products run through the codegen'd
  * [[graft.functions.DotProduct]] expression (float arrays promoted to
  * double inside the loop — exactly the summation the DuckDB oracle
  * computes on double lists).
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  private[operators] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))

  /** Final per-query top-k of a scored (q_id[, extra...], vec_id, cos)
    * frame through the bounded-heap operator
    * ([[graft.plans.TopKPerGroupExec]], rank emitted by the operator
    * itself) — NOT `row_number().over(partitionBy(q_id))`: the window
    * form sorts each query's ENTIRE candidate list in one task (a
    * corpus-sized sort per query at |Q|=10, a scale-killer for a real
    * query batch), where the heap does one O(n log k) scan and holds
    * k rows per query.
    */
  private def rankedTop(scored: DataFrame, k: Int = 5,
                        extra: Seq[String] = Nil): DataFrame =
    TopK.perGroupRanked(scored, Seq("q_id"), "cos", "vec_id", k)
      .select((col("q_id") +: extra.map(col)) ++
        Seq(col("vec_id"), col("rank"), round(col("cos"), 4).as("cos")): _*)
      .orderBy(col("q_id"), col("rank"))

  /** The ANN query set: a caller-provided `(vec_id, embedding)` frame,
    * or (None — the contract/demo default every oracle and bench run
    * uses) the corpus vectors with `vec_id < 10`. Everything derived
    * from it driver-side (ADC tables, probe lists) is |Q|-bounded.
    */
  private def querySet(spark: SparkSession, dir: String,
                       queries: Option[DataFrame]): DataFrame =
    withNorm(queries.getOrElse(
      Tables.embeddings(spark, dir).filter(col("vec_id") < 10)))

  /** Exact cosine rerank of a DISTRIBUTED candidate set (q_id, vec_id):
    * the float corpus streams once; the candidate set and the query
    * frame ride as broadcast hash joins. No driver collect and no
    * literal-IN anywhere — |Q|·c candidate rows never cross the
    * driver, the shape that survives a real query batch (the previous
    * collect-into-`isin` form was control-plane-sized only at |Q|=10).
    */
  private[operators] def exactRerank(spark: SparkSession, dir: String,
                                     cands: DataFrame, k: Int = 5,
                                     queries: Option[DataFrame] = None): DataFrame = {
    val ef = withNorm(Tables.embeddings(spark, dir))
    val qf = querySet(spark, dir, queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cosx = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    rankedTop(ef.join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qf), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), cosx.as("cos")), k)
  }

  /** Exact cosine top-5 neighbors for the query set (default: the
    * contract `vec_id < 10` demo vectors; pass `queries` for your own
    * `(vec_id, embedding)` frame).
    */
  def annTopk(spark: SparkSession, dir: String,
              queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    val e = withNorm(Tables.embeddings(spark, dir))
    val q = querySet(spark, dir, queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cosc = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    // stream the CORPUS, broadcast the tiny query set: the build side of
    // the nested-loop join must be the 10-row side — broadcasting the
    // corpus would ship the whole table to every executor at 100 TB
    rankedTop(e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosc.as("cos")))
  }

  /** Per-label centroids, one row per (label, dimension): posexplode →
    * groupBy(label, dim) — the classic distributed vector mean with
    * map-side partial sums (k-means-style reduction shape).
    */
  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x").cast("double")), 4).as("c"), count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))

  /** IVF (inverted-file) ANN: the corpus is partitioned into k cells
    * around centroids; queries probe only the `nprobe` nearest cells.
    *
    * Cells: `k <= 0` (default) uses the per-label means — a one-pass
    * distributed reduction, and at the test scale factors the 10
    * labels are already ≈√N cells, the standard IVF sizing. `k > 0`
    * builds k unsupervised cells via [[Clustering.centroids]]
    * (Lloyd's over the cached working set) — the path for corpora
    * without a label partition, with k ≈ √N and nprobe scaled with k.
    * Either way only the k×dim centroid table crosses the driver
    * (control-plane, like k-means) and comes back as broadcast
    * literals, so cell assignment is a pure map with no join. At
    * 100 TB the scan fraction is ~nprobe/k of the corpus.
    * No SQL oracle (approximate); spec measures recall vs [[annTopk]]
    * at both cell settings.
    */
  /** Cell centroids: per-label means by default (one-pass reduction),
    * or k unsupervised Lloyd's cells. Only k×dim crosses the driver.
    */
  private[operators] def cellCentroids(spark: SparkSession, dir: String,
                                       k: Int): Array[(Int, Seq[Double])] =
    if (k > 0) Clustering.centroids(spark, dir, k)
    else embCentroids(spark, dir)
      .collect()
      .groupBy(_.getAs[Int]("label"))
      .map { case (l, rows) =>
        (l, rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("c")).toSeq)
      }
      .toArray.sortBy(_._1)

  /** Cell ids ranked by centroid score, best first (normalizing by the
    * row's own norm is a constant per row — ordering unaffected, so
    * skip it). Cell id == centroid array index (cents is id-sorted),
    * so the native top-k index selection IS the ranking — one tight
    * loop per row instead of an interpreted
    * zip_with/array_sort-comparator/transform chain.
    */
  private[operators] def topCellsExpr(cents: Array[(Int, Seq[Double])])
                                     (v: Column, n: Int): Column = {
    val scores = array(cents.map { case (_, c) =>
      dot(v, typedLit(c)) / sqrt(lit(c.map(x => x * x).sum))
    }: _*)
    call_function("graft_topk_idx", scores, lit(n))
  }

  def annIvf(spark: SparkSession, dir: String, nprobe: Int = 3, k: Int = 0,
             queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    val cents = cellCentroids(spark, dir, k)
    def topCells(v: Column, n: Int): Column = topCellsExpr(cents)(v, n)
    // probed by queries derived from itself
    val e = cacheOnce(withNorm(Tables.embeddings(spark, dir))
      .withColumn("cell", element_at(topCells(col("v"), 1), 1)))
    val q = queries.map(withNorm).getOrElse(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
              explode(topCells(col("v"), nprobe)).as("cell"))
    val cosc = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    rankedTop(q.join(e, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosc.as("cos")))
  }

  /** Plane count sized to the corpus: 2^planes buckets targeting ~64
    * vectors per bucket, clamped to [4, 20]. Probing is own bucket +
    * hamming-1 flips, so the scanned fraction is ~(planes+1)/2^planes —
    * it SHRINKS as the corpus (and with it the plane count) grows.
    */
  /** Int8-QUANTIZED ANN: the 4×-memory path for a 100 TB embedding
    * corpus. Pass 1 scans int8 vectors ([[graft.functions.Quantize8]],
    * BINARY — a quarter of the float32 bytes in storage/cache/shuffle)
    * and ranks by integer cosine (codegen'd [[graft.functions.Dot8]],
    * exact long arithmetic — per-vector scales cancel in cosine); the
    * top-`c` candidates per query (bounded-heap [[graft.plans.TopK]],
    * no per-query sort) stay a DISTRIBUTED frame and are RERANKED
    * exactly on the float vectors via a broadcast hash join — no
    * driver collect, no literal-IN, so the shape holds for a real
    * query batch, not just |Q|=10. At scale the quantized pass does
    * all the heavy reading at 1/4 the bytes. Candidate overfetch
    * c ≫ k absorbs the ≤1/127-per-element quantization error (spec:
    * recall@5 vs exact ≥ 0.95).
    */
  def annQuantized(spark: SparkSession, dir: String, c: Int = 32,
                   queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    val q8 = call_function("graft_quantize8", col("embedding"))
    def quantize(df: DataFrame): DataFrame = df
      .select(col("vec_id"), q8.as("b"))
      .withColumn("bn", sqrt(call_function("graft_dot8", col("b"), col("b")).cast("double")))
    val e8 = quantize(Tables.embeddings(spark, dir))
    val q = queries.map(quantize).getOrElse(e8.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("b").as("qb"), col("bn").as("qbn"))
    val cos8 = call_function("graft_dot8", col("qb"), col("b")).cast("double") /
      (col("qbn") * col("bn"))
    // top-c candidates per query via the bounded-heap operator — the
    // candidate set STAYS a DataFrame (|Q|·c rows, broadcast into the
    // rerank join); nothing crosses the driver
    val cands = TopK.perGroup(
        e8.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), cos8.as("cos8")),
        keys = Seq("q_id"), score = "cos8", tiebreak = "vec_id", k = c)
      .select(col("q_id"), col("vec_id"))
    exactRerank(spark, dir, cands, queries = queries)
  }

  /** PRODUCT-QUANTIZED ANN (Jégou et al.'s PQ — the memory-bound
    * standard beyond int8): the vector is SPLIT into `m` subspaces,
    * each k-means-coded against its own 16-entry codebook, so a
    * 64-float vector stores as m=16 code bytes — 16× smaller than
    * float32 (int8 is 4×), the compression that keeps a 100 TB corpus'
    * index RAM-resident. m and the rerank overfetch c trade recall
    * against memory/scan cost; the defaults hold recall@5 ≥ 0.9 on
    * the synthetic corpus (spec), real deployments tune per corpus.
    *
    * Train: one [[Clustering.centroidsOf]] run per subspace over the
    * sliced corpus (k·m·sub doubles of codebook — control-plane,
    * inlined as plan literals). Encode: per subspace, argmin of the
    * codegen'd `-2·dot+|c|²` score array — map-only, one pass.
    * Query (ADC): each query precomputes its m×16 table of subspace
    * dot products DRIVER-SIDE (|Q| vectors cross once — control
    * plane); the corpus-side approximate score is then pure table
    * lookups — `zip_with(codes, tables, element_at)` + `aggregate` —
    * never a float-vector dot, which is what makes the heavy pass
    * cheap at scale. Exact norms ride along so the ADC score ranks
    * cosine, not raw inner product. Top-c candidates per query
    * (bounded-heap [[graft.plans.TopK]]) stay distributed and rerank
    * EXACTLY on float vectors through the same broadcast-join rerank
    * as [[annQuantized]]. Approximate → rows-only; spec asserts
    * recall@5 vs [[annTopk]].
    */
  /** Per-subspace PQ codebooks (16 centroids each), MEMOIZED per
    * (session, corpus, m): training is m independent k-means runs —
    * build-once state exactly like the BPE merge table and the IVF
    * centroids; every query after the first reads the cached array.
    * At 100 TB the codebooks persist beside the encoded corpus (the
    * [[IvfIndex]] `_centroids` discipline); k·m·sub doubles ≈ KBs.
    * Same immutable-corpus-per-session contract as every build-once
    * cache here (edge set, OTLP parse): a changed corpus takes a new
    * dir/session — only [[IvfIndex]] carries on-disk versioning,
    * because only it persists state ACROSS sessions.
    */
  private val pqCache =
    graft.SessionCaches.memo[(String, Int), Array[Array[(Int, Seq[Double])]]]()

  private[graft] def pqCodebooks(spark: SparkSession, dir: String,
                                 m: Int = 16): Array[Array[(Int, Seq[Double])]] =
    pqCodebooksOf(spark, dir, withNorm(Tables.embeddings(spark, dir)), m)

  /** [[pqCodebooks]] over an arbitrary `(vec_id, v)` working set keyed
    * by `cacheKey` — the entry point [[Opq]] uses to train codebooks
    * on the ROTATED corpus instead of the raw one.
    */
  private[graft] def pqCodebooksOf(spark: SparkSession, cacheKey: String,
                                   base: DataFrame,
                                   m: Int): Array[Array[(Int, Seq[Double])]] =
    pqCache(spark, (cacheKey, m)) {
      val dim = base.select(size(col("v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sub = dim / m
      (0 until m).toArray.map { j =>
        Clustering.centroidsOf(spark,
          base.select(col("vec_id"), slice(col("v"), j * sub + 1, sub).as("v")),
          k = 16, iters = 3)
      }
    }

  /** PQ-encode a frame carrying a vector column `v`: appends `codes`,
    * the m argmin code bytes vs `books` — codes[j] = argmin_c
    * |x_j - c|² via the -2·dot+|c|² trick. Map-only; the codebooks
    * ride as plan literals. Shared by [[annPq]] (in-query encode) and
    * [[IvfIndex.ensurePq]] (persisted per-cell codes).
    */
  private[operators] def pqEncoded(df: DataFrame,
      books: Array[Array[(Int, Seq[Double])]], m: Int, sub: Int): DataFrame = {
    // The codebooks ride as ONE m×k×sub literal (plus the m×k
    // |c|² table) and the m×k per-centroid scores are nested
    // higher-order LOOPS over it, not unrolled expressions: the
    // unrolled form (256 separate dot+literal score columns collapsed
    // into one projection) generated >64 KB of Java in a single
    // method, janino refused it, and the whole encode stage silently
    // fell out of whole-stage codegen into interpreted execution —
    // the exact fate the map-only encode design is meant to avoid.
    // Score arithmetic is unchanged (dot·(−2)+|c|², same IEEE order),
    // so the emitted codes are bit-identical to the unrolled form.
    val bLit = typedlit(books.map(_.map(_._2.toArray)))
    val nLit = typedlit(books.map(_.map { case (_, c) => c.map(x => x * x).sum }))
    df.withColumn("__B", bLit).withColumn("__N", nLit)
      .withColumn("__S", expr(
        s"""transform(__B, (bj, j) ->
           |  zip_with(element_at(__N, j + 1), bj,
           |    (nc, bc) -> graft_dot(slice(v, j * $sub + 1, $sub), bc) * -2.0D + nc))""".stripMargin))
      .withColumn("codes",
        expr("transform(__S, s -> CAST(array_position(s, array_min(s)) AS INT) - 1)"))
      .drop("__B", "__N", "__S")
  }

  def annPq(spark: SparkSession, dir: String, m: Int = 16, c: Int = 64,
            queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    import spark.implicits._
    val base = cacheOnce(withNorm(Tables.embeddings(spark, dir)))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val books = pqCodebooks(spark, dir, m)
    val coded = pqEncoded(base, books, m, sub)
      .select(col("vec_id"), col("codes"), col("nrm"))
    // ADC tables per query, computed driver-side (|Q|-bounded):
    // T[j][c] = dot(q_j, book_j[c])
    val qVecs = queries.map(withNorm).getOrElse(base.filter(col("vec_id") < 10))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble), r.getDouble(2)))
    val qTables = qVecs.toSeq.map { case (qid, qv, qn) =>
      val t = (0 until m).map { j =>
        val qj = qv.slice(j * sub, (j + 1) * sub)
        books(j).map { case (_, cent) => qj.zip(cent).map { case (a, b) => a * b }.sum }.toSeq
      }
      (qid, t, qn)
    }
    val q = qTables.toDF("q_id", "tables", "qn")
    // approximate cosine: sum of per-subspace table lookups over exact norms
    val adc = expr(
      "aggregate(zip_with(codes, tables, (cd, t) -> element_at(t, cd + 1)), 0D, (a, x) -> a + x)") /
      (col("qn") * col("nrm"))
    val cands = TopK.perGroup(
        coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), adc.as("adc")),
        keys = Seq("q_id"), score = "adc", tiebreak = "vec_id", k = c)
      .select(col("q_id"), col("vec_id"))
    exactRerank(spark, dir, cands, queries = queries)
  }

  private[operators] def derivePlanes(corpusSize: Long): Int =
    math.min(20, math.max(4,
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, corpusSize / 64)))))

  /** LSH-bucketed approximate top-5: corpus hashed once into 2^planes
    * buckets (deterministic ±1 hyperplanes, [[graft.functions.Hyperplanes]]);
    * queries probe their bucket + all hamming-1 buckets. `planes <= 0`
    * derives the count from the corpus size (one count() over the
    * cached signature side — a control-plane job).
    */
  def annLsh(spark: SparkSession, dir: String, planes: Int = 0,
             queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    val base = withNorm(Tables.embeddings(spark, dir))
    val nPlanes = if (planes > 0) planes else derivePlanes(base.count())
    def bucketed(df: DataFrame): DataFrame = df.withColumn("bucket",
      element_at(call_function("graft_hyperplanes", col("v"), lit(nPlanes), lit(1)), 1))
    // corpus side is probed by queries derived from itself
    val e = cacheOnce(bucketed(base))
    val q = queries.map(qs => bucketed(withNorm(qs)))
      .getOrElse(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
              col("bucket").as("qb"))
    // multiprobe set: own bucket + flip each plane bit
    val probes = array((lit(0) +: (0 until nPlanes).map(p => lit(1 << p))): _*)
    val qProbed = q.select(col("q_id"), col("qv"), col("qn"), col("qb"),
      explode(probes).as("flip"))
      .withColumn("bucket", col("qb").bitwiseXOR(col("flip")))
      .drop("flip", "qb")
    val cosc = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    rankedTop(qProbed.join(e, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosc.as("cos")))
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * project each embedding onto `outDim` fixed Gaussian directions.
    * The projection matrix derives from a SEEDED driver-side RNG — a
    * pure function of (seed, dims), so every run / executor / engine
    * re-derives the identical matrix and projections are reproducible
    * (the [[graft.functions.Hyperplanes]] determinism rule).
    *
    * Scale shape: map-only — one codegen'd dot product per output
    * dimension per row, matrix inlined as plan literals (outDim×dim
    * doubles; a matrix too big to inline would ship as a broadcast
    * join instead). No shuffle at any corpus size; downstream ANN over
    * the 8-dim output pays 1/8 the dot-product cost.
    */
  def embProject(spark: SparkSession, dir: String,
                 outDim: Int = 8, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(spark)
    val dim = Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).head().getInt(0)
    val rng = new java.util.Random(seed)
    // scale 1/sqrt(outDim): E[|proj(a)-proj(b)|^2] = |a-b|^2 (JL)
    val planes = Array.fill(outDim)(
      Array.fill(dim)(rng.nextGaussian() / math.sqrt(outDim.toDouble)))
    val v = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        array(planes.map(p => call_function("graft_dot", v, typedlit(p.toSeq))).toSeq: _*)
          .as("proj"))
      .orderBy(col("vec_id"))
  }

  /** FILTERED vector search — top-k restricted by a metadata predicate
    * (here: same `label` as the query), the shape every production
    * vector store calls "hybrid filtering". The predicate rides the
    * join condition, so it lands in the hash-join key (label equality
    * → label becomes part of the equi-join key) and each query scans
    * only its label's stripe of the corpus instead of all of it —
    * pre-filtering, not post-filtering, so k results survive even
    * under selective predicates. Corpus streamed, query set broadcast,
    * exactly as [[annTopk]].
    */
  /** IVFPQ (Faiss's workhorse configuration — Jégou et al.'s PQ inside
    * the inverted-file index): the disk-backed IVF inverted lists
    * ([[IvfIndex]], `cell=<id>/` partitions) with PQ codes persisted
    * PER CELL ([[IvfIndex.ensurePq]]), so a query reads ~nprobe/k of
    * the corpus AND reads it 16× smaller than float32 — the scan
    * fraction × compression product a real 100 TB vector corpus runs.
    *
    * The heavy pass ([[ivfPqScores]]) touches only `cell IN (probed)`
    * partitions (literal partition filter → `PartitionFilters`, spec-
    * asserted) and scores by pure ADC table lookups — no float dot
    * anywhere in the probed scan. Per-query state (probe cells, ADC
    * tables, norm) is computed driver-side from the |Q| collected
    * query vectors — control-plane sized. Top-`c` candidates per query
    * (bounded-heap [[graft.plans.TopK]]) stay distributed and rerank
    * EXACTLY on float vectors through the same broadcast-join rerank
    * as [[annQuantized]]/[[annPq]].
    * Approximate → rows-only; spec asserts recall@5 vs [[annTopk]],
    * the partition pruning, and the dot-free probed plan.
    */
  def annIvfPq(spark: SparkSession, dir: String, nprobe: Int = 6,
               m: Int = 16, c: Int = 64,
               queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    val cands = TopK.perGroup(ivfPqScores(spark, dir, nprobe, m, queries),
        keys = Seq("q_id"), score = "adc", tiebreak = "vec_id", k = c)
      .select(col("q_id"), col("vec_id"))
    exactRerank(spark, dir, cands, queries = queries)
  }

  /** The heavy pass of [[annIvfPq]], exposed unevaluated so the spec
    * can assert its plan: ADC scores over the probed cells of the
    * per-cell PQ codes. Probe cells, ADC tables and query norms are
    * derived driver-side from the |Q| collected query vectors (read
    * from the SOURCE table, never by scanning the index) and join back
    * as one broadcast literal frame; the scan side reads only the
    * probed `cell=` partitions and evaluates only
    * zip_with/element_at/aggregate — never a float-vector dot.
    */
  private[graft] def ivfPqScores(spark: SparkSession, dir: String,
                                 nprobe: Int = 6, m: Int = 16,
                                 queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    import spark.implicits._
    val (_, cents) = IvfIndex.ensure(spark, dir)
    val (_, codesPath) = IvfIndex.ensurePq(spark, dir, m)
    val books = pqCodebooks(spark, dir, m)
    val qVecs = querySet(spark, dir, queries)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble), r.getDouble(2)))
    val dim = qVecs.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val qData = qVecs.toSeq.map { case (qid, qv, qn) =>
      // same centroid score as topCellsExpr (dot over centroid norm);
      // ties by cell id, matching graft_topk_idx's first-wins order
      val cells = cents.map { case (cid, cv) =>
        (cid, qv.zip(cv).map { case (a, b) => a * b }.sum /
          math.sqrt(cv.map(x => x * x).sum))
      }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1).toSeq
      val tables = (0 until m).map { j =>
        val qj = qv.slice(j * sub, (j + 1) * sub)
        books(j).map { case (_, cent) =>
          qj.zip(cent).map { case (a, b) => a * b }.sum }.toSeq
      }
      (qid, cells, tables, qn)
    }
    val probed = qData.flatMap(_._2).distinct.sorted
    val q = qData.flatMap { case (qid, cells, tables, qn) =>
      cells.map(cell => (qid, cell, tables, qn)) }
      .toDF("q_id", "cell", "tables", "qn")
    val adc = expr(
      "aggregate(zip_with(codes, tables, (cd, t) -> element_at(t, cd + 1)), 0D, (a, x) -> a + x)") /
      (col("qn") * col("nrm"))
    spark.read.parquet(codesPath)
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adc.as("adc"))
  }

  def annFiltered(spark: SparkSession, dir: String, k: Int = 5,
                  queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    def labeled(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val e = labeled(Tables.embeddings(spark, dir))
    // the filtered variant's query set carries the metadata column too
    val q = queries.map(labeled).getOrElse(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("v").as("qv"), col("nrm").as("qn"))
    val cosc = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    rankedTop(e.join(broadcast(q),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("label"), col("vec_id"), cosc.as("cos")),
      k, extra = Seq("label"))
  }
}
