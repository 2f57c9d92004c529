package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.plans.TopK
import graft.sources.Tables

/** OPQ-style rotated product quantization — PCA rotation with
  * EIGENVALUE ALLOCATION in front of [[Similarity.annPq]]'s PQ
  * pipeline (the parametric OPQ initialization of Ge et al. 2014,
  * "Optimized Product Quantization", and Faiss's `OPQMatrix` default):
  * plain PQ quantizes each 4-dim slice of the RAW vector, so
  * correlated/unbalanced slices waste codebook entropy; rotating onto
  * the PCA basis decorrelates the coordinates, and distributing the
  * principal directions over the m subspaces so per-subspace variance
  * products balance (greedy on log-eigenvalues) gives every codebook
  * comparable work — measurably better codes at the SAME 16 bytes per
  * vector.
  *
  * Scale shape: the rotation is m·sub codegen'd `graft_dot`s against
  * PLAN LITERALS with constant centering (exactly [[Pca.embPca]]'s
  * projection, widened to all dims) — map-only, no extra corpus pass
  * beyond what PQ encoding already does; codebooks train once on the
  * rotated working set (memoized via [[Similarity.pqCodebooksOf]]);
  * query ADC tables are driver-side (|Q| rotated query rows —
  * control-plane); candidate cut and final ranking are the family's
  * bounded-heap [[graft.plans.TopK]] + broadcast-join exact rerank on
  * the RAW float vectors. Approximate → rows-only; spec asserts
  * recall@5 vs [[Similarity.annTopk]], bit-equal reranked cosines,
  * and that the allocation balances per-subspace variance.
  */
object Opq {

  final case class Model(order: Array[Int], rot: Array[Array[Double]],
                         centers: Array[Double], eigvals: Array[Double])

  private val cache = graft.SessionCaches.memo[(String, Int), Model]()

  /** The rotation: PCA components permuted by eigenvalue allocation —
    * subspace b owns rows [b·sub, (b+1)·sub). Greedy balance: each
    * direction (eigenvalues descending) goes to the unfilled subspace
    * with the smallest running log-eigenvalue sum.
    */
  def model(spark: SparkSession, dir: String, m: Int = 16): Model =
    cache(spark, (dir, m)) {
      val p = Pca.fit(spark, dir)
      val dim = p.mean.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sub = dim / m
      val buckets = Array.fill(m)(List.empty[Int])
      val logSum = new Array[Double](m)
      // LPT greedy needs NON-NEGATIVE weights (raw logs are negative,
      // and minBy on negative sums degenerates: the first bucket's sum
      // drops below the empty ones and it swallows a contiguous run).
      // Every bucket takes exactly `sub` directions, so balancing is
      // SHIFT-INVARIANT — shift by the smallest log and balance the
      // non-negative remainders instead.
      val logs = p.eigvals.map(v => math.log(math.max(v, 1e-12)))
      val shift = logs.min
      for (i <- 0 until dim) { // eigvals (and shifted logs) descending
        val b = (0 until m).filter(buckets(_).length < sub).minBy(logSum)
        buckets(b) = i :: buckets(b)
        logSum(b) += logs(i) - shift
      }
      val order = buckets.flatMap(_.reverse)
      val rot = order.map(p.comps)
      val centers = rot.map(c => c.zip(p.mean).map { case (a, b) => a * b }.sum)
      Model(order, rot, centers, order.map(p.eigvals))
    }

  /** Rotate an arbitrary `(vec_id, embedding)` frame onto the OPQ
    * basis: (vec_id, v: array<double>, nrm) —
    * [[Similarity.withNorm]]'s shape. Map-only; rotation rides as plan
    * literals.
    */
  private def rotatedOf(spark: SparkSession, dir: String, m: Int,
                        src: DataFrame): DataFrame = {
    VectorFunctions.register(spark)
    val mod = model(spark, dir, m)
    val vd = transform(col("embedding"), x => x.cast("double"))
    val cols = mod.rot.zip(mod.centers).map { case (c, ctr) =>
      call_function("graft_dot", vd, typedlit(c.toSeq)) - lit(ctr)
    }
    src.select(col("vec_id"), array(cols.toSeq: _*).as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
  }

  /** The rotated CORPUS, cached and MEMOIZED per (session, corpus, m)
    * — the executor-storage twin of [[model]]'s driver cache. The
    * SessionCaches hook both drops the map entry and UNPERSISTS the
    * frame, so the corpus-sized array<double> storage is released with
    * the session instead of pinning executor memory for its lifetime
    * (the round-7 leak: a per-call `.cache()` nobody released).
    */
  private val rotatedCache = graft.SessionCaches.memo[(String, Int), DataFrame](_.unpersist())

  private def rotatedCorpus(spark: SparkSession, dir: String, m: Int): DataFrame =
    rotatedCache(spark, (dir, m))(rotatedOf(spark, dir, m, Tables.embeddings(spark, dir)).cache())

  /** Rotated-PQ ANN: ADC over OPQ codes → bounded-heap top-c → exact
    * rerank on the raw float vectors. Same output contract as
    * [[Similarity.annPq]], better codes at the same bytes.
    * `queries`: optional `(vec_id, embedding)` frame of YOUR query
    * vectors (rotated onto the OPQ basis before ADC); default is the
    * contract demo set (corpus `vec_id < 10`). Driver-side ADC state
    * is |Q|-bounded (the collected rotated query rows).
    */
  def annOpq(spark: SparkSession, dir: String, m: Int = 16, c: Int = 64,
             queries: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.register(spark)
    import spark.implicits._
    val base = rotatedCorpus(spark, dir, m)
    val dim = base.select(size(col("v"))).head().getInt(0)
    val sub = dim / m
    val books = Similarity.pqCodebooksOf(spark, s"$dir#opq", base, m)
    val coded = Similarity.pqEncoded(base, books, m, sub)
      .select(col("vec_id"), col("codes"), col("nrm"))
    // per-query ADC tables from the ROTATED query rows (same arithmetic
    // as the corpus side — collected, |Q| rows, control-plane)
    val qVecs = queries.map(rotatedOf(spark, dir, m, _))
      .getOrElse(base.filter(col("vec_id") < 10))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val qTables = qVecs.toSeq.map { case (qid, qv, qn) =>
      val t = (0 until m).map { j =>
        val qj = qv.slice(j * sub, (j + 1) * sub)
        books(j).map { case (_, cent) =>
          qj.zip(cent).map { case (a, b) => a * b }.sum }.toSeq
      }
      (qid, t, qn)
    }
    val q = qTables.toDF("q_id", "tables", "qn")
    val adc = expr(
      "aggregate(zip_with(codes, tables, (cd, t) -> element_at(t, cd + 1)), 0D, (a, x) -> a + x)") /
      (col("qn") * col("nrm"))
    val cands = TopK.perGroup(
        coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), adc.as("adc")),
        keys = Seq("q_id"), score = "adc", tiebreak = "vec_id", k = c)
      .select(col("q_id"), col("vec_id"))
    Similarity.exactRerank(spark, dir, cands, queries = queries)
  }
}
