package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Tables

/** Distributed PCA over the embedding corpus — the data-dependent
  * counterpart to [[Similarity.embProject]]'s data-oblivious JL
  * projection (and the classic preprocessing step before IVF/PQ
  * indexing: rotate-then-quantize).
  *
  * Scale structure — the textbook one-pass moment reduction: the
  * corpus is touched ONCE by a per-partition pass accumulating
  * (n, Σv, Σv·vᵀ) into a dim + dim² local buffer (per-partition
  * imperative accumulation is exactly the narrow case where
  * `mapPartitions` beats any expression form: dim² = 4096 doubles per
  * PARTITION, where an explode-based Gramian would emit 4096 rows per
  * VECTOR). The reduce combines P partition moments — a dim²-sized
  * tree over P buffers, pure control-plane. Everything after (the
  * covariance, the Jacobi eigensolve, component selection) runs on
  * the driver over a dim×dim matrix, and the projection returns to
  * the data as codegen'd `graft_dot` against component PLAN LITERALS:
  * `proj_j = dot(v, c_j) − dot(mean, c_j)` — the centering term is a
  * per-component CONSTANT, so no centered copy of the corpus is ever
  * materialized.
  *
  * Eigensolve: cyclic Jacobi on the symmetric covariance —
  * unconditionally stable, exact enough at dim ≤ a few hundred, zero
  * dependencies. Eigenvector sign is fixed by convention (the
  * largest-|coordinate| entry is positive) so the output is
  * reproducible run-to-run. Approximate (double sums depend on
  * partition order at the last ulps) → rows-only; the spec asserts
  * orthonormality, descending eigenvalues, agreement with a local
  * replay, and that PCA captures at least as much variance as the JL
  * projection at the same output dimension (the optimality PCA
  * exists for).
  */
object Pca {

  final case class Model(n: Long, mean: Array[Double],
                         eigvals: Array[Double], comps: Array[Array[Double]])

  private val cache = graft.SessionCaches.memo[String, Model]()

  /** The fitted model (all dim components, eigenvalues descending),
    * memoized per (session, corpus) like the PQ codebooks.
    */
  def fit(spark: SparkSession, dir: String): Model =
    cache(spark, dir)(build(spark, dir))

  private def build(spark: SparkSession, dir: String): Model = {
    val vecs = Tables.embeddings(spark, dir).select(col("embedding"))
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    // one corpus pass: per-partition (n, Σv, Σv·vᵀ), then a
    // control-plane reduce of dim²-sized buffers
    val (n, sum, gram) = vecs.rdd.mapPartitions { it =>
      var cnt = 0L
      val s = new Array[Double](dim)
      val g = Array.ofDim[Double](dim, dim)
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        cnt += 1
        var i = 0
        while (i < dim) {
          val vi = v(i).toDouble
          s(i) += vi
          var j = i
          while (j < dim) { g(i)(j) += vi * v(j).toDouble; j += 1 }
          i += 1
        }
      }
      Iterator.single((cnt, s, g))
    }.reduce { (a, b) =>
      var i = 0
      while (i < dim) {
        b._2(i) += a._2(i)
        var j = i
        while (j < dim) { b._3(i)(j) += a._3(i)(j); j += 1 }
        i += 1
      }
      (a._1 + b._1, b._2, b._3)
    }
    val mean = sum.map(_ / n)
    // covariance from the upper-triangular scatter, symmetrized
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val c = gram(i)(j) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (vals, vecsM) = jacobi(cov)
    // descending eigenvalues; sign convention: max-|coord| positive
    val order = vals.indices.sortBy(i => -vals(i))
    val comps = order.map { i =>
      val c = vecsM.map(_(i))
      val m = c.indices.maxBy(j => math.abs(c(j)))
      if (c(m) < 0) c.map(-_) else c
    }.toArray
    Model(n, mean, order.map(vals).toArray, comps)
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (eigenvalues,
    * eigenvector matrix with eigenvectors as COLUMNS). Sweeps until
    * the off-diagonal mass is ~machine-zero.
    */
  private[graft] def jacobi(mIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val a = mIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (off() > 1e-18 && sweep < 64) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-30) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // sign must be ±1 even at theta == 0 (equal diagonal entries:
        // the 45° rotation case) — signum(0.0) = 0 would make the
        // pivot a no-op and leave the block undiagonalized forever
        val sgn = if (theta >= 0) 1.0 else -1.0
        val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (j <- 0 until d) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - s * aqj
          a(q)(j) = s * apj + c * aqj
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Contract query: every embedding projected onto the top-`k`
    * principal components. Map-only (codegen'd dots against component
    * literals, constant centering), mirrors [[Similarity.embProject]]'s
    * shape with the learned basis.
    */
  def embPca(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    VectorFunctions.register(spark)
    val m = fit(spark, dir)
    val top = m.comps.take(k)
    val vd = transform(col("embedding"), x => x.cast("double"))
    val cols = top.map { c =>
      val center = c.zip(m.mean).map { case (a, b) => a * b }.sum
      call_function("graft_dot", vd, typedlit(c.toSeq)) - lit(center)
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        array(cols.toSeq: _*).as("proj"))
      .orderBy(col("vec_id"))
  }
}
