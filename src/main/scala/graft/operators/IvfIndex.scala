package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Tables

/** DISK-BACKED IVF index: the build-once / query-many shape of
  * similarity search over a corpus too large to re-scan per query.
  *
  * [[Similarity.annIvf]] assigns cells inside one query; at 100 TB the
  * assignment pass itself is the dominant cost and must not repeat per
  * query batch. `ensure` pays it once, writing the corpus PARTITIONED
  * BY CELL (`cell=<id>/` directories, exactly a Faiss/SCaNN inverted
  * list as a parquet layout); `query` then reads ONLY the probed
  * cells — the cell filter is a literal IN over partition values, so
  * it lands in the scan's `PartitionFilters` and the non-probed
  * ~ (k-nprobe)/k of the corpus is never opened (spec-asserted).
  *
  * Cell count scales with the corpus: k ≈ √N (the standard IVF
  * sizing), built unsupervised via [[Clustering.centroids]].
  *
  * FULL LIFECYCLE: the index lives in VERSIONED directories
  * (`v<n>/cell=<id>/`) with the centroid table persisted beside the
  * data (`_centroids`) and an `_active` pointer — the same
  * swap-don't-mutate discipline as [[graft.sources.LogSync]]'s
  * manifest. [[append]] grows the active version's inverted lists at
  * cost ∝ new data; [[cellStats]] exposes the occupancy skew that
  * accumulates as appended data drifts from the trained centroids;
  * [[retrain]] re-learns centroids FROM THE INDEX CONTENTS and writes
  * the next version, flipping the pointer only when complete —
  * queries in flight keep reading the old version, and a crashed
  * retrain leaves the active version untouched.
  */
object IvfIndex {

  /** (activeVersion, centroids) per (session, dir). */
  private val built = graft.SessionCaches.memo[String, (Int, Array[(Int, Seq[Double])])]()

  private[graft] def root(dir: String): String =
    s"/tmp/graft_ivfv_${Integer.toHexString(dir.hashCode & 0x7fffffff)}"

  private def versionPath(dir: String, v: Int): String = s"${root(dir)}/v$v"

  /** √N clamped to [8, 256]: the IVF cell count for an N-vector corpus. */
  private[graft] def cellCount(n: Long): Int =
    math.min(256, math.max(8, math.sqrt(n.toDouble).toInt))

  private def fs(spark: SparkSession, dir: String) =
    new Path(root(dir)).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The active version is signalled by an EMPTY `_active_v<n>` file
    * per version, active = max n. A marker is never truncated or
    * rewritten in place (the failure mode of a single mutable pointer
    * file: a crash mid-rewrite leaves an empty, unparseable pointer
    * that never self-heals) — [[writeMarker]] creates the new
    * version's marker first and only then best-effort-deletes older
    * ones, so every instant has at least one valid marker and a crash
    * anywhere leaves the index readable.
    */
  private def activeOnDisk(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val r = new Path(root(dir))
    if (!f.exists(r)) None
    else f.listStatus(r).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("_active_v") => s.stripPrefix("_active_v") }
      // toIntOption, not toInt: a stray file matching the prefix (a
      // copy tool's "_active_v2.tmp", a corrupted name) must be
      // IGNORED, not brick every ensure/query with NumberFormatException
      .flatMap(_.toIntOption)
      .maxOption
  }

  private def writeMarker(spark: SparkSession, dir: String, v: Int): Unit = {
    val f = fs(spark, dir)
    f.create(new Path(s"${root(dir)}/_active_v$v"), true).close()
    (1 until v).foreach { old =>
      try f.delete(new Path(s"${root(dir)}/_active_v$old"), false)
      catch { case _: java.io.IOException => () } // next writeMarker retries
    }
  }

  /** Persist the k×dim control-plane table beside the data it indexed —
    * a session that did not train the centroids can still query.
    */
  private def writeCentroids(spark: SparkSession, dir: String, v: Int,
                             cents: Array[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    cents.toSeq.flatMap { case (c, vec) => vec.zipWithIndex.map { case (x, d) => (c, d, x) } }
      .toDF("cell", "dim", "x")
      .coalesce(1).write.mode("overwrite").parquet(s"${versionPath(dir, v)}/_centroids")
  }

  private def readCentroids(spark: SparkSession, dir: String, v: Int): Array[(Int, Seq[Double])] =
    spark.read.parquet(s"${versionPath(dir, v)}/_centroids")
      .collect()
      .groupBy(_.getAs[Int]("cell"))
      .map { case (c, rows) =>
        (c, rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("x")).toSeq)
      }
      .toArray.sortBy(_._1)

  private def assignedTo(df: DataFrame, cents: Array[(Int, Seq[Double])]): DataFrame =
    df.select(col("vec_id"), col("v"), col("label"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .withColumn("cell", element_at(Similarity.topCellsExpr(cents)(col("v"), 1), 1))

  /** Idempotently build (or load) the index for `dir`; returns
    * (activeVersion, centroid table) — cell id = array index.
    *
    * The cached entry is REVALIDATED against the `_active` marker on
    * every call (one metadata read — control-plane): if another
    * session retrained meanwhile, this session reloads the new
    * centroids instead of appending to / querying a superseded
    * (possibly dropped) version with stale cell assignments.
    */
  def ensure(spark: SparkSession, dir: String): (Int, Array[(Int, Seq[Double])]) = {
    ensureAttempt(spark, dir, retry = true)
  }

  private def ensureAttempt(spark: SparkSession, dir: String,
                            retry: Boolean): (Int, Array[(Int, Seq[Double])]) = {
    VectorFunctions.register(spark)
    activeOnDisk(spark, dir) match {
      case Some(v) =>
        // TOCTOU: a concurrent retrain+dropVersion can remove v
        // between the marker read above and this centroid read —
        // re-resolve the marker once and retry before surfacing
        try built.refresh(spark, dir)(_._1 == v)((v, readCentroids(spark, dir, v)))
        catch {
          case _: org.apache.spark.sql.AnalysisException if retry =>
            ensureAttempt(spark, dir, retry = false)
          case _: java.io.FileNotFoundException if retry =>
            ensureAttempt(spark, dir, retry = false)
        }
      case None =>
        // no marker on disk = not built (even if a stale cache entry
        // survives from a deleted index): never valid, so the rebuild
        // actually runs
        built.refresh(spark, dir)(_ => false) {
          val k = cellCount(Tables.embeddings(spark, dir).count())
          val cents = Clustering.centroids(spark, dir, k)
          assignedTo(
            Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("v"),
              col("label")), cents)
            .write.mode("overwrite").partitionBy("cell").parquet(versionPath(dir, 1))
          writeCentroids(spark, dir, 1, cents)
          writeMarker(spark, dir, 1)
          (1, cents)
        }
    }
  }

  private[graft] def activePath(spark: SparkSession, dir: String): String =
    versionPath(dir, ensure(spark, dir)._1)

  /** INCREMENTAL index maintenance: assign `newVectors` (vec_id,
    * embedding, label) to their nearest EXISTING centroid and append
    * them to the active version's cell partitions — the standard IVF
    * update (inverted lists grow; centroids stay fixed until a
    * deliberate [[retrain]]). Cost ∝ new data: assignment is a
    * map-only pass against the broadcast centroid literals, the write
    * appends only the touched `cell=` partitions, and queries see the
    * new vectors immediately. Returns the number appended.
    */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame): Long = {
    // ONE ensure: centroids and target version must come from the same
    // snapshot, or a concurrent retrain between the two would append
    // old-centroid cell assignments into the new version's partitions
    val (v, cents) = ensure(spark, dir)
    VectorFunctions.register(spark)
    val assigned = assignedTo(newVectors.withColumnRenamed("embedding", "v"), cents)
      .localCheckpoint() // appended twice below — never recompute between writes
    val n = assigned.count()
    assigned.write.mode("append").partitionBy("cell").parquet(versionPath(dir, v))
    // any PQ code mirror already built for this version must grow with
    // its inverted lists, or ADC queries would silently miss appended
    // vectors; coding the increment costs ∝ new data (map-only)
    val f = fs(spark, dir)
    f.listStatus(new Path(versionPath(dir, v))).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("_pq_m") => s.stripPrefix("_pq_m") }
      .flatMap(_.toIntOption)
      .foreach { m =>
        val books = Similarity.pqCodebooks(spark, dir, m)
        val dim = assigned.select(size(col("v"))).head().getInt(0)
        Similarity.pqEncoded(assigned, books, m, dim / m)
          .select(col("vec_id"), col("codes"), col("nrm"), col("cell"))
          .write.mode("append").partitionBy("cell")
          .parquet(s"${versionPath(dir, v)}/_pq_m$m")
      }
    n
  }

  /** PQ codes co-located with the inverted lists: `v<n>/_pq_m<m>/
    * cell=<id>/` holds (vec_id, codes, nrm) — the Faiss IVFPQ layout
    * as parquet, 16× smaller than the float vectors it mirrors, built
    * FROM THE INDEX CONTENTS so appended vectors are coded too. The
    * underscore prefix keeps the codes invisible to readers of the
    * base version directory (Hadoop hides `_`-prefixed paths), and the
    * codes die with their version: a [[retrain]] writes v+1 and the
    * next ensurePq codes the new assignment. Idempotent — the write's
    * own `_SUCCESS` is the built marker (a partial crashed write has
    * none and is overwritten). Returns (activeVersion, codesPath).
    */
  def ensurePq(spark: SparkSession, dir: String, m: Int = 16): (Int, String) = {
    val (v, _) = ensure(spark, dir)
    val path = s"${versionPath(dir, v)}/_pq_m$m"
    val f = fs(spark, dir)
    if (!f.exists(new Path(s"$path/_SUCCESS"))) {
      val books = Similarity.pqCodebooks(spark, dir, m)
      val idx = spark.read.parquet(versionPath(dir, v))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val dim = idx.select(size(col("v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      Similarity.pqEncoded(idx, books, m, dim / m)
        .select(col("vec_id"), col("codes"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    (v, path)
  }

  /** Per-cell occupancy of the active version — the retrain trigger.
    * Reads only the partition column (a columnar no-data scan), so the
    * health check costs ~nothing at any corpus size. `skew` =
    * max-cell / mean-cell occupancy; drifted appends push it up.
    */
  def cellStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(activePath(spark, dir))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .withColumn("skew",
        round(max(col("n")).over(Window.partitionBy()) /
          avg(col("n")).over(Window.partitionBy()), 4))
      .orderBy(col("cell"))

  /** RETRAIN: re-learn k ≈ √N centroids FROM THE INDEX CONTENTS
    * (source + everything appended since), reassign every vector, and
    * write the next version; the `_active` pointer flips only after
    * data + centroids are fully written. In-flight queries keep
    * reading the previous version (left on disk, like tombstoned lake
    * files, until the caller removes it once quiesced via
    * [[dropVersion]]). Returns the new active version.
    */
  def retrain(spark: SparkSession, dir: String): Int = {
    val (v, _) = ensure(spark, dir)
    VectorFunctions.register(spark)
    val idx = spark.read.parquet(versionPath(dir, v))
      .select(col("vec_id"), col("v"), col("label"))
    val k = cellCount(idx.count())
    val cents = Clustering.centroidsOf(spark, idx.select(col("vec_id"), col("v")), k)
    assignedTo(idx, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(versionPath(dir, v + 1))
    writeCentroids(spark, dir, v + 1, cents)
    writeMarker(spark, dir, v + 1)
    built.refresh(spark, dir)(_._1 == v + 1)((v + 1, cents))
    v + 1
  }

  /** Remove a superseded version's directory (the expire-snapshots
    * analog; only safe once readers of that version have quiesced).
    */
  def dropVersion(spark: SparkSession, dir: String, v: Int): Unit = {
    require(activeOnDisk(spark, dir).forall(_ != v), s"v$v is the active version")
    fs(spark, dir).delete(new Path(versionPath(dir, v)), true)
  }

  /** Top-5 cosine neighbors for a QUERY SET (a DataFrame with vec_id +
    * embedding columns — by default the standard vec_id < 10 set read
    * from the SOURCE table, never by scanning the index), reading only
    * the probed cell partitions of the active version. On a freshly
    * built index the ranking is identical to [[Similarity.annIvf]] at
    * the same nprobe and cell count — the spec asserts exact agreement
    * plus the PartitionFilters pruning.
    */
  def query(spark: SparkSession, dir: String, nprobe: Int = 3,
            querySet: Option[DataFrame] = None): DataFrame = {
    // one ensure: probe cells and data path from the same version
    // snapshot (see append)
    val (ver, cents) = ensure(spark, dir)
    val q = querySet.getOrElse(Tables.embeddings(spark, dir).filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .withColumn("qn", sqrt(call_function("graft_dot", col("qv"), col("qv"))))
      .withColumn("cell", explode(Similarity.topCellsExpr(cents)(col("qv"), nprobe)))
    // the probe set crosses the driver (|Q|×nprobe ints — control
    // plane) so it can prune as a LITERAL partition filter; a join
    // would read every cell and filter after the fact
    val probedCells = q.select(col("cell")).distinct().collect().map(_.getInt(0)).sorted
    val pruned = spark.read.parquet(versionPath(dir, ver))
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val cosc = call_function("graft_dot", col("qv"), col("v")) / (col("qn") * col("nrm"))
    // bounded-heap top-k with operator-emitted rank — same
    // de-windowed shape as the whole [[Similarity]] ANN family
    graft.plans.TopK.perGroupRanked(
        pruned.join(broadcast(q), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), cosc.as("cos")),
        keys = Seq("q_id"), score = "cos", tiebreak = "vec_id", k = 5)
      .select(col("q_id"), col("vec_id"), col("rank"), round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
}
