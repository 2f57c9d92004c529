package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level bloom index for point lookups on a high-cardinality
  * column — the skip-index a needle query (trace_id, user id, doc id)
  * needs on a lake whose directory partitioning can't encode the key
  * (reference README.md schema: `trace_id` is a column of every log
  * record, but the lake partitions by service/time).
  *
  * One bloom filter PER REGISTERED DATA FILE over `xxhash64(column)`,
  * stored as a parquet sidecar under `<root>/_index/<column>`
  * (underscore prefix: invisible to data scans, ignored by
  * [[LogCompact]] maintenance). A lookup probes the sidecar — one row
  * per FILE, not per data row — and scans only the files whose bloom
  * might contain a wanted key. At 100 TB the sidecar is MBs for
  * millions of files, the probe is a metadata-sized job, and the data
  * scan touches ~the files that actually hold the key (plus the bloom's
  * ~1% false-positive files), instead of the whole lake.
  *
  * Soundness: a file with no index entry (registered after the last
  * [[build]]) always survives pruning, and the row-level filter applies
  * on top of file pruning — the index can only skip files it has
  * POSITIVE knowledge about, so results never depend on index
  * freshness. [[build]] is incremental: it reads only files not yet
  * indexed, so steady-state cost tracks ingest rate, not lake size.
  */
object LakeIndex {

  private def indexPath(root: String, column: String) = s"$root/_index/$column"

  private def hasIndex(spark: SparkSession, root: String, column: String): Boolean = {
    val p = new Path(indexPath(root, column))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Index every registered-but-unindexed file; returns how many files
    * were indexed. `expectedItemsPerFile` sizes each bloom (10 bits per
    * expected item ≈ 1% false positives) — the default matches the
    * writer's file-size cap, so a full file stays within spec.
    */
  /** Registered-but-unindexed file paths for sidecar `idxName` — this
    * round's fresh files only, bounded by ingest rate (the same
    * control-plane shape as LogSync.sync's fresh-file list).
    */
  private def unindexedPaths(spark: SparkSession, root: String,
                             idxName: String): Array[String] = {
    import spark.implicits._
    val registered = LogSync.registeredDataPaths(spark, root)
    val already =
      if (hasIndex(spark, root, idxName))
        // sidecar registries are file-count-cardinality and mutate only
        // by appending parts — served driver-resident under the same
        // listing-signature cache as the manifests (LogSync.servedRegistry)
        LogSync.servedRegistry(spark, indexPath(root, idxName))(
          spark.read.parquet(indexPath(root, idxName))).select(col("path"))
      else registered.limit(0)
    registered.join(already, Seq("path"), "left_anti").as[String].collect()
  }

  /** Append `(path, bloom)` rows for `todo` under sidecar `idxName`;
    * files whose scan produced no bloom row (empty file) get a null
    * bloom, which the keep-predicates treat as "might contain" — sound.
    */
  private def writeBlooms(spark: SparkSession, root: String, idxName: String,
                          todo: Array[String], blooms: DataFrame): Unit = {
    import spark.implicits._
    todo.toSeq.toDF("path")
      .join(blooms, LogSync.registeredKey(col("path")) === col("norm"), "left")
      .select(col("path"), col("bloom"))
      .write.mode(SaveMode.Append).parquet(indexPath(root, idxName))
  }

  def build(spark: SparkSession, root: String, column: String,
            expectedItemsPerFile: Long = LogWriter.DefaultMaxRecordsPerFile): Int = {
    graft.functions.VectorFunctions.register(spark)
    val todo = unindexedPaths(spark, root, column)
    if (todo.isEmpty) return 0
    // grouped by layout generation (readPathsGrouped): an index built
    // on a layout-flipped lake reads each generation's files under its
    // own shape; the file identity materializes per group
    val blooms = LogSync.readPathsGrouped(spark, root, todo.toSeq, identity,
        _.select(LogSync.normPath(col("_metadata.file_path")).as("norm"),
          col(column)))
      .groupBy(col("norm"))
      .agg(expr(s"graft_bloom(xxhash64($column), $expectedItemsPerFile)").as("bloom"))
    writeBlooms(spark, root, column, todo, blooms)
    todo.length
  }

  /** The bloom keep-predicate over the (manifest LEFT JOIN index)
    * relation — shared by the read path and [[pruneCounts]] so the spec
    * can never certify a predicate the scan doesn't use. Hashes are
    * computed by the same `xxhash64` the index was built with; `values`
    * must therefore have the column's type.
    */
  private def bloomKeep(values: Seq[Column]): Column =
    col("bloom").isNull ||
      call_function("graft_bloom_any", col("bloom"), array(values.map(xxhash64(_)): _*))

  private def keepPaths(spark: SparkSession, root: String, column: String,
                        values: Seq[Column]): DataFrame = {
    require(hasIndex(spark, root, column),
      s"no $column index under $root — run LakeIndex.build first")
    val manifest = LogSync.registeredDataPaths(spark, root)
    val idx = LogSync.servedRegistry(spark, indexPath(root, column))(
      spark.read.parquet(indexPath(root, column)))
    manifest.join(idx, Seq("path"), "left").filter(bloomKeep(values))
  }

  /** The GENERIC per-column handle: ensure `column`'s sidecar covers
    * every registered file ([[build]] is incremental — a no-op when
    * current), and return a point-lookup function over it. ANY
    * high-cardinality equality column gets the needle treatment this
    * way — trace_id and span_id on the OTel schema, doc/user ids on
    * the documents tables — one sidecar per column, each pruned
    * through the same [[bloomKeep]] predicate the spec asserts
    * kept<total on. Calling the handle per query keeps lookups fresh
    * at ingest-rate build cost.
    */
  def on(spark: SparkSession, root: String, column: String,
         expectedItemsPerFile: Long = LogWriter.DefaultMaxRecordsPerFile
        ): Seq[String] => DataFrame = {
    build(spark, root, column, expectedItemsPerFile)
    values => lookup(spark, root, column, values)
  }

  /** Registered rows whose `column` is one of `values` (literals),
    * scanning only the files whose bloom might contain one of them —
    * unindexed files are kept (soundness), and the row filter applies
    * on top, so this equals `LogSync.table(...).filter(column isin
    * values)` exactly, just cheaper.
    */
  def lookup(spark: SparkSession, root: String, column: String,
             values: Seq[String]): DataFrame = {
    val lits = values.map(lit(_))
    val paths = keepPaths(spark, root, column, lits)
      .select(LogSync.normPath(col("path")).as("__registered_path"))
    // the shared keep-set read: MOR deletes (position AND equality)
    // apply — a needle lookup must not resurrect a deleteMor'd/
    // deleteEq'd row (the GDPR-redaction hole a bloom-routed side
    // door would otherwise open) — and on an EVOLVED lake the alias
    // fold applies too, so a lookup by the renamed column matches
    // pre-rename files (whose bloom sidecar moved with the name:
    // value hashes are rename-invariant)
    LogSync.tableForPaths(spark, root, paths,
        deletes = LogSync.deleteEntries(spark, root))
      .filter(col(column).isin(values: _*))
  }

  /** (files the lookup would scan, total registered files) — the
    * observable for pruning assertions and capacity planning.
    */
  def pruneCounts(spark: SparkSession, root: String, column: String,
                  values: Seq[String]): (Long, Long) = {
    val kept = keepPaths(spark, root, column, values.map(lit(_))).count()
    (kept, LogSync.registeredDataPaths(spark, root).count())
  }

  // ---- full-text token index -------------------------------------------

  /** Lowercased alphanumeric tokens of `c` — the ONE tokenizer shared by
    * the index build (file side) and [[grep]]'s row predicate. Both
    * sides must tokenize identically: a mismatch would let bloom pruning
    * skip a file whose rows the row predicate matches — an unsound
    * index, not a slow one.
    */
  private[graft] def tokensOf(c: Column): Column =
    array_distinct(filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0))

  private def tokIdxName(column: String) = s"tok_$column"

  /** Keyword search skip-index: one bloom PER REGISTERED FILE over the
    * DISTINCT TOKENS of `column` — the full-text analog of [[build]].
    * A lake laid out by service/time cannot prune a "which logs mention
    * X" search; at 100 TB that search otherwise scans everything. The
    * sidecar row count is FILE-count-sized and each bloom is sized to a
    * file's token VOCABULARY (tokens repeat heavily across rows), so
    * the index stays MBs where the data is TBs. Same incremental /
    * unindexed-files-survive contract as [[build]].
    */
  def buildTokens(spark: SparkSession, root: String, column: String,
                  expectedTokensPerFile: Long = 1L << 16): Int = {
    graft.functions.VectorFunctions.register(spark)
    val todo = unindexedPaths(spark, root, tokIdxName(column))
    if (todo.isEmpty) return 0
    // per-row array_distinct before the explode keeps the shuffled
    // row count at (rows × per-row vocabulary), not token instances;
    // generation-grouped like [[build]]
    val blooms = LogSync.readPathsGrouped(spark, root, todo.toSeq, identity,
        _.select(LogSync.normPath(col("_metadata.file_path")).as("norm"),
          explode(tokensOf(col(column))).as("tok")))
      .groupBy(col("norm"))
      .agg(expr(s"graft_bloom(xxhash64(tok), $expectedTokensPerFile)").as("bloom"))
    writeBlooms(spark, root, tokIdxName(column), todo, blooms)
    todo.length
  }

  /** Files that might contain EVERY term: the AND of per-term bloom
    * probes (vs [[bloomKeep]]'s OR over point-lookup keys) — a keyword
    * search needs all terms present, so each term prunes independently
    * and the survivor set is the intersection. Unindexed files always
    * survive (soundness).
    */
  private def tokKeepPaths(spark: SparkSession, root: String, column: String,
                           terms: Seq[String]): DataFrame = {
    require(hasIndex(spark, root, tokIdxName(column)),
      s"no token index on $column under $root — run LakeIndex.buildTokens first")
    val manifest = LogSync.registeredDataPaths(spark, root)
    val idx = LogSync.servedRegistry(spark, indexPath(root, tokIdxName(column)))(
      spark.read.parquet(indexPath(root, tokIdxName(column))))
    val keep = terms
      .map(t => col("bloom").isNull ||
        call_function("graft_bloom_any", col("bloom"), array(xxhash64(lit(t)))))
      .reduce(_ && _)
    manifest.join(idx, Seq("path"), "left").filter(keep)
  }

  /** Registered rows whose `column` contains ALL `terms` as tokens,
    * scanning only bloom-positive (or unindexed) files. Equals
    * `LogSync.table(root).filter(every term ∈ tokensOf(column))`
    * exactly — the index only skips files it has positive knowledge
    * about, and the row-level token predicate applies on top.
    */
  def grep(spark: SparkSession, root: String, column: String,
           terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val norm = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(norm.nonEmpty && norm.forall(_.matches("[a-z0-9]+")),
      s"grep terms must be non-empty [a-z0-9]+ tokens, got $terms")
    // Unlike [[lookup]] (whose literal isin prunes row groups via
    // parquet stats even on a full-lake listing), the token predicate
    // cannot push down — so the survivor PATHS feed the reader
    // directly and skipped files are never opened. The collect is a
    // file-count-sized control-plane crossing, the same bound as
    // [[build]]'s todo list and LogSync.sync's fresh-file diff.
    val kept = tokKeepPaths(spark, root, column, norm)
      .select(col("path")).as[String].collect()
    val rowKeep = norm.map(t => array_contains(tokensOf(col(column)), t)).reduce(_ && _)
    if (kept.isEmpty)
      spark.read.option("basePath", root).parquet(root).filter(lit(false))
    else {
      // MOR deletes apply here too (see [[lookup]]); the read stays
      // EXPLICIT-PATH (the token predicate can't push down, so the
      // pruning lives in the path list), with the evolution fold on
      // top when the lake has a schema log — grep by the renamed
      // column must match pre-rename files
      val evo = LakeEvolve.state(spark, root)
      val entries = LogSync.deleteEntries(spark, root)
      // generation-grouped explicit read (readPathsGrouped): a grep
      // over a layout-flipped lake reads each generation's survivor
      // files under its own shape, `_metadata` identities per group
      val raw0 = LogSync.readPathsGrouped(spark, root, kept.toSeq,
        r => evo match {
          case Some(st) => r.schema(LakeEvolve.requestSchema(spark, root, st))
          case None => r
        },
        df => {
          val s = df.withColumn("__src",
            LogSync.normPath(col("_metadata.file_path")))
          if (entries.exists(!_.isEq))
            s.withColumn("__pos", col("_metadata.row_index"))
          else s
        })
      val raw = evo match {
        case Some(st) => LakeEvolve.project(raw0, st)
        case None => raw0
      }
      LogSync.applyDeletes(spark, raw, root, entries,
          currentName = evo.map(st => (n: String) => st.currentName(n))
            .getOrElse(identity[String] _))
        .drop("__src").filter(rowKeep)
    }
  }

  /** (files the grep would scan, total registered files). */
  def grepPruneCounts(spark: SparkSession, root: String, column: String,
                      terms: Seq[String]): (Long, Long) = {
    val kept = tokKeepPaths(spark, root, column,
      terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct).count()
    (kept, LogSync.registeredDataPaths(spark, root).count())
  }
}
