package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Local runs use `local[N]` (single JVM) but every knob is chosen so the
  * same plans scale to a multi-executor cluster: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the parallelism rather than the 200 default, and
  * UTC session time so results are timezone-stable across engines.
  */
object GraftSession {
  /** Every graft entry point builds its session here.
    *
    * The two codegen settings make each plan compile once per JVM.
    * `spark.sql.codegen.cache.maxEntries` sizes the JVM-wide LRU of
    * whole-stage-generated classes (Spark's default: 100). graft's
    * training-data operators rerun the same plans once per shard or
    * snapshot, and their working set is larger than 100: one
    * dedup/curate/pack chain (`Dedup.exact` through
    * `Dedup.embeddingPairs`, 7 calls) needs ~144 classes, so an LRU of
    * 100 fed that cycle never hits and every shard recompiled all of
    * them with Janino (1,046 compiles in one `curate_batch` benchmark
    * run on 4 cores, 156 with these settings). A `Bench` pass cycles
    * through far more than 100 classes too. The cap stays bounded
    * because plans that inline per-request literals (the ingest panels'
    * time bounds, for one) compile once per new value, and an unbounded
    * cache would grow metaspace for as long as a server runs.
    *
    * The cache key is the generated source, and by default that source
    * names the class after its whole-stage codegen id. AQE assigns
    * those ids as it re-plans, and that follows the order in which the
    * query stages finish, so the same plan on the same data could come
    * back under another id and compile again (seen on
    * `Dedup.ngramJaccard`); `useIdInClassName=false` leaves the id out.
    * A stack trace then names `GeneratedIterator`, not the stage.
    *
    * `maxEntries` is a static conf: Spark reads it once per JVM, when
    * the first code is generated. A session built outside this factory
    * before that fixes the cache size for the whole JVM.
    */
  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // pandas-written parquet uses TIMESTAMP(NANOS): read as long, convert in Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // trust sortBy order of one-file-per-bucket tables (off by
      // default since SPARK-28595 because the file-count check costs
      // planning time): graft's bucketed writes repartition on the
      // bucket key precisely to guarantee one file per bucket, which
      // lets the recurring fact join run with neither Exchange nor Sort
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
}
