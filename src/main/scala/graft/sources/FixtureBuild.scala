package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The marker-idempotent /tmp fixture scaffold every memoized lake
  * builder shares (log/trace/metric ingest lakes, the Iceberg
  * certification tables): one instance per fixture, one build per key,
  * one directory per key hash, rebuilt only when the `_built` marker
  * (underscore: invisible to data scans) is absent — so a pattern fix
  * (naming, marker semantics) lives in ONE place instead of a copy per
  * builder. The marker skips the rebuild across JVMs; the in-process
  * map skips the FS check across queries.
  *
  * {{{
  * private val dmlLake = FixtureBuild("graft_lakedml_v1")
  * def dmlRoot(spark: SparkSession, dir: String): String =
  *   dmlLake(spark, dir) { root => /* write the lake under root */ }
  * }}}
  */
final class FixtureBuild private (prefix: String) {
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The fixture root for `key`, built by `build(root)` unless a
    * previous build (this JVM or an earlier one) left its marker.
    */
  def apply(spark: SparkSession, key: String)(build: String => Unit): String =
    roots.computeIfAbsent(key, _ => {
      val root = FixtureBuild.rootFor(prefix, key)
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new Path(s"$root/_built")
      if (!fs.exists(marker)) {
        fs.delete(rootPath, true)
        build(root)
        fs.create(marker).close()
      }
      root
    })
}

object FixtureBuild {
  /** Bump when any memoized builder's output closure changes shape —
    * part of the directory key, so stale fixtures from an older build
    * rebuild instead of silently serving the old lake.
    */
  // v12: schema-log format v2 (per-entry timestamps + schemas,
  // schema0 baseline) and log-first evolution commits — evolved-lake
  // fixtures built under v11 carry legacy logs that would mask the
  // snapshot-schema semantics the round-14 queries certify
  private val BuilderVersion = "v12"

  def apply(prefix: String): FixtureBuild = new FixtureBuild(prefix)

  private def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
  }

  /** Full content hash (not 32-bit hashCode — collisions between sf
    * dirs would cross-serve lakes) under a per-user subdir, so a
    * foreign user's marker can't shadow ours on a shared /tmp.
    */
  private[graft] def rootFor(prefix: String, key: String): String = {
    val user = sys.props.getOrElse("user.name", "unknown")
    s"/tmp/graft_$user/${prefix}_${sha256Hex(s"$BuilderVersion|$prefix|$key")}"
  }
}
