package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dev pre-flight: dump a NAMED SUBSET of contract queries (all when no
  * names given) + their oracle SQL, for a fast
  * `scripts/check_oracle.py` loop while authoring a new oracle —
  * the full [[graft.Verify]] run is the commit gate, this is the
  * edit-loop tool.
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val spark = GraftSession.get("graft-verify-subset")
    new java.io.File(outDir).mkdirs()
    val sel = SparkEntry.queries.filter { case (k, _) => names.isEmpty || names(k) }
    sel.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify-subset] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => sel.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
