package graft.tools

import graft.{GraftSession, SparkEntry}

/** Ad-hoc per-query timing probe: run named contract queries N times
  * each against an sf dir and print every attempt — the
  * distinguishes-noise-from-regression tool behind BENCH triage
  * (`runMain graft.tools.TimeQuery <sfDir> <reps> <name> [name…]`).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession.get("graft-timequery")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timequery] $name: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
