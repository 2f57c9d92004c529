package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlBridge

/** Counts the Spark jobs a block of driver code starts: `Bench`'s
  * per-query construction jobs, and the specs that pin a job count.
  */
object SparkJobs {

  private val Prop = "graft.jobs.probe"

  /** Runs `f` and returns its result with the jobs it started on this
    * thread, each as its stages' operator scopes (`a/b | c`). The jobs
    * are tagged by a thread-local property, so the caller's job group
    * and jobs of other threads are left alone.
    */
  def during[A](spark: SparkSession)(f: => A): (A, Seq[String]) = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Prop) == tag)
          seen.add(e.stageInfos.map(_.rddInfos.flatMap(_.scope).map(_.name).distinct
            .mkString("/")).mkString(" | "))
    }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Prop)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Prop, tag)
    try {
      val out = f
      GraftSqlBridge.drainListeners(sc)
      (out, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Prop, outer)
      sc.removeSparkListener(listener)
    }
  }
}
