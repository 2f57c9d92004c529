package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared spec base: one session per suite, temp dirs deleted when the
  * suite ends, plan-inspection helpers.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory named `prefix…`, deleted with everything
    * under it when the suite's run completes.
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override def run(testName: Option[String], args: Args): Status = {
    val status = super.run(testName, args)
    status.whenCompleted { _ =>
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    }
    status
  }

  def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Formatted explain including PushedFilters / ReadSchema details. */
  def formattedPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution.ExplainMode
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }
}
