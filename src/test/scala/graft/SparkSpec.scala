package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — mirrors the reference's test Spark
  * options (shuffle.partitions=2-ish small, AQE determinism not required
  * here) per SURVEY.md §5. One session per JVM; suites share it.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.shared

  /** The executed plans of the executions `body` completes on [[spark]],
    * in order. */
  def executedPlans(body: => Unit): Seq[String] =
    graft.scenarios.Scenario.executedPlans(spark)(body)
}

object SparkSpec {
  lazy val shared: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh-catalog").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Engine.tune(s)
  }
}
