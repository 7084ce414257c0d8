package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ingest.RecordFetcher
import graft.layers.{Bronze, Gold, Silver}
import graft.storage.Storage

/** Batch orchestrator replacing the reference's Airflow DAG chain
  * (reference: dags/01..03 with ExternalTaskSensor gating; SURVEY.md §1.1) —
  * bronze -> silver -> gold in dependency order for one run-date, each layer
  * written with dynamic partition overwrite so same-date re-runs are
  * idempotent.
  *
  * Returns the run-date's per-layer row counts and gold total, as the
  * reference logs them (bronze:155, silver:76, gold:54-55). Each count is an
  * observed metric of the layer's own write (`Dataset.observe`), so the
  * report costs no job of its own and no pass over earlier run-dates.
  */
final class Runner(spark: SparkSession, storage: Storage, fetcher: RecordFetcher) {

  // the session the Runner adopts gets the engine's semantics once: ANSI
  // off for Silver's null-tolerant casts, dynamic partition overwrite
  graft.Engine.tune(spark)

  final case class RunReport(bronzeRows: Long, silverRows: Long, goldRows: Long, totalCount: Long)

  def run(runDate: LocalDate): RunReport = {
    val bronze = write(Bronze.build(spark, fetcher.fetch(), runDate), "bronze")
    val silver = write(Silver.transform(storage.read("bronze"), runDate), "silver")
    val gold = write(Gold.aggregate(storage.read("silver"), runDate), "gold", Gold.totalColumn)
    RunReport(bronze("rows"), silver("rows"), gold("rows"), gold("total"))
  }

  /** Writes `df` to `table` and returns the row count plus `metrics`, as
    * observed on that write's own execution. `Observation.get` blocks
    * until the write publishes them; every `Storage` executes the
    * DataFrame it is given, so it does. */
  private def write(df: DataFrame, table: String, metrics: Column*): Map[String, Long] = {
    val obs = new Observation()
    storage.writePartitioned(df.observe(obs, count(lit(1)).alias("rows"), metrics: _*), table)
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }
}
