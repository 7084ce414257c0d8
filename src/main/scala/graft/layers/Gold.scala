package graft.layers

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold layer: brewery counts by (type, country, state, city, date).
  *
  * Reference semantics: src/processors/breweries_gold_processors.py:15-56 —
  * partition filter, 5-key grouped aggregate with count(*) and
  * size(collect_set(id)), final 7-column projection.
  *
  * Scale note (SURVEY.md §7.4-1): `collect_set` holds the full per-group id
  * set in aggregation state — fine at 10k rows, pathological at 100 TB. The
  * default here is the scalable `count(distinct id)` (identical result,
  * bounded state via Spark's two-phase distinct-aggregate expansion);
  * `aggregateExact` keeps the literal reference construct for parity tests,
  * and `aggregateApprox` gives the HLL single-pass variant for when a ~1%
  * error is acceptable at extreme scale.
  */
object Gold {

  private val keys =
    Seq(col("brewery_type"), col("country"), col("state"), col("city"), col("extraction_date"))

  private def finish(agg: DataFrame): DataFrame =
    agg.select(
      col("brewery_type"), col("country"), col("state"), col("city"),
      col("brewery_count"), col("unique_brewery_count"), col("extraction_date"))

  private def filtered(silver: DataFrame, runDate: LocalDate): DataFrame =
    silver.filter(col("extraction_date") === lit(java.sql.Date.valueOf(runDate)))

  /** Scalable default: count(distinct id) — same value, bounded state. */
  def aggregate(silver: DataFrame, runDate: LocalDate): DataFrame =
    finish(filtered(silver, runDate)
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).alias("brewery_count"),
        countDistinct(col("id")).alias("unique_brewery_count")))

  /** Literal reference construct: size(collect_set(id)) (gold:36,43). */
  def aggregateExact(silver: DataFrame, runDate: LocalDate): DataFrame =
    finish(filtered(silver, runDate)
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).alias("brewery_count"),
        size(collect_set(col("id"))).cast("long").alias("unique_brewery_count")))

  /** HLL variant for 100 TB-scale dashboards (deliberate deviation, ~1% rsd). */
  def aggregateApprox(silver: DataFrame, runDate: LocalDate): DataFrame =
    finish(filtered(silver, runDate)
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).alias("brewery_count"),
        approx_count_distinct(col("id")).alias("unique_brewery_count")))

  /** Pipeline total: sum(brewery_count) (gold:55), 0 over no rows. The one
    * definition behind [[total]] and the Runner's observed gold total. */
  val totalColumn: Column = coalesce(sum(col("brewery_count")), lit(0L)).alias("total")

  /** Pipeline-total check over a gold DataFrame. */
  def total(gold: DataFrame): Long =
    gold.agg(totalColumn).first().getLong(0)
}
