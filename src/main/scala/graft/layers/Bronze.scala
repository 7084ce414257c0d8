package graft.layers

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.Shims

import graft.model.Schemas

/** Bronze layer: wrap raw JSON records with the run-date partition key.
  *
  * Reference semantics: src/processors/breweries_bronze_processors.py:139-146
  * — each API record is one JSON string; schema is exactly
  * (raw_json STRING NOT NULL, extraction_date DATE NOT NULL).
  *
  * Pure function of (records, date): no table names, no HTTP — the fetcher is
  * injected upstream (ingest.RecordFetcher), which fixes the reference's
  * monkey-patch-based testability (SURVEY.md §5).
  */
object Bronze {

  def build(spark: SparkSession, records: Seq[String], runDate: LocalDate): DataFrame = {
    val d = Date.valueOf(runDate)
    val rows = records.map(j => Row(j, d))
    // exact plan statistics, counted on the driver: a LogicalRDD otherwise
    // estimates spark.sql.defaultSizeInBytes, and the bronze write could
    // never plan as the one task its size fits (graft.storage.OneTaskWrite)
    Shims.withStats(
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, math.min(records.size, 32))),
        Schemas.bronze),
      records.size, records.iterator.map(_.getBytes(UTF_8).length.toLong).sum)
  }
}
