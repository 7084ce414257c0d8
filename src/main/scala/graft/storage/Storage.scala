package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage abstraction isolating the only environment-dependent piece of the
  * reference (Iceberg-on-MinIO via Nessie; reference: spark-defaults.conf:15-31).
  *
  * The offline harness exercises [[ParquetWarehouse]]; production would bind
  * an Iceberg catalog profile with the same three calls. Both rely on
  * dynamic partition overwrite for idempotent same-date re-runs
  * (reference: breweries_bronze_processors.py:133,149-153 and the idempotency
  * test tests/unit/test_bronze.py:89-109).
  */
trait Storage {
  def read(table: String): DataFrame

  /** Overwrite ONLY the partitions present in `df` (dynamic overwrite). */
  def writePartitioned(df: DataFrame, table: String, partitionCol: String = "extraction_date"): Unit

  def exists(table: String): Boolean
}

/** Local parquet warehouse: one directory per table under `root`.
  *
  * At cluster scale the same code targets s3a:// or an Iceberg table; dynamic
  * partition overwrite keeps the write idempotent per run-date either way.
  */
final class ParquetWarehouse(spark: SparkSession, root: String) extends Storage {

  private def path(table: String) = s"$root/$table"

  override def read(table: String): DataFrame = spark.read.parquet(path(table))

  override def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(table))

  override def exists(table: String): Boolean =
    new java.io.File(path(table)).exists()
}

/** Bucketed-table support: pre-shuffle a table ONCE at write time so
  * every future equi-join/aggregation on the bucket key is shuffle-free.
  * The 100 TB pattern for repeatedly-joined fact tables: the exchange is
  * paid at ingest, not per query (`PlanSpec` asserts the bucket join plans
  * without an Exchange).
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}

/** Catalog-backed warehouse: managed tables in the session catalog,
  * written through the DataFrameWriterV2 API — the reference's table
  * lifecycle (createOrReplace with partitioning + table properties,
  * setup/create_tables_script.py:70-75) and its namespace hierarchy
  * (create_databases.sql:5-14) without the Iceberg/Nessie containers.
  * In production the same calls target an Iceberg catalog; only the
  * `using` format and catalog conf change.
  */
final class CatalogWarehouse(spark: SparkSession, namespace: String = "graft")
    extends Storage {

  spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $namespace")

  private def qualified(table: String) = s"$namespace.$table"

  override def read(table: String): DataFrame = spark.table(qualified(table))

  override def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    if (!exists(table)) {
      // V2 create-with-partitioning (reference S6; full createOrReplace
      // requires an Iceberg-style V2 catalog — the session catalog only
      // supports CREATE, which is all the first run needs)
      df.writeTo(qualified(table))
        .using("parquet")
        .partitionedBy(org.apache.spark.sql.functions.col(partitionCol))
        .create()
    } else {
      // dynamic overwrite of just the partitions present in df (S5).
      // The session catalog stores a V1 parquet table, so the re-run path
      // is V1 insertInto under partitionOverwriteMode=dynamic; on an
      // Iceberg catalog the same call site would be
      // `df.writeTo(t).overwritePartitions()`.
      // Conf, not a write option: V1 insertInto ignores the option on Spark 4.1.2.
      df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      df.write.mode(SaveMode.Overwrite).insertInto(qualified(table))
    }

  override def exists(table: String): Boolean =
    spark.catalog.tableExists(qualified(table))
}

/** Snapshot utilities over a [[GraftCatalog]] table. */
object Snapshots {

  /** CDC-style changelog between two snapshots: rows added and removed
    * going `fromVersion` → `toVersion`, each tagged with a `_change` column
    * (`insert` / `delete`; an update appears as delete + insert). Computed
    * with two `exceptAll` passes over the time-travel reads — bag
    * semantics, so duplicate rows diff correctly. */
  def diff(
      spark: SparkSession,
      table: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = spark.sql(s"SELECT * FROM $table VERSION AS OF $fromVersion")
    val to = spark.sql(s"SELECT * FROM $table VERSION AS OF $toVersion")
    to.exceptAll(from).withColumn("_change", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("_change", lit("delete")))
  }
}

/** The reference's FULL V2 table lifecycle against a [[GraftCatalog]]
  * (reference: setup/create_tables_script.py:70-75 — `createOrReplace` with
  * partitioning and table properties; re-runs `overwritePartitions()`).
  * On an Iceberg deployment only the catalog conf changes
  * ([[IcebergNessieProfile]]); every call here is catalog-agnostic V2 API.
  */
final class V2CatalogWarehouse(
    spark: SparkSession,
    catalog: String = "graftv2",
    namespace: String = "bronze",
    tableProperties: Map[String, String] = Map("write.format.default" -> "parquet"))
    extends Storage {

  spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.$namespace")

  private def qualified(table: String) = s"$catalog.$namespace.$table"

  override def read(table: String): DataFrame = spark.table(qualified(table))

  override def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    if (!exists(table)) {
      val w = df.writeTo(qualified(table))
        .using("parquet")
        .partitionedBy(org.apache.spark.sql.functions.col(partitionCol))
      tableProperties.foldLeft(w) { case (acc, (k, v)) => acc.tableProperty(k, v) }
        .createOrReplace()
    } else {
      // replace ONLY the partitions present in df (S5 idempotency) — the
      // V2 spelling of dynamic partition overwrite
      df.writeTo(qualified(table)).overwritePartitions()
    }

  override def exists(table: String): Boolean =
    spark.catalog.tableExists(qualified(table))
  /** Keyed upsert (MERGE semantics: update matching keys, insert the
    * rest): current live rows not matched by `updates` survive, every
    * `updates` row lands. Read-modify-write through one truncating V2
    * write — each upsert is one new snapshot, so the pre-image stays
    * time-travelable. The anti-join shuffles by key only; at dimension
    * scale the updates side broadcasts. */
  def upsert(table: String, updates: DataFrame, keyCol: String): Unit = {
    val current = read(table)
    val next = current.join(updates.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(updates)
    // materialize before the truncating write clears the source snapshot
    // (same-table read-write hazard)
    val pinned = next.localCheckpoint(true)
    pinned.writeTo(qualified(table)).overwrite(org.apache.spark.sql.functions.lit(true))
  }
}
