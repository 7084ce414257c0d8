package graft

import org.apache.spark.sql.SparkSession

/** Session factory + runtime tuning shared by every entry point.
  *
  * Mirrors the execution-engine configuration the reference relies on
  * (reference: spark-defaults.conf:29-31 — AQE on, post-shuffle coalescing,
  * Kryo) plus the dynamic-partition-overwrite idempotency contract set in
  * every reference processor (breweries_bronze_processors.py:133).
  *
  * Scale notes (100 TB / 1000-executor design intent):
  *  - shuffle.partitions here defaults to the local core count; on a real
  *    cluster AQE coalescing makes the initial number a ceiling, so a large
  *    value (2–4x total cores) plus AQE is the production setting.
  *  - ANSI mode is disabled: the reference is PySpark 3.5 (ANSI off), and its
  *    null-tolerant cast semantics (bad double string -> null, missing JSON
  *    path -> null) are load-bearing for Silver-layer cleaning.
  */
object Engine {

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession =
    tune(SparkSession
      .builder()
      .master(master)
      .appName(appName)
      // native vec_dot/vec_cosine resolve in SQL for any session built here
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  /** The engine's session semantics, set once per session where it is
    * built or adopted: [[session]], the Verify/Bench/Scenarios mains, the
    * driver's session in [[SparkEntry.entry]] and a pipeline
    * [[pipeline.Runner]]'s. Queries, operators and readers never call it,
    * so two queries sharing a session never write conf under each other.
    * Idempotent. */
  def tune(spark: SparkSession): SparkSession = {
    // Reference parity: PySpark 3.5 semantics — failed casts yield null.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // Reference parity: idempotent same-date re-runs replace only the
    // run-date partition (breweries_bronze_processors.py:133).
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // The driver testdata's events.ts has shipped as both TIMESTAMP(NANOS)
    // — which Spark's reader rejects by default; this conf surfaces it as
    // nanos-since-epoch LONG — and TIMESTAMP(MICROS, isAdjustedToUTC=0),
    // which reads as TIMESTAMP_NTZ. Parity.eventsUs normalizes either
    // shape to epoch-micros where event time matters.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Storage-partitioned joins: honor the KeyGroupedPartitioning that
    // GraftCatalog partitioned-table scans report, so equi-joins between
    // co-partitioned tables plan with no shuffle; push-part-values keeps
    // that true when one side is missing partition values. No-ops for
    // scans that don't report a partitioning.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // streaming column pruning for graft-table sources — sessions built
    // here get it via GraftExtensions; externally-created sessions
    // (tests, Verify/Bench per the driver contract) get the same rule
    // through experimental.extraOptimizations. That batch runs after
    // Spark's V2Writes has planned each write's distribution, so it is
    // also where a catalog write whose input fits one advisory partition
    // trades its rebalance shuffle for one task (graft.storage.OneTaskWrite)
    val extra = spark.experimental.extraOptimizations
    val missing = Seq(graft.sources.PruneGraftStreamColumns, graft.storage.OneTaskWrite)
      .filterNot(extra.contains)
    if (missing.nonEmpty) spark.experimental.extraOptimizations = extra ++ missing
    spark
  }
}
