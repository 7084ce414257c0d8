package graft
package scenarios

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.storage.GraftCatalog
import graft.streaming.Streams
import Scenario.time

/** Streaming sinks and label-delta maintenance ([[streaming.Streams]]). */
object StreamingScenarios {

  /** Feeds `slices` through `input` one micro-batch at a time into the
    * started query `q`: total wall seconds and per-batch latencies. */
  private def drive[A](input: MemoryStream[A], q: StreamingQuery,
      slices: Seq[Array[A]]): (Double, Seq[Double]) = {
    val lat = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    try slices.foreach { s =>
      lat += time { input.addData(s.toIndexedSeq); q.processAllAvailable() }._1
    } finally q.stop()
    ((System.nanoTime() - t0) / 1e9, lat.result())
  }

  private def batchFields(wall: Double, lat: Seq[Double]): Seq[(String, Any)] =
    Seq("wall_s" -> wall, "median_batch_s" -> lat.sorted.apply(lat.size / 2),
      "max_batch_s" -> lat.max)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  val all: Seq[Scenario] = Seq(
    /* Streaming-sink throughput (SCALE.md §streaming-throughput): the
     * data directory's lineitem rows through two catalog sinks in
     * MemoryStream micro-batches — [[Streams.sinkToCatalog]], the
     * exactly-once append path, and [[Streams.sinkToCatalogWap]], per-batch
     * write–audit–publish with a CROSS-BATCH uniqueness audit whose cost
     * grows with the table — then its documents through
     * [[Streams.sinkWithCorpusMaintenance]], the heaviest sink (gate,
     * bloom exact-dedup, band probe, incremental component fold and four
     * state-table commits per batch). */
    Scenario("stream", Seq("10"), (spark, sfDir, args) => {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val batches = args(0).toInt
      // unique key per lineitem row (linenumber <= 7), payload = comment
      val rows: Array[(Long, String)] = queries.Parity.t(spark, sfDir, "lineitem")
        .selectExpr("l_orderkey * 10 + l_linenumber AS k",
          "concat(l_returnflag, l_linestatus, '-', l_shipdate, '-', l_extendedprice) AS payload")
        .as[(Long, String)].collect()
      val slices = rows.grouped(math.max(1, rows.length / batches)).toSeq

      def run(cat: String)(mk: DataFrame => StreamingQuery): Seq[(String, Any)] = {
        GraftCatalog.registerTemp(spark, cat)
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.s")
        spark.sql(s"CREATE TABLE $cat.s.t (k BIGINT, payload STRING) USING parquet")
        spark.sql(s"CREATE TABLE $cat.s.q (k BIGINT, payload STRING) USING parquet")
        val input = MemoryStream[(Long, String)]
        val (wall, lat) = drive(input, mk(input.toDF().toDF("k", "payload")), slices)
        val n = spark.table(s"$cat.s.t").count()
        Seq("rows" -> n, "rows_per_s" -> n / wall) ++ batchFields(wall, lat)
      }

      val exactlyOnce = run("sbexactly_once") { df =>
        Streams.sinkToCatalog(df, "sbexactly_once.s.t", tempDir("sb-ck-"))
      }
      val wap = run("sbwap_audited") { df =>
        val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "t")
        Streams.sinkToCatalogWap(df,
          spark.sessionState.catalogManager.catalog("sbwap_audited")
            .asInstanceOf[GraftCatalog], ident,
          "sbwap_audited.s.t", "sbwap_audited.s.q", tempDir("sb-ck-"),
          Seq(graft.quality.Expectations.Unique("k")))
      }

      GraftCatalog.registerTemp(spark, "sbcorp")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS sbcorp.s")
      Streams.bootstrapCorpusState(spark, "sbcorp.s.docs", "doc_id", "text", "lang")
      val docs: Array[(Long, String, String)] = queries.Parity.t(spark, sfDir, "documents")
        .selectExpr("doc_id", "text", "lang")
        .as[(Long, String, String)].collect()
      val input = MemoryStream[(Long, String, String)]
      val q = Streams.sinkWithCorpusMaintenance(
        input.toDF().toDF("doc_id", "text", "lang"),
        "sbcorp.s.docs", tempDir("sb-ck-"), "doc_id", "text", "lang")
      val (wall, lat) = drive(input, q,
        docs.grouped(math.max(1, docs.length / batches)).toSeq)
      val corpus = Seq("docs" -> docs.length,
        "survivors" -> spark.table("sbcorp.s.docs_gated").count(),
        "docs_per_s" -> docs.length / wall) ++ batchFields(wall, lat)
      Seq("batches" -> slices.length, "exactly_once" -> exactlyOnce,
        "wap_audited" -> wap, "corpus_maintenance" -> corpus)
    }),

    /* [[Streams.squashLabels]]: the label-delta table is APPEND-only, so
     * without maintenance the per-batch [[Streams.latestLabels]] read
     * replays every delta ever appended — O(batches × deltas) — while a
     * squash cadence keeps it O(ids). Appends `batches` delta batches of
     * `perBatch` rows over an `ids`-sized id space twice, never squashing
     * and squashing every batch, timing the resolve at checkpoints. */
    Scenario("label_squash", Seq("48", "250000", "2000000"), (spark, _, args) => {
      val batches = args(0).toInt
      val perBatch = args(1).toLong
      val ids = args(2).toLong
      GraftCatalog.registerTemp(spark, "lsb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS lsb.s")

      def seed(prefix: String): Unit = {
        import org.apache.spark.sql.types._
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("id", LongType),
              StructField("cluster_id", LongType), StructField("seq", LongType))))
          .writeTo(s"${prefix}_labels").using("parquet").createOrReplace()
      }
      // batch b relabels a sliding window of the id space: overlap with
      // earlier batches (relabels) plus fresh ids — the streaming sink's
      // delta shape
      def appendBatch(prefix: String, b: Int): Unit =
        spark.range(perBatch).select(
            ((col("id") + lit(b.toLong * perBatch * 7)) % ids).alias("id"),
            (col("id") % 99991).alias("cluster_id"),
            lit(b.toLong).alias("seq"))
          .writeTo(s"${prefix}_labels").append()

      val checkpoints = (1 to batches).filter(b => b % 8 == 0 || b == batches).distinct
      def curve(squash: Boolean): Seq[Seq[(String, Any)]] = {
        val prefix = if (squash) "lsb.s.sq" else "lsb.s.raw"
        seed(prefix)
        (0 until batches).flatMap { b =>
          appendBatch(prefix, b)
          if (squash) Streams.squashLabels(spark, prefix)
          if (checkpoints.contains(b + 1)) {
            spark.catalog.refreshTable(s"${prefix}_labels")
            val rows = spark.table(s"${prefix}_labels").count()
            val sec = time(Streams.latestLabels(spark, prefix).agg(count(lit(1))).head())._1
            Some(Seq("batch" -> (b + 1), "rows" -> rows, "resolve_sec" -> sec))
          } else None
        }
      }
      Seq("batches" -> batches, "per_batch" -> perBatch, "ids" -> ids,
        "nosquash" -> curve(squash = false), "squash" -> curve(squash = true))
    }))
}
