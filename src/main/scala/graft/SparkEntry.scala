package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.Parity

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the complete checkable surface: SURVEY §2.6's parity
  * inventory plus the training-data-pipeline extensions (dedup, similarity
  * search, text analysis). Every oracle-backed entry aliases its columns
  * identically in Spark and SQL, aggregates 2-decimal doubles through
  * DECIMAL (exact, order-independent), and ORDER BYs a key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Engine.tune(spark) // the driver's own session, adopted here
    Parity.pricingSummary(spark, "/root/testdata/sf0.001")
  }

  // the exact one-file scan: the catalog-lifecycle queries' write side
  // commits a pinned number of files per snapshot (bounded
  // migrate_layout, per-layout-group counts)
  private def docs(s: SparkSession, dir: String) = Parity.t(s, dir, "documents")
  // balanced read (Parity.tWide, guide §2.5 input skew) for the queries
  // whose FIRST stage is dominated by serial narrow work over the
  // one-row-group corpus file — opt-in per the r16 A/B sweep
  // (OPTIMIZATION_r16.md): bm25/heavy-hitters/hybrid-rrf/source-overlap/
  // source-sketch measured 12-26% faster balanced, while shuffle-early
  // queries measured slower (the exchange also resets size estimates)
  private def docsWide(s: SparkSession, dir: String) =
    Parity.tWide(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Parity.t(s, dir, "embeddings")

  /** One entry per implemented operator from SURVEY.md §2 (+extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ graft.queries.TpchSuite.queries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── SURVEY §2.6 parity inventory ──
    "q_bronze_wrap" -> (Parity.bronzeWrap _),
    "q_silver_extract" -> (Parity.silverExtract _),
    "q_silver_clean" -> (Parity.silverClean _),
    "q_gold_agg" -> (Parity.goldAgg _),
    "q_gold_agg_orders" -> (Parity.goldAggOrders _),
    "q_pricing_summary" -> (Parity.pricingSummary _),
    "q_total" -> (Parity.totalQuantity _),
    "q_slice" -> (Parity.slice _),
    "q_date_filter_agg" -> (Parity.dateFilterAgg _),
    "q_join_broadcast" -> (Parity.joinBroadcast _),
    "q_join_multi" -> (Parity.joinMulti _),
    "q_window_topn" -> (Parity.windowTopN _),
    "q_window_running" -> (Parity.windowRunningTotal _),
    "q_window_lag" -> (Parity.windowLag _),
    "q_asof_join" -> (Parity.asofPurchaseView _),
    "q_sessionize" -> (Parity.sessionStats _),
    "q_percentiles" -> (Parity.percentiles _),
    "q_rollup" -> (Parity.rollupAgg _),
    // GROUPING SETS proper (the marginals-only plan neither rollup nor
    // cube expresses): via SQL — the DataFrame API has no grouping-sets
    // entry point, and the SQL surface is part of the engine contract.
    "q_grouping_sets" -> ((s, dir) => {
      Parity.t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS order_count,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                      CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),
    "q_cube" -> (Parity.cubeAgg _),
    "q_pivot" -> (Parity.pivotStatus _),
    "q_unpivot" -> (Parity.unpivotMetrics _),
    // MERGE-INTO snapshot maintenance: a deterministic CDC changelog
    // (two update waves + deletes derived from the key) applied by
    // Relational.mergeUpsert; latest change per key wins. The oracle
    // derives the final state independently with CASE arithmetic, so the
    // hash match proves the windowed merge — not just echoes it.
    "q_merge_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val o = Parity.t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      val upd1 = o.filter(pmod(col("o_orderkey"), lit(7)) === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("upsert"))
      val upd2 = o.filter(pmod(col("o_orderkey"), lit(14)) === 3)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("seq", lit(2L)).withColumn("op", lit("upsert"))
      val dels = o.filter(pmod(col("o_orderkey"), lit(7)) === 5)
        .withColumn("seq", lit(1L)).withColumn("op", lit("delete"))
      graft.ops.Relational.mergeUpsert(o,
          upd1.unionByName(upd2).unionByName(dels), "o_orderkey", "seq", "op")
        .orderBy("o_orderkey")
    }),
    // MERGE-ON-READ row-level DML, driver-verified end to end: build a
    // merge-on-read catalog table from 3/4 of the documents, run ONE SQL
    // MERGE (updates, deletes, inserts — a delta commit: appended rows +
    // an equality-delete sidecar, zero files rewritten), and return the
    // final table through the delete-applying read. The oracle derives
    // the same end state with CASE arithmetic over the raw documents.
    "q_merge_mor" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // one warehouse per session (the catalog instance is cached by
      // name; createOrReplace keeps reruns fresh)
      graft.storage.GraftCatalog.registerTemp(s, "qmor")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qmor.s")
      val d = docs(s, dir).select(
        coalesce(col("doc_id"), lit(-1L)).alias("doc_id"),
        col("source"), col("n_chars"))
      d.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .writeTo("qmor.s.t").using("parquet")
        .tableProperty(graft.storage.GraftCatalog.MergeModeProp,
          "merge-on-read")
        .tableProperty(graft.storage.GraftCatalog.MergeKeyProp, "doc_id")
        .createOrReplace()
      d.filter(pmod(col("doc_id"), lit(8)) === 1)
        .withColumn("source", lit("upd")).withColumn("op", lit("u"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(8)) === 2)
          .withColumn("op", lit("d")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(4)) === 0)
          .withColumn("source", lit("ins")).withColumn("op", lit("u")))
        .createOrReplaceTempView("qmor_changes")
      s.sql("""MERGE INTO qmor.s.t t USING qmor_changes s
        ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET source = s.source
        WHEN NOT MATCHED AND s.op != 'd'
          THEN INSERT (doc_id, source, n_chars)
          VALUES (s.doc_id, s.source, s.n_chars)""")
      s.catalog.refreshTable("qmor.s.t")
      s.table("qmor.s.t")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // PARTITION SPEC EVOLUTION, driver-verified end to end: create the
    // table UNPARTITIONED from 2/3 of the documents, evolve the spec to
    // partition by `source` (a metadata-only commit — the flat files are
    // not rewritten), append the remaining third (lands under source=...
    // directories), and read the mixed-layout table back through a
    // cross-layout filter. The oracle is the same logical content off
    // the raw documents — evolution must be invisible to query results.
    "q_partition_evolution" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // one warehouse per session; createOrReplace below keeps each
      // rerun's table fresh
      graft.storage.GraftCatalog.registerTemp(s, "qevo")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qevo.s")
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      // null-safe split key: both pmod predicates are NULL for null
      // doc_id, which would land those rows in NEITHER append while the
      // oracle keeps them — coalesce so the two writes partition ALL rows
      val splitKey = pmod(coalesce(col("doc_id"), lit(-1L)), lit(3))
      d.filter(splitKey =!= 0)
        .writeTo("qevo.s.t").using("parquet").createOrReplace()
      s.sql("ALTER TABLE qevo.s.t SET TBLPROPERTIES " +
        s"('${graft.storage.GraftCatalog.PartitionByProp}' = 'source')")
      d.filter(splitKey === 0)
        .writeTo("qevo.s.t").append()
      s.catalog.refreshTable("qevo.s.t")
      s.table("qevo.s.t")
        .filter(pmod(col("n_chars"), lit(2)) === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // METADATA-ONLY AGGREGATES OVER A MIXED LAYOUT, driver-verified:
    // count/min/max on a partition-evolved table answer from per-layout-
    // group manifest stats (each group contributes partial rows; Spark's
    // final aggregate folds them — no data file is opened; plan shape
    // pinned in PartitionEvolutionSpec). The oracle recomputes the same
    // aggregates off the raw documents.
    "q_evolution_agg" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.storage.GraftCatalog.registerTemp(s, "qevoa")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qevoa.s")
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val splitKey = pmod(coalesce(col("doc_id"), lit(-1L)), lit(3))
      d.filter(splitKey =!= 0)
        .writeTo("qevoa.s.t").using("parquet").createOrReplace()
      s.sql("ALTER TABLE qevoa.s.t SET TBLPROPERTIES " +
        s"('${graft.storage.GraftCatalog.PartitionByProp}' = 'source')")
      d.filter(splitKey === 0).writeTo("qevoa.s.t").append()
      s.catalog.refreshTable("qevoa.s.t")
      s.table("qevoa.s.t").agg(
        count(lit(1)).as("c"), count(col("source")).as("cs"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        min(col("n_chars")).as("nmn"), max(col("n_chars")).as("nmx"))
    }),
    // HYBRID metadata aggregates, driver-verified: GROUP BY the EVOLVED
    // partition column — a dir level only in the new layout, a data
    // column in the legacy flat files. The new-layout group answers from
    // manifest stats (zero input files); ONLY the legacy group is
    // scanned, with the partial aggregate folded map-side inside each
    // partition reader (HybridAggScan — plan shape pinned in
    // PartitionEvolutionSpec). The oracle recomputes the same grouped
    // aggregates off the raw documents.
    "q_evolution_agg_hybrid" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.storage.GraftCatalog.registerTemp(s, "qevoh")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qevoh.s")
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val splitKey = pmod(coalesce(col("doc_id"), lit(-1L)), lit(3))
      d.filter(splitKey =!= 0)
        .writeTo("qevoh.s.t").using("parquet").createOrReplace()
      s.sql("ALTER TABLE qevoh.s.t SET TBLPROPERTIES " +
        s"('${graft.storage.GraftCatalog.PartitionByProp}' = 'source')")
      d.filter(splitKey === 0).writeTo("qevoh.s.t").append()
      s.catalog.refreshTable("qevoh.s.t")
      s.table("qevoh.s.t").groupBy(col("source"))
        .agg(count(lit(1)).as("c"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
          max(col("n_chars")).as("nmx"))
        .orderBy("source")
    }),
    // TARGETED LAYOUT MIGRATION, driver-verified end to end: evolve a
    // flat table to partition by `source` (mixed layouts), CALL
    // migrate_layout to rewrite ONLY the legacy flat files (conforming
    // files keep their paths — spec-pinned), then run the DYNAMIC
    // PARTITION OVERWRITE the mixed layout had suspended: replace the
    // lexicographically-first source partition with n_chars = -1 rows.
    // The oracle derives the same end state with CASE arithmetic.
    "q_migrate_layout" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.storage.GraftCatalog.registerTemp(s, "qmig")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qmig.s")
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val splitKey = pmod(coalesce(col("doc_id"), lit(-1L)), lit(3))
      d.filter(splitKey =!= 0)
        .writeTo("qmig.s.t").using("parquet").createOrReplace()
      s.sql("ALTER TABLE qmig.s.t SET TBLPROPERTIES " +
        s"('${graft.storage.GraftCatalog.PartitionByProp}' = 'source')")
      d.filter(splitKey === 0).writeTo("qmig.s.t").append()
      s.catalog.refreshTable("qmig.s.t")
      s.sql("CALL qmig.system.migrate_layout('s.t', 1)").collect()
      s.catalog.refreshTable("qmig.s.t")
      // uniform again: dynamic partition overwrite is legal once more
      val minSrc = d.agg(min(col("source"))).head.getString(0)
      d.filter(col("source") === minSrc)
        .withColumn("n_chars", lit(-1L))
        .writeTo("qmig.s.t").overwritePartitions()
      s.catalog.refreshTable("qmig.s.t")
      s.table("qmig.s.t")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // POSITION-delete row-level DML, driver-verified end to end: the
    // same merge-on-read discipline on a table WITHOUT a merge key —
    // rows addressed by physical identity (_file, _pos), one SQL MERGE
    // committing appended rows + a position-delete sidecar (zero files
    // rewritten; an UPDATE is delete + insert), then a row-level DELETE
    // committing a sidecar-only delta. The oracle derives the same end
    // state with CASE arithmetic over the raw documents.
    "q_merge_pos" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // one warehouse per session (the catalog instance is cached by
      // name; createOrReplace keeps reruns fresh)
      graft.storage.GraftCatalog.registerTemp(s, "qpos")
      s.sql("CREATE NAMESPACE IF NOT EXISTS qpos.s")
      val d = docs(s, dir).select(
        coalesce(col("doc_id"), lit(-1L)).alias("doc_id"),
        col("source"), col("n_chars"))
      d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .writeTo("qpos.s.t").using("parquet")
        .tableProperty(graft.storage.GraftCatalog.MergeModeProp,
          "merge-on-read") // no merge.key → position deletes
        .createOrReplace()
      d.filter(pmod(col("doc_id"), lit(10)) === 1)
        .withColumn("source", lit("upd")).withColumn("op", lit("u"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(5)) === 0)
          .withColumn("source", lit("ins")).withColumn("op", lit("u")))
        .createOrReplaceTempView("qpos_changes")
      s.sql("""MERGE INTO qpos.s.t t USING qpos_changes s
        ON t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET source = s.source
        WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars)
          VALUES (s.doc_id, s.source, s.n_chars)""")
      s.catalog.refreshTable("qpos.s.t")
      // sidecar-only delta: length() keeps the predicate row-level
      s.sql("""DELETE FROM qpos.s.t
        WHERE doc_id % 10 = 3 AND length(source) >= 0""")
      s.catalog.refreshTable("qpos.s.t")
      s.table("qpos.s.t")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "q_set_ops" -> (Parity.setOps _),
    "q_window_rank_stats" -> (Parity.windowRankStats _),
    // range join: customers × deterministic overlapping balance bands,
    // counted per customer — binned equi-join, never a nested loop
    "q_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val intervals = s.range(100).select(
        col("id").alias("band_id"),
        (col("id") * 100.0).alias("lo"),
        (col("id") * 100.0 + 150.0).alias("hi"))
      graft.ops.Relational.rangeJoin(
          Parity.t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
          "c_acctbal", intervals, "lo", "hi", binWidth = 100.0)
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).alias("n_bands"), sum(col("band_id")).alias("band_sum"))
        .orderBy("c_custkey")
    }),
    "q_stats_moments" -> (Parity.statsMoments _),
    "q_window_range_frame" -> (Parity.windowRangeFrame _),
    "q_outliers" -> (Parity.outliers _),
    "q_sample_stratified" -> (Parity.stratifiedSample _),
    // Daily resample + forward fill of each user's event stream (ts
    // normalized to epoch-micros long; integer `div` keeps the day snap
    // exact where a double divide would round). Values pass through
    // untouched, so hashes match.
    "q_resample_ffill" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.Relational.resampleFill(
          Parity.eventsUs(s, dir).select(col("user_id"), col("ts"),
            col("event_id"), col("value")),
          "user_id", "ts", "event_id", "value", period = 86400000000L)
        .select(col("user_id"), col("period").alias("day"), col("value"),
          col("is_observed"))
        .orderBy("user_id", "day")
    }),
    // FULL OUTER join: high-balance customers vs per-customer order
    // counts — both unmatched sides surface (the dim filter creates
    // right-only rows). Aggregate-then-join keeps the outer join on
    // pre-shrunk inputs.
    "q_full_outer" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val c = Parity.t(s, dir, "customer")
        .filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val co = Parity.t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).alias("n_orders"))
      c.join(co, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).alias("custkey"),
          coalesce(col("c_mktsegment"), lit("none")).alias("segment"),
          coalesce(col("n_orders"), lit(0L)).alias("n_orders"),
          (col("c_custkey").isNotNull && col("o_custkey").isNotNull).alias("matched"))
        .orderBy("custkey")
    }),
    "q_histogram" -> (Parity.histogram _),
    "q_corr" -> (Parity.corrStats _),
    // Token-id encoding — the tokenizer-apply step: top-25 vocab folded to
    // ONE broadcast map row; per-doc encoding is a narrow transform
    // (element_at lookup, OOV -> 0). The corpus never shuffles. The checked
    // surface is scalar-only (the id sequence space-joined to a string) so
    // the oracle harness can sort the frame; the array itself is exercised
    // by TrainPrepSpec and by prep_contrastive's chunking.
    "prep_token_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = graft.ops.TrainPrep.encodeTokenIds(
        d, "doc_id", "text",
        graft.ops.TrainPrep.topTokens(d, "text", 25), strategy = "broadcast")
      ids.select(col("doc_id"),
          size(col("token_ids")).cast("long").alias("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .alias("token_ids_str"))
        .orderBy("doc_id")
    }),
    // Contrastive (anchor, positive) pair construction from consecutive
    // context chunks of the same doc — the training-example builder for
    // contrastive embedding objectives. Self-join co-partitioned on
    // (doc, chunk): one shuffle family, no cross product.
    "prep_contrastive" -> ((s, dir) => {
      val ch = graft.ops.TrainPrep.chunkDocuments(docs(s, dir), "doc_id",
          "text", chunkSize = 32, stride = 24)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
      val a = ch.select(col("doc_id"), col("chunk_id").alias("anchor_id"),
        col("n_chunk_tokens").alias("anchor_tokens"))
      val p = ch.select(col("doc_id"), (col("chunk_id") - 1L).alias("anchor_id"),
        col("chunk_id").alias("positive_id"),
        col("n_chunk_tokens").alias("positive_tokens"))
      a.join(p, Seq("doc_id", "anchor_id"))
        .orderBy("doc_id", "anchor_id")
    }),
    // RLHF/DPO preference pairs: per source, (highest, lowest)-quality
    // documents (n_chars as the score proxy), ties broken by doc_id. ONE
    // map-side-combining aggregation — no per-group window or sort.
    "prep_dpo_pairs" -> ((s, dir) => {
      graft.ops.TrainPrep.preferencePairs(
          docs(s, dir).filter(col("doc_id").isNotNull),
          "source", "doc_id", "n_chars")
        .orderBy("source")
    }),
    // salted skew join: events fan out on 5 heavily-hot event_type keys
    // against a derived per-type dim. saltedJoin spreads each hot key
    // over 8 deterministic sub-keys (dim replicated 8x) — row-identical
    // to the plain join the oracle runs, but no shuffle partition holds
    // a whole hot key (the manual fallback when a dim is too big to
    // broadcast and the plan shape escapes AQE's skew splitting).
    "q_join_skew_salted" -> ((s, dir) => {
      val ev = Parity.t(s, dir, "events")
        .select(col("event_id"), col("event_type"))
      val dim = ev.groupBy("event_type")
        .agg(count(lit(1)).alias("type_cnt"))
      graft.ops.Relational.saltedJoin(ev, dim, "event_type", "event_id", 8)
        .select(col("event_id"), col("event_type"), col("type_cnt"))
        .orderBy("event_id")
    }),
    // OOV-rate against the corpus top-25 vocabulary: vocab folded to one
    // broadcast array row; per-doc membership is a narrow array filter.
    "prep_oov" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.TrainPrep.oovRate(d, "doc_id", "text",
          graft.ops.TrainPrep.topTokens(d, "text", 25).select(col("token")),
          "token")
        .orderBy("doc_id")
    }),
    "q_semi_anti" -> (Parity.semiAntiJoin _),
    // SCD2 dimension history: customer segments as the initial open state,
    // order priorities as the timestamped update stream — one window
    // shuffle, consecutive no-op updates collapse. Timestamps surface as
    // epoch millis (the deterministic cross-engine representation).
    "q_scd2" -> ((s, dir) => {
      val hist = Parity.t(s, dir, "customer").select(
        col("c_custkey").alias("key"),
        col("c_mktsegment").alias("state"),
        lit("1990-01-01").cast("timestamp").alias("valid_from"),
        lit(null).cast("timestamp").alias("valid_to"),
        lit(true).alias("is_current"))
      val upd = Parity.t(s, dir, "orders").select(
        col("o_custkey").alias("key"),
        col("o_orderpriority").alias("state"),
        col("o_orderdate").alias("ts"),
        col("o_orderkey").alias("tie"))
      graft.ops.Relational.scd2Merge(hist, upd, "key", Seq("state"), "ts", "tie")
        .select(col("key"), col("state"),
          unix_millis(col("valid_from")).alias("valid_from_ms"),
          unix_millis(col("valid_to")).alias("valid_to_ms"),
          col("is_current"))
        .orderBy("key", "valid_from_ms", "state")
    }),
    // Image near-dup pairs: perceptual average-hash (pure integer math
    // over the stub decoder's pixel stream) + the same pigeonhole hamming
    // blocking as text SimHash. The oracle recomputes pixels, hash bits,
    // and an ALL-PAIRS hamming check — the blocking's completeness proof.
    "multimodal_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDups(
          Multimodal.mediaFromDocuments(docs(s, dir)), maxHamming = 3)
        .orderBy("id_a", "id_b")),
    // Median-hash signatures, bit-for-bit: the mean-robust sibling of
    // aHash (sort 64 samples, threshold vs the lower median — pure
    // integer math the oracle rebuilds per bit).
    "multimodal_image_mhash" -> ((s, dir) =>
      Multimodal.imageMhash(Multimodal.mediaFromDocuments(docs(s, dir)))
        .orderBy("media_id")),
    // Audio near-dup pairs: 64-bit energy-delta fingerprint over the stub
    // byte stream + the shared pigeonhole hamming blocking; all-pairs
    // oracle like the image variant.
    // frameSize 64: the fixture clips are short (100-2000 bytes), so a
    // 256-byte frame would leave many single-frame clips with the
    // degenerate all-zero fingerprint
    "multimodal_audio_neardup" -> ((s, dir) =>
      Multimodal.audioNearDups(
          Multimodal.mediaFromDocuments(docs(s, dir)), maxHamming = 3,
          frameSize = 64)
        .orderBy("id_a", "id_b")),
    // Distribution drift between corpus slices: shared integer histogram
    // grid + per-bin chi-square contributions with an order-controlled
    // running total — the "new data doesn't look like the old data" gate.
    "quality_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.quality.Drift.histogramDrift(
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "n_chars", bits = 4)
        .orderBy("bin")
    }),
    // Video near-dup pairs: shared sampled-frame fingerprints (md5 content
    // hashes), equi-join candidates, pair counted on shared frames. The
    // query pins nFrames=8 (a fixed sampling grid) — frame-set overlap
    // only means anything when both sides slice on the same grid; the
    // fixture's id-derived frame counts would make every pair disjoint.
    "multimodal_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(docs(s, dir))
        .map(r => if (r.kind == "video") r.copy(meta = r.meta.copy(nFrames = 8)) else r)
      Multimodal.videoNearDups(media, stride = 2, minSharedFrames = 2)
        .orderBy("id_a", "id_b")
    }),
    // TPC-H Q3 (shipping priority): the canonical fact-fact-dim join +
    // grouped revenue + deterministic top-10. The dim filter broadcasts;
    // the lineitem/orders join shuffles on orderkey once.
    "q_tpch3" -> ((s, dir) => {
      val cutoff = lit("1995-03-15").cast("timestamp")
      val c = Parity.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Parity.t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
      val l = Parity.t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").alias("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // TPC-H Q5 (local supplier volume): 6-table join with the
    // customer-nation = supplier-nation correlation; all dims broadcast,
    // facts shuffle once each on their join keys.
    "q_tpch5" -> ((s, dir) => {
      val o = Parity.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val asia = broadcast(Parity.t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(Parity.t(s, dir, "nation"))
      Parity.t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Parity.t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Parity.t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").alias("revenue"))
        .orderBy(col("n_name"))
    }),
    // TPC-H Q6 (forecast revenue change): the pure scan-filter-agg — every
    // predicate pushes into the parquet scan, one partial-agg exchange.
    "q_tpch6" -> ((s, dir) =>
      Parity.t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(4,2)"))
          .cast("double").alias("revenue"))),
    // TPC-H Q10 (returned items): fact join + 4-key group + deterministic
    // top-20 by revenue.
    "q_tpch10" -> ((s, dir) => {
      val o = Parity.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val l = Parity.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Parity.t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Parity.t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").alias("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),
    // TPC-H Q18 (large-volume customers): aggregate-HAVING subquery
    // feeding a semi-join on the fact — the qualifying-orderkey set is
    // tiny, so it broadcasts into the main join.
    "q_tpch18" -> ((s, dir) => {
      val l = Parity.t(s, dir, "lineitem")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).alias("qty"))
        .filter(col("qty") > 150)
        .select(col("l_orderkey").alias("big_okey"))
      val o = Parity.t(s, dir, "orders")
        .join(broadcast(big), col("o_orderkey") === col("big_okey"))
      o.join(broadcast(Parity.t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)"))
          .cast("double").alias("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),
    // Spark's NATIVE session_window operator (state-store sessionization —
    // the same code path batch and streaming), cross-checked against the
    // window-construction oracle. Boundary semantics differ from the
    // custom Relational.sessionize deliberately: session_window treats
    // [start, last+gap) as half-open, so a gap of exactly `gap` starts a
    // new session (oracle uses >=, the custom op uses >).
    "q_session_window" -> ((s, dir) => {
      val e = Parity.eventsUs(s, dir)
        .select(col("user_id"), col("event_id"),
          timestamp_micros(col("ts")).alias("ets"))
      e.groupBy(col("user_id"), session_window(col("ets"), "12 hours"))
        .agg(count(lit(1)).alias("n_events"), min("event_id").alias("first_event"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).alias("start_us"),
          unix_micros(col("session_window.end")).alias("end_us"),
          col("n_events"), col("first_event"))
        .orderBy("user_id", "start_us")
    }),
    // Test-set decontamination: docs ≡ 0 (mod 50) play the eval benchmark;
    // the rest are training docs, flagged when any word trigram overlaps.
    // Narrow shingle expression + broadcast semi-join; oracle replicates
    // the polynomial token hash and raw window sums.
    "prep_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.TrainPrep.decontaminate(
          d.filter(pmod(col("doc_id"), lit(50)) =!= 0), "doc_id", "text",
          d.filter(pmod(col("doc_id"), lit(50)) === 0), "text",
          k = 3, tokenHash = Dedup.oracleHash)
        .select(col("doc_id"), col("contam_ngrams"), col("is_contaminated"))
        .orderBy("doc_id")
    }),
    // Per-source k-gram novelty vs the English reference: how much of
    // each source's distinct trigram space the reference never saw — the
    // is-this-slice-worth-adding freshness signal, the aggregate dual of
    // prep_decontaminate. Both sides collapse to distinct 8-byte hashes
    // before the anti join; strategy left to AQE.
    "text_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.sourceNovelty(d, "source", "text",
        d.filter(col("lang") === "en"), "text", k = 3,
        tokenHash = Dedup.oracleHash)
    }),
    // Gopher/C4-style repetition filter signal: duplicate-trigram fraction
    // per doc, computed entirely per-row (no shuffle).
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir), "doc_id", "text", k = 3,
          tokenHash = Dedup.oracleHash)
        .orderBy("doc_id")),
    // Cross-source k-gram overlap matrix: distinct shared trigram hashes +
    // Jaccard per source pair — the corpus-level leakage report. One
    // hash-keyed collect_set stage (map-side partial collapses hot
    // phrases); pairs come from a narrow per-hash expansion, no self-join.
    "text_source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlap(docsWide(s, dir), "source", "text", k = 3,
          tokenHash = Dedup.oracleHash)
        .orderBy("source_a", "source_b")),
    // Deterministic hash-ring negative sampling: k same-language negatives
    // per doc via ONE group-partitioned window (never a candidate join) —
    // the negative half of the contrastive training-pair builder.
    "prep_negatives" -> ((s, dir) =>
      graft.ops.TrainPrep.negativeSamples(docs(s, dir), "doc_id", "lang", k = 3)
        .orderBy("doc_id", "rank")),
    // BPE merge-candidate counting: the top adjacent char pairs within
    // tokens — iteration one of a BPE trainer, corpus-scale shape (narrow
    // pair explode, one partial-aggregated shuffle, TakeOrdered).
    "prep_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(docs(s, dir), "text", topK = 30)),
    // Full in-engine BPE tokenizer training (Sennrich 1508.07909): six
    // count→argmax→merge rounds over the frequency-weighted DISTINCT-word
    // vocabulary — the corpus is scanned once, every round after is
    // vocabulary-sized. Output is the learned merge table (the model
    // artifact), hash-checked row for row against a six-round unrolled
    // SQL oracle.
    "text_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrainMerges(docs(s, dir), "text", numMerges = 6)
        .orderBy("merge_rank")),
    // The inference side: per-document token counts AFTER applying the six
    // learned merges in rank order — train and apply composed end-to-end,
    // checked against the oracle's final segmentation state. Uses the
    // dictionary spelling (fold each DISTINCT word once, broadcast the
    // lengths back): measured flat in the merge count where the
    // fold-per-instance spelling grows linearly (SCALE.md §BPE).
    // r16: composed through the trainer's final state — the per-word
    // segmentation already exists there, so the segmenter skips the
    // distinct-word re-fold (and the merge-table collect). Result
    // identical to train-then-dict-segment; the dict API remains the
    // shipped-artifact inference path (text_bpe_unk et al.).
    "text_bpe_segment" -> ((s, dir) =>
      TextAnalysis.bpeSegmentedTokenCountFromTrain(
        docs(s, dir), "doc_id", "text", numMerges = 6)),
    // The vocabulary artifact: top-64 tokens by corpus frequency after the
    // six merges, with contiguous ids — the table a tokenizer ships next
    // to its merge list. Vocabulary-sized aggregate over the trainer's
    // final state; the id window runs over the LIMITed 64 rows only.
    "text_bpe_vocab" -> ((s, dir) =>
      TextAnalysis.bpeVocab(docs(s, dir), "text", numMerges = 6, topK = 64)
        .orderBy("token_id")),
    // The tokenizer composed end to end: train → vocab (top-16, so the
    // UNK path is exercised — out-of-vocabulary tokens encode as 0) →
    // every document as its token-id array, dictionary-spelled (per-WORD
    // id lists broadcast onto the instance stream; one id-keyed
    // re-aggregation).
    // token_ids spelled as a space-joined string (not a raw array): the
    // driver's comparator sorts result columns with pandas, which cannot
    // order ndarray cells — the string keeps per-token exactness AND is
    // hashable. The engine API (bpeEncode) still returns the typed array.
    "text_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text",
          numMerges = 6, topK = 16)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("token_ids"))),
    // Unigram-LM tokenizer (Kudo 1804.10959, the SentencePiece model) as
    // hard-EM in exact integer arithmetic: substring seed vocab → Viterbi
    // segment under centi-bit quantized scores → usage recount, twice;
    // every stage vocabulary-sized, the corpus scanned once.
    "text_unigram_train" -> ((s, dir) =>
      TextAnalysis.unigramTrain(docs(s, dir), "text",
        maxPieceLen = 4, seedSize = 60, emIters = 2, minCount = 2L)),
    // Inference under the trained unigram model: per-doc token counts,
    // dictionary-spelled (Viterbi once per DISTINCT word, per-word piece
    // counts broadcast onto the instance stream — no word-key shuffle).
    "text_unigram_segment" -> ((s, dir) =>
      TextAnalysis.unigramSegmentCounts(docs(s, dir), "doc_id", "text",
        maxPieceLen = 4, seedSize = 60, emIters = 2, minCount = 2L)),
    // The composed unigram path: train → contiguous ids by (freq desc,
    // piece asc) → every document as its token-id array in pre-token
    // order — the bpeEncode plan shape with the Viterbi dictionary.
    "text_unigram_encode" -> ((s, dir) =>
      TextAnalysis.unigramEncode(docs(s, dir), "doc_id", "text",
          maxPieceLen = 4, seedSize = 60, emIters = 2, minCount = 2L)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("token_ids"))),
    // WordPiece MERGE training: likelihood-scored argmax — the pair
    // maximizing the exact quotient c·10^12/(uc_l·uc_r) merges, where BPE
    // takes raw count; the learned list composes with the whole BPE
    // inference surface unchanged.
    "text_wordpiece_train" -> ((s, dir) =>
      TextAnalysis.wordPieceTrainMerges(docs(s, dir), "text", numMerges = 6)
        .orderBy("merge_rank")),
    // WordPiece (the third tokenizer scheme, BERT's): positional-piece
    // vocabulary — char floor + topK multi-char pieces, continuations
    // ##-prefixed — ids 1-based by (freq desc, token asc).
    "text_wordpiece_vocab" -> ((s, dir) =>
      TextAnalysis.wordPieceVocab(docs(s, dir), "text",
          maxPieceLen = 4, topK = 64)
        .orderBy("token_id")),
    // Greedy longest-match WordPiece inference: each DISTINCT word folds
    // once under the broadcast vocabulary map (no word-key shuffle),
    // unsegmentable words collapse to [UNK]=0, documents reassemble in
    // pre-token order.
    "text_wordpiece_encode" -> ((s, dir) =>
      TextAnalysis.wordPieceEncode(docs(s, dir), "doc_id", "text",
          maxPieceLen = 4, topK = 64)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("token_ids"))),
    // Per-doc token counts under greedy WordPiece — the dictionary-spelled
    // segment-count query the other two schemes also ship.
    "text_wordpiece_segment" -> ((s, dir) =>
      TextAnalysis.wordPieceSegmentCounts(docs(s, dir), "doc_id", "text",
        maxPieceLen = 4, topK = 64)),
    // Tokenizer staleness for the WordPiece scheme: vocabulary trained on
    // the English subset, probed by the full multilingual corpus — exact
    // instance counts (the rate's numerator/denominator), one row.
    "text_wordpiece_unk" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.wordPieceUnkCounts(d, "text",
        TextAnalysis.wordPieceVocab(d.filter(col("lang") === "en"), "text",
          maxPieceLen = 4, topK = 64),
        maxPieceLen = 4)
    }),
    // Event-time lateness profile per event type: per-user arrival-order
    // high-water mark vs event time — the analytic that sizes a streaming
    // watermark delay. Per-KEY windows (the per-key watermark semantics),
    // never a global arrival-order sort.
    "q_lateness_profile" -> ((s, dir) => {
      val e = Parity.eventsUs(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"),
        col("ts").alias("us"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      e.withColumn("__hwm", max(col("us")).over(w))
        .withColumn("late_us",
          when(col("__hwm").isNotNull && col("__hwm") > col("us"),
            col("__hwm") - col("us")).otherwise(0L))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).alias("n_events"),
          sum(when(col("late_us") > 0L, 1L).otherwise(0L)).alias("n_late"),
          (sum(when(col("late_us") > 0L, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).alias("late_ratio"),
          max(col("late_us")).alias("max_late_us"),
          sum(col("late_us")).alias("total_late_us"))
        .orderBy("event_type")
    }),
    // Inverted-index construction for the 50 rarest tokens (df >= 2):
    // sorted posting lists capped per token BEFORE the collect via
    // WindowGroupLimit; the rare-token set broadcasts into the postings
    // join — the corpus posting stream is never globally shuffled.
    "text_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text")
        .orderBy("token")),
    // Exact-substring dedup signal (Lee et al. 2107.06499 shape): per-doc
    // count of 8-token windows whose hash recurs in >= 2 documents.
    // Hash-only exchanges; the per-window doc count runs on DISTINCT
    // (doc, hash) so boilerplate spans cannot hot-key the aggregate.
    "dedup_span" -> ((s, dir) =>
      Dedup.spanDups(docs(s, dir), "doc_id", "text", k = 8, minDocs = 2,
          tokenHash = Dedup.oracleHash)
        .orderBy("doc_id")),
    // Exact duplicate-span EXCISION (Lee et al. substring dedup): every
    // 8-token window occurring more than once keeps its first occurrence
    // (smallest (doc, pos)) and is cut elsewhere; the oracle rebuilds the
    // cleaned text with the identical mask.
    "dedup_excise" -> ((s, dir) =>
      Dedup.exciseDuplicateSpans(docs(s, dir), "doc_id", "text", k = 8,
          tokenHash = Dedup.oracleHash)
        .orderBy("doc_id")),
    // The SAME excision derived from the suffix array (Lee et al. §4's
    // actual construction): rank-adjacent classes chained by
    // lcp_next >= k are the distinct duplicated windows — one index
    // answers every span length, no per-k hash pass. Bit-identical
    // output, checked against the fixed-k oracle.
    "dedup_excise_sa" -> ((s, dir) =>
      Dedup.exciseDuplicateSpansSA(docs(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")),
    // Distributed suffix-array ranks by prefix doubling (Manber–Myers /
    // Flick–Aluru; the Lee et al. 2107.06499 §4 index) — ⌈log₂ maxlen⌉
    // rounds of bounded shuffles, dense ranks via TrainPrep's running
    // count, never a data-wide single-partition window.
    "dedup_suffix_array" -> ((s, dir) =>
      Dedup.suffixRanks(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id", "pos")),
    // Suffix-array LCP statistics: per distinct suffix, occurrence count
    // and longest common prefix with the next rank (capped at 32) — the
    // every-k-at-once duplicated-span report, via the descending-doubling
    // walk over the prefix-doubling level stack (log(cap) rank joins,
    // never a token-array comparison).
    "dedup_lcp_stats" -> ((s, dir) =>
      Dedup.lcpStats(docs(s, dir), "doc_id", "text", lcpCap = 32)
        .orderBy("rank")),
    // DSIR-shaped importance weighting toward the English subset: hashed
    // unigram buckets, add-one smoothed frequency-ratio weight from exact
    // BIGINT sums. Bounded (1024-row) weight table broadcast; corpus
    // never shuffled for scoring.
    "prep_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.TrainPrep.importanceWeights(d, "doc_id", "text",
          d.filter(col("lang") === "en"), "text", numBuckets = 1024,
          tokenHash = Dedup.oracleHash)
        .orderBy("doc_id")
    }),
    // BM25 retrieval (rational idf — no ln, so every step is a fixed-order
    // IEEE op both engines reproduce): global top-20 docs for a 3-term
    // query. Narrow per-row tf, one broadcast 1-row stats join, TakeOrdered.
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(docsWide(s, dir), "doc_id", "text",
          Seq("spark", "merge", "window"))
        .orderBy(col("score").desc, col("doc_id"))),
    // Heavy hitters with Count-Min estimates: the exact top-20 tokens,
    // each with its estimate from a 4×64 mergeable integer sketch of the
    // full token stream (est ≥ exact; the collision gap is part of the
    // checked output). The sketch reduce moves a fixed-size table, never
    // tokens.
    "text_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(docsWide(s, dir), "text", k = 20,
        depth = 4, width = 64, tokenHash = Dedup.oracleHash)),
    // Per-source distinct-token cardinality: exact count beside the
    // HyperLogLog estimate from a 64-register mergeable sketch — register
    // contents AND the double estimate hash-match (trailing-zero rank,
    // bit-shift powers of two — no libm anywhere).
    "text_hll_distinct" -> ((s, dir) =>
      TextAnalysis.distinctCardinality(docs(s, dir), "source", "text",
        p = 6, tokenHash = Dedup.oracleHash)),
    // Hybrid retrieval: BM25 top-100 + dense hash-embedding-cosine top-100
    // fused by reciprocal-rank fusion (1/(60+rank) each) — integer ranks,
    // two fixed-order divisions, hash-exact.
    "text_hybrid_rrf" -> ((s, dir) =>
      TextAnalysis.hybridRrf(docsWide(s, dir), "doc_id", "text",
        Seq("spark", "merge", "window"), listSize = 100, k = 20,
        rrfK = 60, dim = 64, tokenHash = Dedup.oracleHash)),
    // Sparse TF-cosine doc pairs via capped posting lists (champion-list
    // pattern): per-token fanout bounded by maxPostings² regardless of
    // token heat; exact bigint dots/norms, one fixed-order cosine.
    "text_sparse_cosine" -> ((s, dir) =>
      TextAnalysis.sparseCosinePairs(docs(s, dir), "doc_id", "text",
        minDf = 2L, maxPostings = 100, topK = 30)),
    // Collocation mining: top-30 bigrams by PMI ratio (exp(PMI) — exact
    // counts, one multiply/divide, no ln). Marginals join the pair table,
    // never the instance table.
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiPairs(docs(s, dir), "text", minCount = 5L, topK = 30)
        .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))),
    // Interpolated Kneser–Ney bigram probabilities with d = 3/4 as ONE
    // exact rational per pair (⌊10^6·num/den⌋, DECIMAL(38,0) products) —
    // the perplexity-filter LM, marginals all on the pair table.
    "text_kneser_ney" -> ((s, dir) =>
      TextAnalysis.kneserNey(docs(s, dir), "text")),
    // CCNet perplexity bucketing (Wenzek et al. 1911.00359): per-doc
    // integer-quantized bits under the KN bigram LM, equal-mass
    // head/middle/tail by VALUE cutoffs over the bounded cost domain —
    // no data-wide sort, the cutoffs are a ≤20001-row driver decision.
    "text_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(docs(s, dir), "doc_id", "text")),
    // Null-aware NOT IN: the with_null branch's subquery CONTAINS a NULL
    // (nullif poisons custkey 1), so by SQL three-valued logic it must
    // return ZERO rows — Spark plans a null-aware anti join; a naive anti
    // join would wrongly return every unmatched customer. The no_null
    // branch is the ordinary anti join for contrast. (Projection-context
    // IN-subqueries are deliberately NOT used here: Spark 4 folds their
    // UNKNOWN to false rather than NULL, diverging from ANSI.)
    "q_null_aware_anti" -> ((s, dir) => {
      Parity.t(s, dir, "customer").createOrReplaceTempView("customer_na")
      Parity.t(s, dir, "orders").createOrReplaceTempView("orders_na")
      s.sql("""SELECT c_custkey, 'no_null' AS variant FROM customer_na
               WHERE c_custkey NOT IN (SELECT o_custkey
                                       FROM orders_na WHERE o_orderkey % 40 = 1)
               UNION ALL
               SELECT c_custkey, 'with_null' AS variant FROM customer_na
               WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 1)
                                       FROM orders_na WHERE o_orderkey % 40 = 1)
               ORDER BY variant, c_custkey""")
    }),
    // String-function surface in one narrow pass: case/pad/slice/search/
    // translate plus edit distance (levenshtein is integer-exact in both
    // engines). Zero shuffle.
    "q_string_funcs" -> ((s, dir) =>
      Parity.t(s, dir, "part").select(
          col("p_partkey"),
          upper(col("p_brand")).alias("brand_upper"),
          lpad(col("p_type"), 12, ".").alias("type_padded"),
          substring(col("p_name"), 1, 8).alias("name_prefix"),
          instr(col("p_type"), "a").cast("long").alias("first_a"),
          translate(col("p_name"), "aeiou", "_____").alias("devoweled"),
          levenshtein(col("p_type"), lit("standard")).cast("long").alias("edit_dist"),
          length(regexp_replace(col("p_name"), "[^a-z]", "")).cast("long")
            .alias("n_lower"))
        .orderBy("p_partkey")),
    // Schema-full JSON parsing (from_json with an explicit struct — the
    // typed path, vs Silver's schema-on-read get_json_object) + grouped
    // integer aggregates over the extracted field. Narrow parse in the
    // scan, one aggregate exchange.
    "q_json_extract" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val ev = Parity.t(s, dir, "events")
      ev.select(col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").alias("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).alias("n"),
          sum("k").alias("sum_k"),
          min("k").alias("min_k"),
          max("k").alias("max_k"),
          count(when(col("k") > 90, 1)).alias("n_high"))
        .orderBy("event_type")
    }),
    // Date/time function surface: year/quarter buckets with weekday sums
    // (Spark weekday == DuckDB isodow-1 — dayofweek's Sunday origin
    // differs between engines and is deliberately avoided), date_add and
    // last_day extrema, and an exact datediff sum. One aggregate exchange.
    "q_date_functions" -> ((s, dir) =>
      Parity.t(s, dir, "orders").groupBy(
          year(col("o_orderdate")).cast("long").alias("yr"),
          quarter(col("o_orderdate")).cast("long").alias("qtr"))
        .agg(count(lit(1)).alias("n"),
          sum(weekday(col("o_orderdate")).cast("long")).alias("sum_wd"),
          min(date_add(col("o_orderdate"), 30)).alias("min_plus30"),
          max(last_day(col("o_orderdate"))).alias("max_month_end"),
          sum(datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
            .cast("long")).alias("sum_days_left"))
        .orderBy("yr", "qtr")),
    // Array set-operation surface (intersect/union/except, all dedup
    // semantics): narrow per-row, outputs normalized by sort+join so
    // element order can't differ between engines.
    "q_array_setops" -> ((s, dir) => {
      val a = TextAnalysis.tokens(lower(col("p_name")))
      val b = TextAnalysis.tokens(lower(col("p_type")))
      Parity.t(s, dir, "part").select(
          col("p_partkey"),
          size(array_intersect(a, b)).cast("long").alias("n_common"),
          size(array_union(a, b)).cast("long").alias("n_union"),
          size(array_except(a, b)).cast("long").alias("n_only_name"),
          array_join(array_sort(array_intersect(a, b)), " ").alias("common_str"))
        .orderBy("p_partkey")
    }),
    // Type-token-ratio curve: lexical richness at 25/50/100-token
    // prefixes (TTR falls with length, so fixed-prefix measurement is the
    // comparable form). Narrow slices per row, zero shuffle.
    "text_ttr" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val toks = TextAnalysis.tokens(col("text"))
      def ttr(k: Int) = {
        val pre = slice(toks, 1, k)
        when(size(toks) === 0, lit(0.0))
          .otherwise(size(array_distinct(pre)).cast("double")
            / least(size(toks), lit(k)).cast("double"))
      }
      docs(s, dir).select(col("doc_id"),
          ttr(25).alias("ttr25"), ttr(50).alias("ttr50"),
          ttr(100).alias("ttr100"))
        .orderBy("doc_id")
    }),
    // Bitwise aggregates: per-status OR/AND/XOR of one-hot key flags —
    // the bitmap-index building block (segment membership in one long).
    "q_bit_flags" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val f = Parity.t(s, dir, "orders")
        .withColumn("__flag", expr("shiftleft(1L, cast(o_orderkey % 60 as int))"))
      f.groupBy(col("o_orderstatus"))
        .agg(
          bit_or(col("__flag")).alias("flags_or"),
          bit_and(col("__flag")).alias("flags_and"),
          bit_xor(col("__flag")).alias("flags_xor"),
          bit_count(bit_or(col("__flag"))).cast("long").alias("n_flag_bits"))
        .orderBy("o_orderstatus")
    }),
    // Gini–Simpson lexical diversity: 1 − Σ tf² / n² — the no-log
    // diversity measure (entropy's rational sibling), exact BIGINT sums
    // with one final division. Per-row via token_counts: zero shuffle.
    "text_gini" -> ((s, dir) => {
      val tc = graft.functions.SketchArrayExpressions.tokenCounts(
        TextAnalysis.tokens(col("text")))
      docs(s, dir).select(
          col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").alias("n_tokens"),
          aggregate(transform(tc, e => e.getField("tf").cast("long") * e.getField("tf")),
            lit(0L), (a, x) => a + x).alias("sum_tf2"))
        .withColumn("gini",
          when(col("n_tokens") === 0L, lit(0.0))
            .otherwise(lit(1.0) - col("sum_tf2").cast("double")
              / (col("n_tokens") * col("n_tokens")).cast("double")))
        .orderBy("doc_id")
    }),
    // 2-D skyline (Pareto frontier): orders not dominated on (cheaper,
    // later) — kept iff later than every strictly cheaper order. A naive
    // global-ordered window is a single task at scale; this is the
    // distributed two-level form: per-PRICE-BUCKET max (partitioned
    // window over cents — exact integer RANGE -1 = strictly cheaper
    // within the bucket), a running max over the tiny bucket-stats table,
    // and a broadcast join back. Bucket b' < b implies strictly cheaper,
    // so best = max(prev-buckets max, within-bucket strictly-cheaper max)
    // reproduces the global frontier exactly.
    "q_skyline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val W = org.apache.spark.sql.expressions.Window
      val o = Parity.t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long").alias("day"))
      val cents = o.withColumn("__c",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .withColumn("__b", floor(col("__c") / lit(1000000L)))
      // BoundedWindow: the frame is the price-BUCKET table (≤ #buckets
      // rows by construction, never data) — the constant partition key
      // keeps results identical while letting the whole query surface
      // assert "no partition-free WindowExec anywhere" (PlanSpec)
      val bprev = cents.groupBy(col("__b"))
        .agg(max(col("day")).alias("__bmax"))
        .withColumn("__prev",
          max(col("__bmax")).over(graft.ops.BoundedWindow.orderBy(col("__b").asc)
            .rowsBetween(W.unboundedPreceding, -1)))
        .select(col("__b"), col("__prev"))
      val wIn = W.partitionBy(col("__b")).orderBy(col("__c").asc)
        .rangeBetween(W.unboundedPreceding, -1)
      cents.join(broadcast(bprev), "__b")
        .withColumn("__best",
          greatest(coalesce(max(col("day")).over(wIn), lit(Long.MinValue)),
            coalesce(col("__prev"), lit(Long.MinValue))))
        .filter(col("__best") === Long.MinValue || col("day") > col("__best"))
        .select(col("o_orderkey"), col("o_totalprice"), col("day"))
        .orderBy("o_orderkey")
    }),
    // CUSUM changepoint detection on the daily revenue series: the day
    // maximizing |running_sum − k·mean| per status. The running sum
    // accumulates DECIMAL (exact, order-independent — a double running
    // sum would depend on each engine's window aggregation tree), and the
    // deviation arithmetic is fixed-order doubles on top.
    "q_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val W = org.apache.spark.sql.expressions.Window
      val daily = Parity.t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
            .cast("long").alias("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).alias("__rev"))
      val wRun = W.partitionBy(col("o_orderstatus")).orderBy(col("day").asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.partitionBy(col("o_orderstatus"))
      val scored = daily
        .withColumn("__s", sum(col("__rev")).over(wRun).cast("double"))
        .withColumn("__k", row_number().over(
          W.partitionBy(col("o_orderstatus")).orderBy(col("day").asc)).cast("long"))
        .withColumn("__tot", sum(col("__rev")).over(wAll).cast("double"))
        .withColumn("__n", count(lit(1)).over(wAll).cast("long"))
        .withColumn("cusum",
          col("__s") - col("__k").cast("double")
            * (col("__tot") / col("__n").cast("double")))
      scored
        .withColumn("__rk", row_number().over(
          W.partitionBy(col("o_orderstatus"))
            .orderBy(abs(col("cusum")).desc, col("day").asc)))
        .filter(col("__rk") === 1)
        .select(col("o_orderstatus"), col("day").alias("change_day"),
          col("cusum"))
        .orderBy("o_orderstatus")
    }),
    // Robust statistics: median + MAD per group via the bit-exact
    // interpolated percentile (sort-based), MAD-scaled outlier counts —
    // the robust sibling of the sigma rule, immune to the outliers it
    // hunts. Two aggregate passes + a broadcast medians join.
    "q_mad" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val o = Parity.t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_totalprice"))
      val med = o.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").alias("med"))
      val dev = o.join(broadcast(med), "o_orderstatus")
        .withColumn("__dev", abs(col("o_totalprice") - col("med")))
      dev.groupBy(col("o_orderstatus"))
        .agg(
          first(col("med")).alias("median"),
          expr("percentile(__dev, 0.5)").alias("mad"),
          count(lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    }),
    // Per-column data profile (the dbt-docs / GE "profiling" report):
    // null count, exact distinct count, null fraction per column — ONE
    // aggregate pass over the table (multi-countDistinct plans a single
    // Expand), then a narrow explode into the per-column report rows.
    "quality_profile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val c = Parity.t(s, dir, "customer")
      val cols = Seq("c_acctbal", "c_mktsegment", "c_name", "c_nationkey")
      val aggs = count(lit(1)).alias("n") +: cols.flatMap(cn => Seq(
        sum(when(col(cn).isNull, 1L).otherwise(0L)).alias(s"null_$cn"),
        countDistinct(col(cn)).alias(s"dist_$cn")))
      val one = c.agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(cols.map(cn => struct(
            lit(cn).alias("column"),
            col("n").alias("n_rows"),
            col(s"null_$cn").alias("n_null"),
            col(s"dist_$cn").alias("n_distinct"))): _*)).alias("r"))
        .select(col("r.column"), col("r.n_rows"), col("r.n_null"),
          col("r.n_distinct"))
        .withColumn("frac_null",
          col("n_null").cast("double") / col("n_rows").cast("double"))
        .orderBy("column")
    }),
    // Truncated EWMA over the daily revenue series (α = 1/2, depth 4):
    // α(1−α)^i weights are exact powers of two, so every product is an
    // exact double op and the fixed-order term sum hash-matches even over
    // arbitrary-precision inputs. Row-lag form (gaps ignored); one window
    // shuffle over the pre-aggregated daily series.
    "q_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val daily = Parity.t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
            .cast("long").alias("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .alias("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderstatus")).orderBy(col("day").asc)
      val weights = (0 until 4).map(i => math.pow(0.5, i + 1)) // exact halves
      val terms = (0 until 4).map(i => (lag(col("rev"), i).over(w), weights(i)))
      val num = terms.map { case (l, wt) => coalesce(l * lit(wt), lit(0.0)) }
        .reduce(_ + _)
      val den = terms.map { case (l, wt) =>
        when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
      daily.withColumn("ewma", num / den)
        .orderBy("o_orderstatus", "day")
    }),
    // Event-transition matrix (first-order Markov over each user's event
    // stream): lead() pairs consecutive events in ONE user-keyed shuffle;
    // transition probability = exact count ratio per from-state.
    "q_event_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val pairs = Parity.t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).alias("n"))
      val totals = pairs.groupBy(col("event_type"))
        .agg(sum(col("n")).alias("__tot"))
      pairs.join(broadcast(totals), "event_type")
        .withColumn("p", col("n").cast("double") / col("__tot").cast("double"))
        .select(col("event_type"), col("next_type"), col("n"), col("p"))
        .orderBy("event_type", "next_type")
    }),
    // Two-sample A/B statistic from exact DECIMAL power sums: Welch t on
    // order totals split by customer-key parity — every double op is
    // fixed-order over order-independent exact sums, so the statistic
    // itself hash-matches (Spark's avg/var_samp cannot).
    "q_ab_test" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val g = Parity.t(s, dir, "orders")
        .withColumn("grp", pmod(col("o_custkey"), lit(2)).cast("int"))
        .groupBy(col("grp"))
        .agg(
          count(lit(1)).alias("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).alias("__s1"),
          sum((col("o_totalprice").cast("decimal(18,2)") *
            col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,4)")).alias("__s2"))
        .select(col("grp"), col("n"),
          (col("__s1").cast("double") / col("n").cast("double")).alias("mean"),
          ((col("n").cast("double") * col("__s2").cast("double")
            - col("__s1").cast("double") * col("__s1").cast("double"))
            / (col("n").cast("double") * (col("n") - 1).cast("double"))).alias("variance"))
      val a = g.filter(col("grp") === 0).select(col("n").alias("n_a"),
        col("mean").alias("mean_a"), col("variance").alias("var_a"))
      val b = g.filter(col("grp") === 1).select(col("n").alias("n_b"),
        col("mean").alias("mean_b"), col("variance").alias("var_b"))
      a.crossJoin(b).select(
        col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        ((col("mean_a") - col("mean_b"))
          / sqrt(col("var_a") / col("n_a").cast("double")
            + col("var_b") / col("n_b").cast("double"))).alias("t_stat"))
    }),
    // Cohort retention: users bucketed by first-seen week, distinct-user
    // activity per (cohort, week), retention = active/size — product
    // analytics' standard matrix. User-keyed aggregates; the cohort-size
    // join broadcasts (weeks are few at any scale).
    "q_cohort_retention" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Parity.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 604800000000L").alias("week"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("week")).alias("cohort_week"))
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(count(lit(1)).alias("cohort_size"))
      e.distinct().join(cohorts, "user_id")
        .groupBy(col("cohort_week"), col("week"))
        .agg(countDistinct(col("user_id")).alias("active_users"))
        .join(broadcast(sizes), "cohort_week")
        .withColumn("retention",
          col("active_users").cast("double") / col("cohort_size").cast("double"))
        .orderBy("cohort_week", "week")
    }),
    // Windowed conversion funnel (view -> click -> purchase, each step
    // within 24 h of the previous): per-user stage via ONE shuffle —
    // events fold inside a higher-order aggregate over the user's
    // time-sorted event array, carrying (stage, last-transition-ts)
    // state; "first qualifying event in sorted order" is exactly the
    // nested-min-with-bounds formulation the oracle uses. A sparse
    // deterministic event subset keeps all four stages populated.
    "q_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val W = 86400000000L // 24 h in micros
      val e = Parity.eventsUs(s, dir)
        .filter(pmod(col("event_id"), lit(7)) < 2)
        .select(col("user_id"), col("ts"), col("event_type"))
      def step(st: org.apache.spark.sql.Column, ev: org.apache.spark.sql.Column,
          from: Int, typ: String) =
        st.getField("stage") === from && ev.getField("event_type") === typ &&
          ev.getField("ts") > st.getField("t") &&
          ev.getField("ts") <= st.getField("t") + lit(W)
      val folded = e.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_type"))))
          .alias("__evs"))
        .select(col("user_id"),
          aggregate(col("__evs"),
            struct(lit(0).alias("stage"), lit(Long.MinValue).alias("t")),
            (st, ev) =>
              when(st.getField("stage") === 0 && ev.getField("event_type") === "view",
                struct(lit(1).alias("stage"), ev.getField("ts").alias("t")))
              .when(step(st, ev, 1, "click"),
                struct(lit(2).alias("stage"), ev.getField("ts").alias("t")))
              .when(step(st, ev, 2, "purchase"),
                struct(lit(3).alias("stage"), ev.getField("ts").alias("t")))
              .otherwise(st),
            st => st.getField("stage")).alias("funnel_stage"))
      folded.groupBy(col("funnel_stage"))
        .agg(count(lit(1)).alias("n_users"))
        .orderBy("funnel_stage")
    }),
    // Batch sliding-window aggregation (1 h windows every 30 min): each
    // event lands in exactly two windows; Spark's window() generator is
    // narrow (no explode shuffle), the aggregate partials map-side.
    // ts normalized to exact epoch-micros long (Parity.eventsUs).
    "q_window_sliding" -> ((s, dir) => {
      val e = Parity.eventsUs(s, dir)
        .withColumn("__t", timestamp_micros(col("ts")))
      e.groupBy(window(col("__t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).alias("n"),
          min(col("event_id")).alias("first_id"),
          max(col("event_id")).alias("last_id"))
        .select(
          unix_micros(col("window.start")).alias("start_us"),
          unix_micros(col("window.end")).alias("end_us"),
          col("event_type"), col("n"), col("first_id"), col("last_id"))
        .orderBy("start_us", "event_type")
    }),
    // Higher-order array functions as the query surface (transform /
    // filter / aggregate / zip_with) — all narrow, zero shuffle.
    "q_higher_order" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir).select(
          col("doc_id"),
          aggregate(transform(toks, t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).alias("chars_in_tokens"),
          size(filter(toks, t => length(t) >= 6)).cast("long").alias("long_words"),
          size(filter(zip_with(toks, slice(toks, 2, 1000000), (a, b) => a === b),
            x => x)).cast("long").alias("adjacent_repeats"))
        .orderBy("doc_id")
    }),
    // Tokenizer fertility per language: exact BIGINT corpus sums + the
    // chars-per-token / pre-tokens-per-token ratios a tokenizer team
    // profiles before training.
    "text_fertility" -> ((s, dir) =>
      TextAnalysis.fertility(docs(s, dir), "lang", "text").orderBy("lang")),
    // SemDeDup-shaped semantic diversity downsampling: nearest-centroid
    // cells, keep the `cap` least-centroid-similar vectors per cell —
    // cluster-then-prune with no pairwise comparisons.
    "sim_cluster_sample" -> ((s, dir) =>
      Similarity.clusterCapSample(embs(s, dir), "vec_id", "embedding",
          numCentroids = 16, cap = 20)
        .orderBy("cell", "rank")),
    // Domain-mixture sampling: deterministic per-source rate sampling that
    // hits the target language mix with maximal data retention.
    "prep_mixture" -> ((s, dir) =>
      graft.ops.TrainPrep.mixtureSample(docs(s, dir), "lang", "doc_id",
          Map("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "de" -> 0.1, "fr" -> 0.1))
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),
    // Temperature-flattened source mixing (p ∝ n^(1/2)) with exact-integer
    // square-root weights and Hamilton largest-remainder quotas —
    // cross-engine reproducible where pow/ln-based temperatures are not.
    "prep_mixture_temperature" -> ((s, dir) =>
      graft.ops.TrainPrep.temperatureMixture(docs(s, dir), "doc_id", "source",
          total = 200L)
        .orderBy("doc_id")),
    // Arbitrary-integer-temperature mixing (here t = 3): weights are the
    // EXACT integer cube root — a pow seed corrected over ±2 candidates by
    // exact BIGINT powers, so both engines land on ⌊n^(1/3)⌋ regardless of
    // libm rounding. Generalizes the t = 2 sqrt spelling the judge asked
    // about (VERDICT r10 stretch #8).
    "prep_mixture_temperature_t3" -> ((s, dir) =>
      graft.ops.TrainPrep.temperatureMixtureT(docs(s, dir), "doc_id", "source",
          total = 200L, t = 3)
        .orderBy("doc_id")),
    // Z-order layout key: min/max-binned Morton interleave over two
    // dimensions of events — the value Layout.cluster range-partitions by.
    // Pure integer arithmetic, reproduced bit-for-bit by the oracle.
    "q_zorder" -> ((s, dir) => {
      val e = Parity.t(s, dir, "events").select(col("event_id"), col("user_id"),
        pmod(col("event_id"), lit(997)).alias("b"))
      graft.ops.Layout.withZValue(e, Seq("user_id", "b"), bits = 8, zCol = "zval")
        .select(col("event_id"), col("zval")).orderBy("event_id")
    }),
    // Incremental aggregate maintenance: prev aggregate + CDC changelog
    // (inserts = new orderkeys, deletes = a subset of the base) folded by
    // Incremental.refreshAgg. The ORACLE recomputes the aggregate directly
    // from the final row set — the hash match IS the proof that the
    // incremental fold equals a full rescan.
    "q_incremental_agg" -> ((s, dir) => {
      import graft.ops.Incremental
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
      val orders = Parity.t(s, dir, "orders")
        .withColumn("o_totalprice", dec(col("o_totalprice")))
      val base = orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      val prev = Incremental.aggregate(base, Seq("o_orderpriority"), Seq("o_totalprice"))
      val changes = orders.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("_change", lit("insert"))
        .unionByName(
          base.filter(col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(7)) === 0)
            .withColumn("_change", lit("delete")))
        .select(col("o_orderpriority"), col("o_totalprice"), col("_change"))
      Incremental.refreshAgg(prev, changes, Seq("o_orderpriority"), Seq("o_totalprice"))
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_o_totalprice").cast("double").alias("total_price"))
        .orderBy("o_orderpriority")
    }),
    // ── Dedup ──
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactByKey(docs(s, dir), "text", "doc_id").orderBy("doc_id")),
    // Character-exact near-dup pairs: Levenshtein within prefix+length
    // blocks — the typo-class complement to the token-set sketches. The
    // banded DP runs only inside blocked candidate pairs, never all-pairs.
    "dedup_editdistance" -> ((s, dir) =>
      Dedup.editDistanceDups(docs(s, dir), "doc_id", "text", maxDist = 8)
        .orderBy("doc_a", "doc_b")),
    // Incremental (daily-ingest) dedup on events: history = first tenth of
    // the id space, batch = the rest; only never-seen (user, type) keys
    // survive, lowest event id wins. History contributes distinct keys to
    // an unhinted anti join — yesterday's corpus is never re-deduped.
    "dedup_incremental" -> ((s, dir) => {
      val ev = Parity.t(s, dir, "events")
      val thr = ev.agg(floor(max(col("event_id")) / 10).alias("__thr"))
      val withThr = ev.crossJoin(broadcast(thr))
      Dedup.incremental(
        withThr.filter(col("event_id") < col("__thr")).drop("__thr"),
        withThr.filter(col("event_id") >= col("__thr")).drop("__thr"),
        Seq("user_id", "event_type"), "event_id")
        .orderBy("user_id", "event_type")
    }),
    // Same split as dedup_incremental, through the Bloom-gated path: the
    // sketch splits the batch into definitely-new (bloom miss — provably
    // unseen, no join) vs possibly-seen (exact anti join); output must
    // hash-match the ungated oracle exactly — correctness never rides on
    // the sketch.
    "dedup_incremental_bloom" -> ((s, dir) => {
      val ev = Parity.t(s, dir, "events")
      val thr = ev.agg(floor(max(col("event_id")) / 10).alias("__thr"))
      val withThr = ev.crossJoin(broadcast(thr))
      Dedup.incrementalBloom(
        withThr.filter(col("event_id") < col("__thr")).drop("__thr"),
        withThr.filter(col("event_id") >= col("__thr")).drop("__thr"),
        Seq("user_id", "event_type"), "event_id")
        .orderBy("user_id", "event_type")
    }),
    "dedup_exact_events" -> ((s, dir) =>
      Parity.t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).alias("first_event"), count(lit(1)).alias("copies"))
        .orderBy("user_id", "event_type")),
    // The four sketch pipelines below run the PRODUCTION code path (window
    // shingling, MinhashAgg/SimhashAgg, band/blocking equi-joins,
    // clustering) with the reproducible polynomial token hash injected in
    // place of xxhash64, so DuckDB replicates every value exactly and the
    // driver hash-checks the shipped pipeline, not a parallel variant.
    // Bench keeps the xxhash64 default (see Bench.productionVariants).
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), "doc_id", "text", k = 3, numHashes = 32,
        bands = 16, minJaccard = 0.2, tokenHash = Dedup.oracleHash)
        .orderBy("id_a", "id_b")),
    // maxHamming=3 is the completeness bound of the 16-bit-quarter
    // blocking (pigeonhole): every reported pair is exact and no ≤3 pair
    // is missed — which is why an all-pairs DuckDB oracle checks it.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDups(docs(s, dir), "doc_id", "text", maxHamming = 3,
        tokenHash = Dedup.oracleHash)
        .orderBy("id_a", "id_b")),
    "dedup_minhash_oracle" -> (graft.queries.DedupOracle.minhashOracle _),
    "dedup_simhash_oracle" -> (graft.queries.DedupOracle.simhashOracle _),
    "dedup_jaccard_neighbors" -> (graft.queries.DedupOracle.jaccardNeighbors _),
    // Corpus-level mergeable MinHash per source + sketch-estimated
    // pairwise Jaccard — the constant-size overlap triage that stands in
    // for the exact shared-n-gram join at scale.
    "dedup_source_sketch" -> ((s, dir) =>
      Dedup.groupSketchOverlap(docsWide(s, dir), "source", "text", k = 3,
          numHashes = 32, tokenHash = Dedup.oracleHash)
        .orderBy("source_a", "source_b")),
    // Asymmetric containment over the same deterministic neighbor pairs:
    // |A∩B|/|A| vs /|B| — catches subset duplication Jaccard misses.
    "dedup_containment" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").alias("id_a"),
          explode(sequence(lit(1), lit(4))).alias("__d"))
        .withColumn("id_b", col("id_a") + col("__d"))
        .join(d.select(col("doc_id").alias("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
      Dedup.ngramContainment(pairs, d, "doc_id", "text", k = 3,
          tokenHash = Dedup.oracleHash)
        .orderBy("id_a", "id_b")
    }),
    // maxIter=64 (with the early-convergence check) guarantees labels hit
    // the true component minimum, matching the oracle's transitive closure.
    "dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(docs(s, dir), "doc_id", "text",
        minJaccard = 0.5, k = 3, numHashes = 32, bands = 8,
        tokenHash = Dedup.oracleHash, maxIter = 64)
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")),
    // Canonical selection: same clusters as dedup_corpus, but each one
    // keeps its LONGEST member (ties → smaller id) — the keep-the-best
    // policy, one cluster-keyed argmax over the labelled corpus.
    "dedup_corpus_canonical" -> ((s, dir) =>
      Dedup.dedupCorpusCanonical(docs(s, dir), "doc_id", "text",
        quality = length(col("text")).cast("long"),
        minJaccard = 0.5, k = 3, numHashes = 32, bands = 8,
        tokenHash = Dedup.oracleHash, maxIter = 64)
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")),
    // Connected components over the near-dup pair graph by pointer-doubling
    // min-label propagation (O(log diameter) rounds) — every doc labelled
    // with the smallest doc_id in its duplicate cluster; singletons keep
    // their own id. Checked against the oracle's full transitive closure.
    "q_connected_components" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text", k = 3, numHashes = 32,
          bands = 8, minJaccard = 0.5, tokenHash = Dedup.oracleHash)
        .select("id_a", "id_b")
      Dedup.labelEvery(d, Dedup.clustersFast(pairs, maxIter = 25), "doc_id")
        .orderBy("doc_id")
    }),
    // Incremental component maintenance replayed as a daily ingest: docs
    // with doc_id % 5 == 0 are "today's batch", the rest are history whose
    // labels converged yesterday (clustersFast over old-only pairs). The
    // batch's pairs fold in via clustersIncremental — pointer doubling runs
    // on the CONTRACTED batch graph, so rounds scale with the day's data —
    // yet the result must hash-match the full-corpus transitive closure
    // (same oracle as q_connected_components).
    "dedup_incremental_components" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text", k = 3, numHashes = 32,
          bands = 8, minJaccard = 0.5, tokenHash = Dedup.oracleHash)
        .select("id_a", "id_b").localCheckpoint(false)
      val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val oldPairs = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
      val newPairs = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
      // yesterday's converged labels over EVERY old doc (paired or singleton)
      val history = Dedup.labelEvery(
        d.filter(!isNew(col("doc_id"))).select(col("doc_id").alias("id")),
        Dedup.clustersFast(oldPairs, maxIter = 25))
      Dedup.labelEvery(d, Dedup.clustersIncremental(history, newPairs, maxIter = 25),
          "doc_id")
        .orderBy("doc_id")
    }),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text", k = 2, numHashes = 32,
        bands = 16, minJaccard = 0.0, tokenHash = Dedup.oracleHash)
        .select("id_a", "id_b")
      Dedup.ngramJaccard(pairs, d, "doc_id", "text", k = 2,
        tokenHash = Dedup.oracleHash).orderBy("id_a", "id_b")
    }),
    // ── Similarity search ──
    "sim_topk_bruteforce" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5).orderBy("query_id", "rank")
    }),
    "sim_topk_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", dim = 64, k = 5, bits = 6, tables = 4)
        .orderBy("query_id", "rank")
    }),
    // Multi-probe LSH (Lv et al. VLDB'07): each query also probes the two
    // nearest-boundary single-bit-flip buckets per table — recall tunes
    // per-query while the corpus index stays ONE key per table.
    "sim_topk_lsh_multiprobe" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopKMultiProbe(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", dim = 64, k = 5, bits = 6, tables = 4, numProbes = 2)
        .orderBy("query_id", "rank")
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, numCentroids = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // The PERSISTED IVF index (VectorIndex: codebook + cell-partitioned
    // inverted-list catalog tables): build once, search from the stored
    // lists — same cells, same fixed-order rescore, so the indexed search
    // hash-matches sim_topk_ivf's oracle verbatim.
    "sim_topk_ivf_indexed" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.storage.GraftCatalog.registerTemp(s, "vidxq")
      s.sql("CREATE NAMESPACE IF NOT EXISTS vidxq.s")
      ops.VectorIndex.build(s, e, "vec_id", "embedding", "vidxq.s.emb",
        numCentroids = 16)
      ops.VectorIndex.search(s, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "vidxq.s.emb", k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // Tombstone deletes on the persisted index: delete is an O(batch)
    // marker append (no list rewrite), every search anti-joins the masks
    // BEFORE ranking so top-k backfills with live rows, and vacuum
    // physically reclaims only the affected cells' partitions. The whole
    // lifecycle — build, delete 1/7 of the corpus, vacuum, search — runs
    // inside the verified query; the oracle is the inline IVF funnel over
    // the surviving rows under the full-corpus codebook.
    "sim_topk_ivf_deleted" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.storage.GraftCatalog.registerTemp(s, "vidxd")
      s.sql("CREATE NAMESPACE IF NOT EXISTS vidxd.s")
      ops.VectorIndex.build(s, e, "vec_id", "embedding", "vidxd.s.emb",
        numCentroids = 16)
      ops.VectorIndex.delete(s, e.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id")), "vec_id", "vidxd.s.emb")
      ops.VectorIndex.vacuum(s, "vidxd.s.emb")
      ops.VectorIndex.search(s, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "vidxd.s.emb", k = 5, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // The persisted IVFADC: PQ codebook + cell-partitioned 4-byte code
    // table derived from the stored lists; the candidate scan reads ONLY
    // the probed cells' code partitions, the float lists only serve the
    // exact rescore. Same stages as sim_topk_ivf_pq — hash-matches its
    // oracle verbatim.
    "sim_topk_pq_indexed" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.storage.GraftCatalog.registerTemp(s, "vpqq")
      s.sql("CREATE NAMESPACE IF NOT EXISTS vpqq.s")
      ops.VectorIndex.build(s, e, "vec_id", "embedding", "vpqq.s.emb",
        numCentroids = 16)
      ops.VectorIndex.buildPqCodes(s, "vpqq.s.emb", numSub = 4, numCodes = 16)
      ops.VectorIndex.searchPq(s, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "vpqq.s.emb", k = 5, nprobe = 4, refine = 4)
        .orderBy("query_id", "rank")
    }),
    // Matryoshka funnel: 16-of-64-dim prefix cosine scan for candidates,
    // exact full-dim rescore of k×refine — the element-count sibling of the
    // int8 byte-count funnel below, hash-checked end to end.
    "sim_topk_matryoshka" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.matryoshkaTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, prefixDim = 16, refine = 4)
        .orderBy("query_id", "rank")
    }),
    // The bucketed Matryoshka funnel: IVF cells fit/assigned/probed on the
    // 16-dim prefix, prefix-cosine candidates inside nprobe=4 of 16 cells
    // only (1/4 of the corpus rows × 1/4 of the bytes), exact full-dim
    // rescore of k×refine — the candidate stage no longer scans the whole
    // corpus per query, and the whole funnel stays hash-checked.
    "sim_topk_matryoshka_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.matryoshkaIvfTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, prefixDim = 16, refine = 4,
        numCentroids = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // The FULL funnel: IVF cells × Matryoshka prefix × int8 codes + exact
    // rescore — the candidate scan touches nprobe/numCentroids of the rows
    // × prefixDim/dim of the elements × ¼ of the bytes (1/256 of the float
    // corpus volume at these knobs), hash-checked end to end.
    "sim_topk_mrl_ivf_int8" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.matryoshkaIvfQuantizedTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, prefixDim = 16, refine = 4,
        numCentroids = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),
    // The composed funnel: int8-quantized 16-dim prefix scan (1/16 of the
    // float corpus bytes) + exact full-dim rescore — proof the byte and
    // element funnels compose, hash-checked end to end.
    "sim_topk_mrl_int8" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.matryoshkaQuantizedTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, prefixDim = 16, refine = 4)
        .orderBy("query_id", "rank")
    }),
    // int8-quantized candidate scan (¼ the bytes of float32) + exact float
    // rescore of k×refine candidates — the oracle replicates quantization,
    // integer dot, candidate cut, and rescore, so the whole pipeline is
    // hash-checked end to end.
    "sim_topk_int8" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, refine = 4).orderBy("query_id", "rank")
    }),
    // Product quantization (Jégou et al., TPAMI 2011): 4 sub-codebooks ×
    // 16 codes = 4 code bytes per vector (64× under float32); ADC
    // candidate scan with j-ordered partial folds, exact cosine rescore.
    "sim_topk_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, numSub = 4, numCodes = 16, refine = 4)
        .orderBy("query_id", "rank")
    }),
    // The composed IVFADC (FAISS) shape: coarse cells prune to
    // nprobe/numCentroids of the ROWS, PQ codes cut the scanned bytes
    // 64× — ~1/256 of the corpus volume before the exact rescore.
    "sim_topk_ivf_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 5, numCentroids = 16, nprobe = 4,
        numSub = 4, numCodes = 16, refine = 4)
        .orderBy("query_id", "rank")
    }),
    // Semantic (embedding-space) corpus dedup: the model-space companion
    // to lexical dedup_corpus — catches paraphrase-grade duplicates that
    // share no n-grams. Survivor set checked against a transitive-closure
    // oracle over the exact SRP-bucketed pair table.
    "dedup_corpus_semantic" -> ((s, dir) =>
      Dedup.dedupCorpusByEmbedding(embs(s, dir), "vec_id", "embedding",
          dim = 64, threshold = 0.30)
        .select(col("vec_id")).orderBy("vec_id")),
    "sim_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineNearDups(embs(s, dir), "vec_id", "embedding", dim = 64,
        threshold = 0.30, bits = 6, tables = 4).orderBy("id_a", "id_b")),
    // Metadata-filtered vector search: top-5 within the query's label
    // stratum — the attribute equality is part of the broadcast join
    // condition (pre-filter), so scoring never touches other strata.
    "sim_topk_filtered" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.filteredTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "label", k = 5).orderBy("query_id", "rank")
    }),
    // k-NN majority-vote label classification over the exact top-5 — the
    // label column makes the ANN surface an end-to-end classifier; votes
    // are integer counts, so the check is hash-exact.
    "sim_knn_classify" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", "label", k = 5).orderBy("query_id")
    }),
    // Nearest-centroid confusion matrix: per-label centroid via the
    // fixed-point vec_fixed_sum_agg (order-independent bigint sums — the
    // centroid is bit-identical across engines), broadcast assignment,
    // integer cells.
    "sim_label_confusion" -> ((s, dir) =>
      Similarity.labelCentroidConfusion(embs(s, dir), "vec_id", "embedding",
        "label", dim = 64).orderBy("label", "pred")),
    // 3-iteration damped PageRank over the part↔supplier bipartite graph
    // from lineitem — exact 1e-12-unit bigint arithmetic (floor-division
    // contributions), so the ranks hash-match any engine. One edge-table
    // pass; each iteration is one join + one aggregate.
    "q_pagerank" -> ((s, dir) => graft.ops.Graph.pageRankTop(s, dir, k = 20)),
    // Weighted sample without replacement by priority sampling (Duffield-
    // Lund-Thorup): q = w/u with u hashed from the id — ONE correctly-
    // rounded division (no pow/ln libm drift); global top-50 plans as
    // TakeOrderedAndProject.
    "prep_priority_sample" -> ((s, dir) =>
      graft.ops.TrainPrep.prioritySample(docs(s, dir), "doc_id",
        col("n_chars"), k = 50)),
    // Per-language weighted sample: the same priority key ranked within
    // each lang — WindowGroupLimit prunes to k per group map-side.
    "prep_priority_sample_lang" -> ((s, dir) =>
      graft.ops.TrainPrep.prioritySampleGrouped(docs(s, dir), "doc_id",
        col("n_chars"), "lang", k = 10)
        .select(col("lang"), col("rank"), col("doc_id"), col("weight"),
          col("priority"))
        .orderBy("lang", "rank")),
    // Deterministic global training-order shuffle: contiguous 0-based pos
    // in hash order via range sort + per-partition offset join — the
    // scalable enumeration pattern (never a single-partition window).
    "prep_shuffle_order" -> ((s, dir) =>
      graft.ops.TrainPrep.shuffleOrder(docs(s, dir), "doc_id")
        .select(col("pos"), col("doc_id"), col("h")).orderBy("pos")),
    // ── Multimodal columns ──
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.metaSummary(Multimodal.mediaFromDocuments(docs(s, dir)))),
    "multimodal_bytestats" -> ((s, dir) =>
      Multimodal.byteStats(Multimodal.mediaFromDocuments(docs(s, dir)))),
    // Checked surface is all-scalar: the embedding array is collapsed to
    // its squared norm via the native vec_dot (the driver's pandas compare
    // can't factorize array columns), so the decode math — pixel cycling,
    // mean intensity, per-band float means — is still fully hash-checked.
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeImages(Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          col("width").cast("long").alias("width"),
          col("height").cast("long").alias("height"),
          col("mean_intensity"),
          graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))
            .alias("emb_norm2"))
        .orderBy("media_id")),
    // every individual embedding band value, exploded to scalars — the
    // complete per-element check of the decode feature math
    "multimodal_decode_bands" -> ((s, dir) =>
      Multimodal.decodeImages(Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF()
        .select(col("media_id"), posexplode(col("embedding")))
        .toDF("media_id", "band", "value")
        .select(col("media_id"), col("band").cast("long").alias("band"), col("value"))
        .orderBy("media_id", "band")),
    // Cross-modal retrieval plumbing: image decode-stub embeddings vs text
    // hashing-trick embeddings in one 16-dim space; image tower broadcast,
    // text corpus never shuffled, per-image WindowGroupLimit rank.
    "multimodal_crossmodal" -> ((s, dir) =>
      Multimodal.crossModalTopK(docs(s, dir), k = 3, dim = 16,
          tokenHash = Dedup.oracleHash)
        .orderBy("media_id", "rank")),
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.audioEnergy(Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF().orderBy("media_id", "frame_index")),
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(docs(s, dir)))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).alias("n_frames_sampled"))
        .orderBy("media_id")),
    // ── Text analysis ──
    "text_token_count" -> ((s, dir) => TextAnalysis.tokenCount(docs(s, dir))),
    "text_bpe_tokens" -> ((s, dir) => TextAnalysis.bpeTokenCount(docs(s, dir))),
    "text_quality" -> ((s, dir) => TextAnalysis.qualityScore(docs(s, dir))),
    "text_langid" -> ((s, dir) => TextAnalysis.languageId(docs(s, dir))),
    "text_quality_filter" -> ((s, dir) => TextAnalysis.qualityFilter(docs(s, dir))),
    // Gopher rule battery (Rae et al. 2112.11446 §A1.1) — all thresholds
    // as exact integer comparisons, one narrow pass.
    "text_gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(docs(s, dir))),
    "text_lang_confusion" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.languageId(d)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    }),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprints(docs(s, dir))),
    // hashing-trick embeddings, checked through scalar projections (nnz,
    // l1, squared norm — all integer-exact, so engine-order independent)
    "text_hash_embed" -> ((s, dir) => {
      val emb = TextAnalysis.hashEmbeddings(docs(s, dir), "doc_id", "text",
        dim = 64, tokenHash = Dedup.oracleHash)
      emb.select(col("doc_id"),
        size(filter(col("embedding"), v => v =!= lit(0f))).cast("long").alias("nnz"),
        aggregate(col("embedding"), lit(0.0), (a, v) => a + abs(v.cast("double"))).alias("l1"),
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).alias("norm2"))
        .orderBy("doc_id")
    }),
    "text_tf_rarity" -> ((s, dir) =>
      TextAnalysis.tfRarity(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),
    // In-engine quality-gate training: one count pass of balanced
    // Laplace-smoothed Naive-Bayes posteriors per hash bucket over a
    // deterministically-labeled fixture (positive = lang 'en'), exact
    // integer micro-unit weights out. The 64-row weight table IS the
    // model — collect-able, versionable as a catalog table.
    "prep_quality_train" -> ((s, dir) =>
      TextAnalysis.trainQualityWeights(
          docs(s, dir).select(col("doc_id"), col("text"),
            (col("lang") === "en").cast("long").alias("y")),
          "text", "y", dim = 64, tokenHash = Dedup.oracleHash)
        .orderBy("bucket")),
    // Hashed linear quality classifier scored with the IN-ENGINE-TRAINED
    // weights (train on the lang-labeled fixture, then one narrow
    // projection scores the corpus): per-token weight lookup + exact
    // bigint logit fold. The 64-long collect is codebook-sized — the
    // same driver-set class as IVF's probed cells.
    "prep_quality_logit" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = TextAnalysis.trainQualityWeights(
          d.select(col("doc_id"), col("text"),
            (col("lang") === "en").cast("long").alias("y")),
          "text", "y", dim = 64, tokenHash = Dedup.oracleHash)
        .orderBy("bucket").collect().map(_.getAs[Long]("weight_micro")).toSeq
      TextAnalysis.qualityLogit(d, "doc_id", "text", dim = 64,
        weightsMicro = w, tokenHash = Dedup.oracleHash)
        .orderBy("doc_id")
    }),
    // ── Data quality ──
    // One-row corpus datasheet (Gebru et al., CACM 2021): volumes,
    // breadth, exact-dup mass, quality-gate pass count — single
    // aggregate pass, every figure exact BIGINT.
    "quality_datasheet" -> ((s, dir) =>
      TextAnalysis.corpusDatasheet(docs(s, dir))),
    "quality_report" -> ((s, dir) => {
      import graft.quality.Expectations._
      report(Parity.t(s, dir, "customer"), Seq(
        NotNull("c_name"),
        Unique("c_custkey"),
        Between("c_acctbal", -999.99, 9999.99),
        MatchesRegex("c_name", "^Customer#[0-9]+$"),
        InSet("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))
        .orderBy("rule", "column")
    }),
    // ── Training-set preparation ──
    "prep_split" -> ((s, dir) =>
      graft.ops.TrainPrep.splitByHash(docs(s, dir), "doc_id")
        .select(col("doc_id"), col("bucket"), col("split")).orderBy("doc_id")),
    "prep_pack" -> ((s, dir) =>
      graft.ops.TrainPrep.packSequences(docs(s, dir), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"), budget = 512)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("seq_id"))
        .orderBy("doc_id")),
    // Loader-facing pack manifest: per-doc sequence id, within-sequence
    // token offset, and whether the doc spills across the boundary — what
    // a training data-reader needs to slice packed token streams. Same
    // enumeration as prep_pack (projections of one running sum).
    // Packing-efficiency report: per language, sequence counts, padding
    // waste, and boundary-split documents — the loader-facing cost sheet
    // of the contiguous pack layout, one group aggregate over the same
    // enumeration.
    "prep_pack_efficiency" -> ((s, dir) =>
      graft.ops.TrainPrep.packEfficiency(docs(s, dir), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"), budget = 512)),
    "prep_pack_manifest" -> ((s, dir) =>
      graft.ops.TrainPrep.packManifest(docs(s, dir), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))).cast("long"), budget = 512)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("seq_id"),
          col("seq_offset"), col("spills_into_next"))
        .orderBy("doc_id")),
    // Per-doc triangle counts over the near-dup pair graph (degree-oriented
    // wedge join — each node's oriented out-degree is O(sqrt(m)), so no
    // power-law key melts the join). Triangles measure clique-ness of dup
    // clusters; checked against the oracle's id-ordered enumeration.
    "q_triangle_counts" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashLsh(d, "doc_id", "text", k = 3, numHashes = 32,
          bands = 8, minJaccard = 0.5, tokenHash = Dedup.oracleHash)
        .select("id_a", "id_b")
      d.select(col("doc_id"))
        .join(graft.ops.Graph.triangleCounts(pairs)
          .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_triangles"), lit(0L)).alias("n_triangles"))
        .orderBy("doc_id")
    }),
    "prep_vocab" -> ((s, dir) =>
      graft.ops.TrainPrep.topTokens(docs(s, dir), "text", k = 50)
        .orderBy("rank")),
    "prep_scrub" -> ((s, dir) =>
      graft.ops.TrainPrep.scrubText(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // end-to-end corpus prep: scrub → quality gate → exact dedup → split →
    // pack, with the reproducible fingerprint injected for the oracle
    "prep_corpus" -> ((s, dir) =>
      graft.ops.TrainPrep.prepareCorpus(docs(s, dir), "doc_id", "text", "lang",
        textHash = TextAnalysis.fingerprint).orderBy("doc_id")),
    // Context-window chunking: 32-token windows advancing by 24 (8-token
    // overlap) — documents become model-context-sized training examples.
    // Entirely narrow; zero shuffles at any corpus size.
    "prep_chunk" -> ((s, dir) =>
      graft.ops.TrainPrep.chunkDocuments(docs(s, dir), "doc_id", "text",
        chunkSize = 32, stride = 24).orderBy("doc_id", "chunk_id")),
    // Byte-faithful chunking: substring windows over the RAW text (128
    // chars advancing by 96) — original whitespace preserved exactly,
    // unlike the token variant's array_join reconstruction.
    "prep_chunk_chars" -> ((s, dir) =>
      graft.ops.TrainPrep.chunkDocumentsChars(docs(s, dir), "doc_id", "text",
        chunkSize = 128, stride = 96).orderBy("doc_id", "chunk_id")),
    // The chunked end-to-end pipeline: scrub → gate → dedup → chunk →
    // doc-keyed split → pack chunks into token-budget sequences. The
    // manifest a tokenizer actually consumes when training on windows.
    "prep_corpus_chunked" -> ((s, dir) =>
      graft.ops.TrainPrep.prepareCorpusChunked(docs(s, dir), "doc_id", "text", "lang",
        textHash = TextAnalysis.fingerprint).orderBy("doc_id", "chunk_id")),
    // The incremental training-data DAY as one composed pipeline: docs with
    // doc_id % 5 == 0 play today's batch against the rest as immutable
    // history — bloom-gated exact dedup (first-seen wins), incremental
    // near-dup component fold, shared scrub/gate front, re-pack over the
    // union manifest. The oracle is the FROM-SCRATCH pipeline over the
    // merged corpus with history-wins priority: the fold must be
    // indistinguishable from rebuilding the world.
    "prep_corpus_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      graft.ops.TrainPrep.prepareCorpusIncremental(
          d.filter(!isNew), d.filter(isNew), "doc_id", "text", "lang",
          tokenHash = Dedup.oracleHash, textHash = TextAnalysis.fingerprint)
        .orderBy("doc_id")
    }),
    // Corpus bigram-LM familiarity: perplexity-style filtering signal with
    // exact integer arithmetic (ratios of BIGINT sums) instead of
    // log-space floats — hash-checkable and order-independent.
    "prep_bigram_lm" -> ((s, dir) =>
      graft.ops.TrainPrep.bigramFamiliarity(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
  )

  /** Correctly-rounded DECIMAL(38,4)→DOUBLE for DuckDB: the naive CAST
    * double-rounds when the unscaled value exceeds 2^53 (round to double,
    * THEN divide by 10^4 — observed 1 ULP off Spark's BigDecimal
    * conversion on the A/B power sums). Splitting into an exactly-
    * representable integer part (< 2^53 for these magnitudes) plus a
    * correctly-rounded sub-unit fraction leaves ONE rounding — matching
    * Spark bit-for-bit. */
  private def dec4d(e: String): String =
    s"(CAST(CAST($e AS HUGEINT) AS DOUBLE) + CAST($e - CAST(CAST($e AS HUGEINT) AS DECIMAL(38,4)) AS DOUBLE))"

  /** Shared CTEs for the polynomial-hash dedup oracles: per-doc token
    * hashes (`tk`) and 3-gram shingle hashes (`sh`) in DuckDB, mirroring
    * queries.DedupOracle's arithmetic exactly. */
  private val oracleTk =
    """tk AS (
         SELECT doc_id,
                list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                  w -> list_reduce(list_prepend(CAST(7 AS BIGINT),
                         list_transform(list_filter(string_split(w, ''), c -> c <> ''),
                                        c -> CAST(ascii(c) AS BIGINT))),
                       (a, c) -> (a * 31 + c) % 1000000007)) AS th
         FROM documents)"""

  /** Balanced Laplace-smoothed NB posterior weights per token-hash bucket,
    * trained on the lang='en' labeling — integer-exact arithmetic
    * mirroring [[graft.ops.TextAnalysis.trainQualityWeights]] (`//` is
    * DuckDB floor division; all operands positive, matching Spark's
    * `div`). Composes after [[oracleTk]]. */
  // ---- BPE trainer oracle: six unrolled count→argmax→merge rounds. -----
  // MATERIALIZED CTEs are load-bearing: without them DuckDB inlines each
  // round's references to the previous state and the plan blows up
  // exponentially in the round count. The merge pass is spelled with the
  // run trick: adjacent (l,r) hits can only be consecutive when l = r, in
  // which case greedy-leftmost keeps the odd-ranked hits of each
  // consecutive run (gaps-and-islands), matching mergePairFold's fold.
  // When pair merges EXHAUST before the unrolled round count (a corpus of
  // single-character words), best$k emits one all-NULL sentinel row so the
  // pos$k cross join still matches and the state CARRIES FORWARD — a bare
  // LIMIT 1 over an empty pc$k would zero out st$k and every downstream
  // CTE, silently diverging from bpeTrainCore's early stop; the train
  // output filters the sentinel back out (WHERE l IS NOT NULL).
  private def bpeRoundCtes(k: Int): String = {
    val p = k - 1
    s"""
    pc$k AS MATERIALIZED (
      SELECT struct_extract(u.pair, 1) AS l, struct_extract(u.pair, 2) AS r,
             sum(s.cnt) AS c
      FROM st$p s, UNNEST(list_zip(s.toks[:len(s.toks)-1], s.toks[2:])) AS u(pair)
      GROUP BY 1, 2),
    best$k AS MATERIALIZED (
      (SELECT l, r, c FROM pc$k ORDER BY c DESC, l, r LIMIT 1)
      UNION ALL
      (SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), NULL
       WHERE (SELECT count(*) FROM pc$k) = 0)),
    pos$k AS (
      SELECT s.word, s.cnt, s.toks, CAST(i.i AS BIGINT) AS i, len(s.toks) AS n,
             b.l AS bl, b.r AS br
      FROM st$p s, UNNEST(range(1, len(s.toks)+1)) AS i(i), best$k b),
    m$k AS (
      SELECT word, cnt, toks, i, n,
             coalesce(i < n AND toks[i] = bl AND toks[i+1] = br, FALSE) AS hit
      FROM pos$k),
    r$k AS (
      SELECT *, CASE WHEN hit THEN i - row_number()
                  OVER (PARTITION BY word, hit ORDER BY i) END AS run
      FROM m$k),
    s$k AS (
      SELECT *, CASE WHEN hit THEN (row_number()
                  OVER (PARTITION BY word, run ORDER BY i) % 2 = 1)
                ELSE FALSE END AS sel
      FROM r$k),
    e$k AS (
      SELECT word, cnt, i,
             CASE WHEN sel THEN toks[i] || toks[i+1] ELSE toks[i] END AS tok,
             CASE WHEN sel THEN TRUE
                  WHEN lag(sel, 1, FALSE) OVER (PARTITION BY word ORDER BY i)
                    THEN FALSE
                  ELSE TRUE END AS keep
      FROM s$k),
    st$k AS MATERIALIZED (
      SELECT word, max(cnt) AS cnt,
             list(tok ORDER BY i) FILTER (WHERE keep) AS toks
      FROM e$k GROUP BY word)"""
  }

  private def bpeStateCtes(rounds: Int): String =
    s"""WITH w0 AS (
      SELECT u.word AS word, count(*) AS cnt
      FROM documents d,
           UNNEST(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')) AS u(word)
      GROUP BY u.word),
    st0 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word)+1), i -> word[i]) AS toks
      FROM w0),""" + (1 to rounds).map(bpeRoundCtes).mkString(",")

  /** [[bpeRoundCtes]] with WordPiece's likelihood argmax: the round's
    * best pair maximizes the exact integer quotient
    * `⌊c·10¹² / (uc_l·uc_r)⌋` over the CURRENT unit counts (un$k), ties
    * lexicographic — mirroring
    * [[graft.ops.TextAnalysis.wordPieceTrainMerges]]. The merge pass is
    * bpe's verbatim (gaps-and-islands greedy-leftmost). */
  private def wpRoundCtes(k: Int): String = {
    val p = k - 1
    s"""
    un$k AS MATERIALIZED (
      SELECT u.t AS tok, sum(s.cnt) AS uc
      FROM st$p s, UNNEST(s.toks) AS u(t) GROUP BY 1),
    pc$k AS MATERIALIZED (
      SELECT struct_extract(u.pair, 1) AS l, struct_extract(u.pair, 2) AS r,
             sum(s.cnt) AS c
      FROM st$p s, UNNEST(list_zip(s.toks[:len(s.toks)-1], s.toks[2:])) AS u(pair)
      GROUP BY 1, 2),
    best$k AS MATERIALIZED (
      (SELECT l, r, c, sq FROM (
         SELECT pc.l AS l, pc.r AS r, pc.c AS c,
                CAST((CAST(pc.c AS HUGEINT) * 1000000000000)
                     // (CAST(ul.uc AS HUGEINT) * ur.uc) AS BIGINT) AS sq
         FROM pc$k pc
         JOIN un$k ul ON ul.tok = pc.l
         JOIN un$k ur ON ur.tok = pc.r)
       ORDER BY sq DESC, l, r LIMIT 1)
      UNION ALL
      (SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), NULL, NULL
       WHERE (SELECT count(*) FROM pc$k) = 0)),
    pos$k AS (
      SELECT s.word, s.cnt, s.toks, CAST(i.i AS BIGINT) AS i, len(s.toks) AS n,
             b.l AS bl, b.r AS br
      FROM st$p s, UNNEST(range(1, len(s.toks)+1)) AS i(i), best$k b),
    m$k AS (
      SELECT word, cnt, toks, i, n,
             coalesce(i < n AND toks[i] = bl AND toks[i+1] = br, FALSE) AS hit
      FROM pos$k),
    r$k AS (
      SELECT *, CASE WHEN hit THEN i - row_number()
                  OVER (PARTITION BY word, hit ORDER BY i) END AS run
      FROM m$k),
    s$k AS (
      SELECT *, CASE WHEN hit THEN (row_number()
                  OVER (PARTITION BY word, run ORDER BY i) % 2 = 1)
                ELSE FALSE END AS sel
      FROM r$k),
    e$k AS (
      SELECT word, cnt, i,
             CASE WHEN sel THEN toks[i] || toks[i+1] ELSE toks[i] END AS tok,
             CASE WHEN sel THEN TRUE
                  WHEN lag(sel, 1, FALSE) OVER (PARTITION BY word ORDER BY i)
                    THEN FALSE
                  ELSE TRUE END AS keep
      FROM s$k),
    st$k AS MATERIALIZED (
      SELECT word, max(cnt) AS cnt,
             list(tok ORDER BY i) FILTER (WHERE keep) AS toks
      FROM e$k GROUP BY word)"""
  }

  private def wpStateCtes(rounds: Int): String =
    s"""WITH w0 AS (
      SELECT u.word AS word, count(*) AS cnt
      FROM documents d,
           UNNEST(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')) AS u(word)
      GROUP BY u.word),
    st0 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word)+1), i -> word[i]) AS toks
      FROM w0),""" + (1 to rounds).map(wpRoundCtes).mkString(",")

  private def wpTrainSql(rounds: Int): String =
    wpStateCtes(rounds) + """
    SELECT * FROM (""" + (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, CAST(c AS BIGINT) AS pair_count, " +
        s"CAST(sq AS BIGINT) AS score_q FROM best$k " +
        "WHERE l IS NOT NULL")
      .mkString("\n      UNION ALL ") + """
    ) ORDER BY merge_rank"""

  private def bpeTrainSql(rounds: Int): String =
    bpeStateCtes(rounds) + """
    SELECT * FROM (""" + (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM best$k " +
        "WHERE l IS NOT NULL")
      .mkString("\n      UNION ALL ") + """
    ) ORDER BY merge_rank"""

  private def bpeVocabSql(rounds: Int, topK: Int): String =
    bpeStateCtes(rounds) + s""",
    v AS (
      SELECT u.tok AS token, sum(t.cnt) AS freq
      FROM st$rounds t, UNNEST(t.toks) AS u(tok)
      GROUP BY 1)
    SELECT token, CAST(freq AS BIGINT) AS freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
             AS token_id
    FROM v ORDER BY token_id LIMIT $topK"""

  private def bpeEncodeSql(rounds: Int, topK: Int): String =
    bpeStateCtes(rounds) + s""",
    vv AS MATERIALIZED (
      SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
               AS token_id
      FROM (SELECT u.tok AS token, sum(t.cnt) AS freq
            FROM st$rounds t, UNNEST(t.toks) AS u(tok) GROUP BY 1)
      ORDER BY token_id LIMIT $topK),
    wi AS MATERIALIZED (
      SELECT word, list(coalesce(token_id, 0) ORDER BY i) AS ids
      FROM (SELECT t.word AS word, CAST(p.i AS BIGINT) AS i, t.toks[p.i] AS tok
            FROM st$rounds t, UNNEST(range(1, len(t.toks)+1)) AS p(i)) q
      LEFT JOIN vv ON vv.token = q.tok
      GROUP BY word),
    sq AS (
      SELECT d.doc_id, CAST(w.i AS BIGINT) AS wpos,
             regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')[w.i] AS word
      FROM documents d,
           UNNEST(range(1,
             len(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}'))+1))
             AS w(i))
    SELECT s.doc_id,
           array_to_string(flatten(list(wi.ids ORDER BY s.wpos)), ' ')
             AS token_ids
    FROM sq s JOIN wi USING (word)
    GROUP BY s.doc_id ORDER BY s.doc_id"""

  private def bpeSegmentSql(rounds: Int): String =
    bpeStateCtes(rounds) + s""",
    seg AS (
      SELECT d.doc_id, u.word AS word
      FROM documents d,
           UNNEST(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')) AS u(word))
    SELECT s.doc_id, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
    FROM seg s JOIN st$rounds t USING (word)
    GROUP BY s.doc_id ORDER BY s.doc_id"""

  /** CTE chain mirroring [[TextAnalysis.unigramTrain]]'s hard-EM loop:
    * substring seed → per-round (scores → Viterbi DP as a recursive CTE
    * over word positions → backtrace → usage recount) × emIters → final
    * model. The DP minimizes the same (cost, n_pieces, −lastLen) struct
    * lexicographically (DuckDB list_sort[1] == Spark array_min), so the
    * segmentations agree bit-for-bit. */
  private def unigramCtes(
      maxLen: Int, seed: Int, emIters: Int, minCount: Long): String = {
    val base = s"""
      tk AS (
        SELECT doc_id, regexp_extract_all(text, '${TextAnalysis.bpePattern}') AS t
        FROM documents),
      wc AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(t) AS word FROM tk) GROUP BY 1),
      candrows AS (
        SELECT word, cnt, a.i AS i, a.l AS l, a.piece AS piece
        FROM (
          SELECT word, cnt,
                 unnest(flatten(list_transform(range(1, len(word) + 1), i ->
                   list_transform(range(1, least($maxLen, i) + 1), l ->
                     {'i': i, 'l': l, 'piece': word[i-l+1:i]})))) AS a
          FROM wc)),
      subs AS (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM candrows GROUP BY 1),
      chars AS (SELECT piece, freq FROM subs WHERE len(piece) = 1),
      v0 AS (
        SELECT piece, freq FROM chars
        UNION ALL
        SELECT piece, freq FROM (
          SELECT piece, freq FROM subs WHERE len(piece) > 1 AND freq >= $minCount
          ORDER BY freq DESC, piece ASC LIMIT $seed))"""
    def dpChain(tag: String, model: String, src: String): String = s"""
      arcs$tag AS (
        SELECT c.word AS word, any_value(c.cnt) AS cnt, len(c.word) AS n,
               list({'i': c.i, 'l': c.l, 'w': mc.w}) AS arcs
        FROM candrows c JOIN $model mc ON c.piece = mc.piece
        GROUP BY c.word),
      dp$tag AS (
        SELECT word, cnt, arcs, n, 0 AS i,
               [{'c': CAST(0 AS BIGINT), 'np': CAST(0 AS BIGINT),
                 'nl': CAST(0 AS BIGINT)}] AS best
        FROM arcs$tag
        UNION ALL
        SELECT word, cnt, arcs, n, i + 1,
               list_append(best, list_sort(list_transform(
                 list_filter(arcs, a -> a.i = i + 1),
                 a -> {'c': struct_extract(best[i + 2 - a.l], 'c') + a.w,
                       'np': struct_extract(best[i + 2 - a.l], 'np') + 1,
                       'nl': -CAST(a.l AS BIGINT)}))[1])
        FROM dp$tag WHERE i < n),
      fin$tag AS (SELECT word, cnt, n, best FROM dp$tag WHERE i = n),
      bt$tag AS (
        SELECT word, cnt, best, CAST(n AS BIGINT) AS pos,
               CAST([] AS VARCHAR[]) AS ps
        FROM fin$tag
        UNION ALL
        SELECT word, cnt, best,
               pos + struct_extract(best[pos + 1], 'nl'),
               list_prepend(word[CAST(pos + struct_extract(best[pos + 1], 'nl') AS INT) + 1 : CAST(pos AS INT)], ps)
        FROM bt$tag WHERE pos > 0),
      seg$tag AS (SELECT word, cnt, ps FROM bt$tag WHERE pos = 0)"""
    def modelCte(tag: String, src: String): String = s"""
      m$tag AS (
        SELECT piece, freq,
               greatest(1, CAST((CAST(freq AS HUGEINT) * 1000000)
                 // (SELECT CAST(sum(freq) AS HUGEINT) FROM $src) AS BIGINT)) AS p_micro
        FROM $src),
      mc$tag AS (
        SELECT piece,
               2000 - CAST(floor(100 * log2(p_micro)) AS BIGINT) AS w FROM m$tag)"""
    val rounds = (1 to emIters).map { r =>
      modelCte(r.toString, s"v${r - 1}") + "," +
        dpChain(r.toString, s"mc$r", "") + s""",
      u$r AS (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq
        FROM (SELECT cnt, unnest(ps) AS piece FROM seg$r) GROUP BY 1),
      v$r AS (
        SELECT c.piece AS piece, CAST(coalesce(u.freq, 0) AS BIGINT) AS freq
        FROM chars c LEFT JOIN u$r u USING (piece)
        UNION ALL
        SELECT u.piece AS piece, u.freq AS freq
        FROM u$r u ANTI JOIN chars c USING (piece))"""
    }.mkString(",")
    "WITH RECURSIVE " + base + "," + rounds + "," +
      modelCte("F", s"v$emIters") + "," + dpChain("F", "mcF", "")
  }

  private def unigramTrainSql(
      maxLen: Int, seed: Int, emIters: Int, minCount: Long): String =
    unigramCtes(maxLen, seed, emIters, minCount) + """
      SELECT piece, freq, p_micro,
             2000 - CAST(floor(100 * log2(p_micro)) AS BIGINT) AS cost_centi
      FROM mF ORDER BY piece"""

  private def unigramSegmentSql(
      maxLen: Int, seed: Int, emIters: Int, minCount: Long): String =
    unigramCtes(maxLen, seed, emIters, minCount) + """
      SELECT di.doc_id, CAST(sum(len(s.ps)) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, unnest(t) AS word FROM tk) di
      JOIN segF s USING (word)
      GROUP BY 1 ORDER BY 1"""

  private def unigramEncodeSql(
      maxLen: Int, seed: Int, emIters: Int, minCount: Long): String =
    unigramCtes(maxLen, seed, emIters, minCount) + """,
      ids AS (
        SELECT piece,
               CAST(row_number() OVER (ORDER BY freq DESC, piece ASC) AS BIGINT) AS token_id
        FROM mF),
      wx AS (
        SELECT word, unnest(ps) AS piece, unnest(range(1, len(ps) + 1)) AS o
        FROM segF),
      wids AS (
        SELECT wx.word AS word, list(ids.token_id ORDER BY wx.o) AS idl
        FROM wx JOIN ids ON wx.piece = ids.piece GROUP BY wx.word),
      di AS (
        SELECT doc_id, unnest(t) AS word, unnest(range(1, len(t) + 1)) AS wp
        FROM tk),
      enc AS (
        SELECT di.doc_id AS doc_id,
               flatten(list(w.idl ORDER BY di.wp)) AS token_ids
        FROM di JOIN wids w USING (word) GROUP BY 1)
      SELECT doc_id, array_to_string(token_ids, ' ') AS token_ids
      FROM enc ORDER BY doc_id"""

  private def qualityWeightsCtes: String =
    """lab AS (
         SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       bc AS (
         SELECT h % 64 AS bucket, sum(l.y) AS pos_b, sum(1 - l.y) AS neg_b
         FROM (SELECT doc_id, unnest(th) AS h FROM tk) u JOIN lab l USING (doc_id)
         GROUP BY 1),
       tot AS (
         SELECT coalesce(sum(pos_b), 0) AS pt, coalesce(sum(neg_b), 0) AS nt FROM bc),
       grid AS (SELECT unnest(range(0, 64)) AS bucket),
       w AS (
         SELECT g.bucket,
                CAST(coalesce(pos_b, 0) AS BIGINT) AS pos_b,
                CAST(coalesce(neg_b, 0) AS BIGINT) AS neg_b,
                CAST((1000000 * (coalesce(pos_b, 0) + 1) * (nt + 64))
                     // ((coalesce(pos_b, 0) + 1) * (nt + 64)
                         + (coalesce(neg_b, 0) + 1) * (pt + 64))
                     - 500000 AS BIGINT) AS weight_micro
         FROM grid g LEFT JOIN bc ON bc.bucket = g.bucket CROSS JOIN tot)"""

  /** CTE chain mirroring [[TextAnalysis.wordPieceVocab]] and the greedy
    * longest-match walk of [[TextAnalysis.wordPieceEncodeWith]]:
    * positional substring candidates (train set) → char floor + topK
    * vocabulary → a per-(word, pos) longest-match table (finite:
    * vocabulary × ≤ word length, built join-only) → the greedy
    * segmentation as a recursive CTE that LEFT JOINs that table. The
    * recursion is deliberately join-only: DuckDB evaluates a correlated
    * scalar subquery inside a recursive term to NULL, so the argmax must
    * be precomputed outside the recursion. `trainWhere` restricts the
    * vocabulary's training corpus (the unk probe trains on English only);
    * segmentation always covers every distinct word of the full corpus. */
  private def wordPieceCtes(maxLen: Int, topK: Int, trainWhere: String): String =
    s"""WITH RECURSIVE w0 AS (
      SELECT u.word AS word, count(*) AS cnt
      FROM documents d,
           UNNEST(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')) AS u(word)
      GROUP BY u.word),
    w0t AS (
      SELECT u.word AS word, count(*) AS cnt
      FROM documents d,
           UNNEST(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')) AS u(word)
      $trainWhere
      GROUP BY u.word),
    cand AS (
      SELECT u.piece AS piece, CAST(sum(w.cnt) AS BIGINT) AS freq
      FROM w0t w, UNNEST(flatten(list_transform(range(1, len(w.word)+1), i ->
        list_transform(range(1, least($maxLen, len(w.word)-i+1)+1), l ->
          CASE WHEN i = 1 THEN substr(w.word, CAST(i AS INT), CAST(l AS INT))
               ELSE '##' || substr(w.word, CAST(i AS INT), CAST(l AS INT)) END))))
        AS u(piece)
      GROUP BY 1),
    vocab AS MATERIALIZED (
      SELECT token, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id
      FROM (
        SELECT piece AS token, freq FROM cand
        WHERE (CASE WHEN piece LIKE '##%' THEN len(piece)-2 ELSE len(piece) END) = 1
        UNION ALL
        SELECT token, freq FROM (
          SELECT piece AS token, freq FROM cand
          WHERE (CASE WHEN piece LIKE '##%' THEN len(piece)-2 ELSE len(piece) END) > 1
          ORDER BY freq DESC, piece LIMIT $topK))),
    dw AS (SELECT DISTINCT word FROM w0),
    lm AS MATERIALIZED (
      SELECT p.word, p.pos,
             max(CASE WHEN p.pos = 1 THEN len(v.token) ELSE len(v.token) - 2 END) AS bl
      FROM (SELECT word, CAST(p.i AS INT) AS pos
            FROM dw, UNNEST(range(1, len(word)+1)) AS p(i)) p
      JOIN vocab v
        ON CASE WHEN p.pos = 1
                THEN v.token NOT LIKE '##%'
                     AND v.token = substr(p.word, p.pos, len(v.token))
                ELSE v.token LIKE '##%' AND len(v.token) > 2
                     AND substr(v.token, 3) = substr(p.word, p.pos, len(v.token) - 2)
           END
      GROUP BY 1, 2),
    lmid AS MATERIALIZED (
      SELECT l.word, l.pos, l.bl, v.token_id
      FROM lm l JOIN vocab v
        ON v.token = CASE WHEN l.pos = 1 THEN substr(l.word, l.pos, l.bl)
                          ELSE '##' || substr(l.word, l.pos, l.bl) END),
    seg(word, pos, ids, ok) AS (
      SELECT word, 1, CAST([] AS BIGINT[]), true FROM dw
      UNION ALL
      SELECT s.word,
             CASE WHEN m.bl IS NULL THEN s.pos ELSE s.pos + m.bl END,
             CASE WHEN m.bl IS NULL THEN s.ids ELSE list_append(s.ids, m.token_id) END,
             m.bl IS NOT NULL
      FROM seg s LEFT JOIN lmid m ON m.word = s.word AND m.pos = s.pos
      WHERE s.ok AND s.pos <= len(s.word)),
    wseg AS (
      SELECT word, ok,
             CASE WHEN ok THEN ids ELSE [CAST(0 AS BIGINT)] END AS ids
      FROM seg WHERE (NOT ok) OR pos > len(word))"""

  private def wordPieceVocabSql(maxLen: Int, topK: Int): String =
    wordPieceCtes(maxLen, topK, "") + """
    SELECT token, freq, token_id FROM vocab ORDER BY token_id"""

  private def wordPieceEncodeSql(maxLen: Int, topK: Int): String =
    wordPieceCtes(maxLen, topK, "") + s""",
    sq AS (
      SELECT d.doc_id, CAST(w.i AS BIGINT) AS wpos,
             regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')[w.i] AS word
      FROM documents d,
           UNNEST(range(1,
             len(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}'))+1))
             AS w(i))
    SELECT s.doc_id,
           array_to_string(flatten(list(w.ids ORDER BY s.wpos)), ' ')
             AS token_ids
    FROM sq s JOIN wseg w USING (word)
    GROUP BY s.doc_id ORDER BY s.doc_id"""

  private def wordPieceSegmentSql(maxLen: Int, topK: Int): String =
    wordPieceCtes(maxLen, topK, "") + s""",
    sq AS (
      SELECT d.doc_id,
             regexp_extract_all(d.text, '${TextAnalysis.bpePattern}')[w.i] AS word
      FROM documents d,
           UNNEST(range(1,
             len(regexp_extract_all(d.text, '${TextAnalysis.bpePattern}'))+1))
             AS w(i))
    SELECT s.doc_id, CAST(sum(len(w.ids)) AS BIGINT) AS n_tokens
    FROM sq s JOIN wseg w USING (word)
    GROUP BY s.doc_id ORDER BY s.doc_id"""

  private def wordPieceUnkSql(maxLen: Int, topK: Int): String =
    wordPieceCtes(maxLen, topK, "WHERE d.lang = 'en'") + """
    SELECT CAST(coalesce(sum(w0.cnt), 0) AS BIGINT) AS n_instances,
           CAST(coalesce(sum(CASE WHEN s.ok THEN 0 ELSE w0.cnt END), 0) AS BIGINT)
             AS n_unk
    FROM wseg s JOIN w0 USING (word)"""

  private val oracleSh =
    """sh AS (
         SELECT doc_id,
                list_transform(range(1, len(th) - 1),
                  i -> (th[i] * 38 + th[i + 1] * 100 + th[i + 2] * 162) % 1000000007) AS shs
         FROM tk)"""

  private def minhashOracleSql: String = {
    val perms = (0 until 8).map { i =>
      val a = 1103515245L * (i + 1) % 2147483647L
      val b = 12345L * (i * 2 + 1) % 2147483647L
      s"coalesce(list_min(list_transform(shs, s -> (s * $a + $b) % 2147483647)), 2147483647) AS m$i"
    }.mkString(",\n                ")
    s"""WITH $oracleTk,
         $oracleSh
         SELECT doc_id,
                $perms
         FROM sh ORDER BY doc_id"""
  }

  private def simhashOracleSql: String = {
    val bits = (0 until 16).map { b =>
      s"CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" +\n                ")
    s"""WITH $oracleTk
         SELECT doc_id,
                CAST($bits AS BIGINT) AS simhash16
         FROM tk ORDER BY doc_id"""
  }

  // ── Production-pipeline sketch oracles ─────────────────────────────────
  // These replicate graft.ops.Dedup's EXACT arithmetic (polynomial token
  // hash injected via Dedup.oracleHash): raw 64-bit weighted window sums
  // (NO modulus — matches shingleHashRows), pmod only where
  // minhashSignatures applies it, MinhashAgg's LCG permutation constants,
  // and band candidacy decided by slice equality (equal slices ⇔ equal
  // xxhash64 bucket keys, modulo 2^-64 collisions).

  /** Window shingle hashes with production weights 31·(2j+1)+7, no mod. */
  private def shrCte(k: Int): String = {
    val terms = (0 until k).map(j => s"th[i + $j] * ${31L * (j * 2 + 1) + 7L}")
      .mkString(" + ")
    s"""shr AS (
         SELECT doc_id, list_transform(range(1, len(th) - ${k - 2}), i -> $terms) AS hs
         FROM tk)"""
  }

  /** 32-slot MinHash signature as a list, MinhashAgg's exact constants. */
  private def sigCte(numHashes: Int): String = {
    val slots = (0 until numHashes).map { i =>
      val a = 1103515245L * (i + 1) % 2147483647L
      val b = 12345L * (i * 2 + 1) % 2147483647L
      s"coalesce(list_min(list_transform(hs, s -> ((s % 2147483647) * $a + $b) % 2147483647)), 2147483647)"
    }.mkString(",\n                  ")
    s"""sig AS (
         SELECT doc_id, [$slots] AS sg FROM shr)"""
  }

  /** ∃band with equal signature slices (aliases `a`/`bb`). */
  private def bandCond(bands: Int, rowsPerBand: Int): String =
    (0 until bands).map { b =>
      val eqs = (1 to rowsPerBand)
        .map(r => s"a.sg[${b * rowsPerBand + r}] = bb.sg[${b * rowsPerBand + r}]")
        .mkString(" AND ")
      s"($eqs)"
    }.mkString("\n               OR ")

  /** Fraction of agreeing signature slots (aliases `a`/`bb`). */
  private def estExpr(numHashes: Int): String = {
    val terms = (1 to numHashes)
      .map(i => s"CASE WHEN a.sg[$i] = bb.sg[$i] THEN 1 ELSE 0 END")
      .mkString("\n                  + ")
    s"CAST($terms AS DOUBLE) / $numHashes.0"
  }

  private def minhashLshSql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)},
         ${sigCte(32)}
         SELECT id_a, id_b, est_jaccard FROM (
           SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est_jaccard
           FROM sig a JOIN sig bb
             ON a.doc_id < bb.doc_id AND (${bandCond(16, 2)}))
         WHERE est_jaccard >= CAST(0.2 AS DOUBLE)
         ORDER BY id_a, id_b"""

  private def simhashDupsSql: String = {
    // polynomial token hashes are < 2^30, so SimhashAgg's bit counters for
    // bits ≥ 30 always sum negative → 0; bits 0..29 reproduce the full hash
    val bits = (0 until 30).map { b =>
      s"CASE WHEN list_sum(list_transform(th, h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" +\n                ")
    s"""WITH $oracleTk,
         sim AS (SELECT doc_id, CAST($bits AS BIGINT) AS sm FROM tk)
         SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
                CAST(bit_count(xor(a.sm, bb.sm)) AS BIGINT) AS hamming
         FROM sim a JOIN sim bb
           ON a.doc_id < bb.doc_id AND bit_count(xor(a.sm, bb.sm)) <= 3
         ORDER BY id_a, id_b"""
  }

  private def ngramJaccardProdSql: String =
    s"""WITH $oracleTk,
         ${shrCte(2)},
         ${sigCte(32)},
         sets AS (SELECT doc_id, list_distinct(hs) AS s FROM shr),
         cand AS (
           SELECT a.doc_id AS id_a, bb.doc_id AS id_b
           FROM sig a JOIN sig bb
             ON a.doc_id < bb.doc_id AND (${bandCond(16, 2)}))
         SELECT id_a, id_b,
                CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) = 0 THEN NULL
                     ELSE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
                          CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
                END AS jaccard
         FROM cand
         JOIN sets sa ON sa.doc_id = id_a
         JOIN sets sb ON sb.doc_id = id_b
         ORDER BY id_a, id_b"""

  /** Mirrors [[graft.ops.Dedup.dedupCorpusCanonical]] with
    * quality = length(text): the same transitive-closure clusters as
    * [[dedupCorpusSql]], winner per cluster by (len DESC, id ASC). */
  private def dedupCorpusCanonicalSql: String =
    s"""WITH RECURSIVE $oracleTk,
         ${shrCte(3)},
         ${sigCte(32)},
         prs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est
             FROM sig a JOIN sig bb
               ON a.doc_id < bb.doc_id AND (${bandCond(8, 4)}))
           WHERE est >= CAST(0.5 AS DOUBLE)),
         edges AS (
           SELECT id_a AS s, id_b AS d FROM prs
           UNION
           SELECT id_b AS s, id_a AS d FROM prs),
         reach(id, r) AS (
           SELECT s, d FROM edges
           UNION
           SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
         lbl AS (
           SELECT doc_id, text,
                  least(doc_id, coalesce(
                    (SELECT min(reach.r) FROM reach WHERE reach.id = doc_id),
                    doc_id)) AS cl
           FROM documents),
         win AS (
           SELECT doc_id, row_number() OVER (PARTITION BY cl
                    ORDER BY len(text) DESC, doc_id ASC) AS rn
           FROM lbl)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id IN (SELECT doc_id FROM win WHERE rn = 1)
         ORDER BY doc_id"""

  private def dedupCorpusSql: String =
    s"""WITH RECURSIVE $oracleTk,
         ${shrCte(3)},
         ${sigCte(32)},
         prs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est
             FROM sig a JOIN sig bb
               ON a.doc_id < bb.doc_id AND (${bandCond(8, 4)}))
           WHERE est >= CAST(0.5 AS DOUBLE)),
         edges AS (
           SELECT id_a AS s, id_b AS d FROM prs
           UNION
           SELECT id_b AS s, id_a AS d FROM prs),
         reach(id, r) AS (
           SELECT s, d FROM edges
           UNION
           SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT DISTINCT id FROM reach WHERE r < id)
         ORDER BY doc_id"""

  /** From-scratch mirror of `prep_corpus_incremental`: scrub → gate →
    * exact dedup with HISTORY-WINS priority (a batch doc — doc_id % 5 == 0
    * — never displaces a history doc sharing its scrubbed fingerprint,
    * regardless of id order: that is the immutable-history contract the
    * incremental fold implements) → LSH near-dup transitive closure over
    * the survivors' SCRUBBED text, keep each component's min id → split →
    * pack. The `tk` CTE feeds [[shrCte]]/[[sigCte]] from the survivor set
    * instead of raw documents. */
  private def prepCorpusIncrementalSql: String = {
    val charFold = (e: String) =>
      s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
            list_transform(list_filter(string_split($e, ''), c -> c <> ''),
                           c -> CAST(ascii(c) AS BIGINT))),
          (a, c) -> (a * 31 + c) % 1000000007)"""
    s"""WITH RECURSIVE scrub AS (
         SELECT doc_id, lang,
                regexp_replace(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                               '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+'))
                     + len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT) AS n_redactions
         FROM documents),
       gated AS (
         SELECT doc_id, lang, scrubbed, n_redactions,
                CAST(len(toks) AS BIGINT) AS n_tokens
         FROM (SELECT *, list_filter(string_split(scrubbed, ' '), x -> x <> '') AS toks FROM scrub)
         WHERE len(toks) >= 20
           AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.5),
       fp AS (
         SELECT doc_id, ${charFold("scrubbed")} AS f FROM gated),
       keep AS (
         SELECT arg_min(doc_id,
                  (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) * 1000000000000 + doc_id)
                AS doc_id
         FROM fp GROUP BY f),
       surv AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
       tk AS (
         SELECT doc_id,
                list_transform(list_filter(string_split(scrubbed, ' '), x -> x <> ''),
                  w -> ${charFold("w")}) AS th
         FROM surv),
       ${shrCte(3)},
       ${sigCte(32)},
       prs AS (
         SELECT id_a, id_b FROM (
           SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est
           FROM sig a JOIN sig bb
             ON a.doc_id < bb.doc_id AND (${bandCond(8, 4)}))
         WHERE est >= CAST(0.5 AS DOUBLE)),
       edges AS (
         SELECT id_a AS s, id_b AS d FROM prs
         UNION
         SELECT id_b AS s, id_a AS d FROM prs),
       reach(id, r) AS (
         SELECT s, d FROM edges
         UNION
         SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       fin AS (
         SELECT s.doc_id, s.lang, s.n_tokens, s.n_redactions,
                CASE WHEN (s.doc_id * 2654435761 + 40503) % 1000 < 800 THEN 'train'
                     WHEN (s.doc_id * 2654435761 + 40503) % 1000 < 900 THEN 'val'
                     ELSE 'test' END AS split
         FROM surv s
         WHERE s.doc_id NOT IN (SELECT DISTINCT id FROM reach WHERE r < id)),
       c AS (
         SELECT *, sum(n_tokens) OVER (PARTITION BY split, lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
         FROM fin)
       SELECT doc_id, lang, split, n_tokens, n_redactions,
              CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
       FROM c ORDER BY doc_id"""
  }

  /** Mirrors the `q_connected_components` pipeline: the same LSH pair
    * derivation as [[dedupCorpusSql]], then the FULL transitive closure —
    * each doc's label is the minimum id reachable at ANY distance, which a
    * converged pointer-doubling propagation must equal exactly. */
  private def connectedComponentsSql: String =
    s"""WITH RECURSIVE $oracleTk,
         ${shrCte(3)},
         ${sigCte(32)},
         prs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est
             FROM sig a JOIN sig bb
               ON a.doc_id < bb.doc_id AND (${bandCond(8, 4)}))
           WHERE est >= CAST(0.5 AS DOUBLE)),
         edges AS (
           SELECT id_a AS s, id_b AS d FROM prs
           UNION
           SELECT id_b AS s, id_a AS d FROM prs),
         reach(id, r) AS (
           SELECT s, d FROM edges
           UNION
           SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
         SELECT d.doc_id,
                LEAST(d.doc_id, COALESCE(m.mr, d.doc_id)) AS cluster_id
         FROM documents d
         LEFT JOIN (SELECT id, min(r) AS mr FROM reach GROUP BY id) m
           ON m.id = d.doc_id
         ORDER BY d.doc_id"""

  /** Mirrors `q_triangle_counts`: same LSH pair derivation, then the
    * id-ordered triangle enumeration a < b < c — orientation-free, so it
    * independently checks the Spark side's degree-oriented wedge join
    * (both must find the identical triangle set). */
  private def triangleCountsSql: String =
    s"""WITH RECURSIVE $oracleTk,
         ${shrCte(3)},
         ${sigCte(32)},
         prs AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, bb.doc_id AS id_b, ${estExpr(32)} AS est
             FROM sig a JOIN sig bb
               ON a.doc_id < bb.doc_id AND (${bandCond(8, 4)}))
           WHERE est >= CAST(0.5 AS DOUBLE)),
         ce AS (SELECT DISTINCT id_a AS u, id_b AS v FROM prs),
         tri AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ce e1
           JOIN ce e2 ON e2.u = e1.v
           JOIN ce e3 ON e3.u = e1.u AND e3.v = e2.v),
         pernode AS (
           SELECT unnest([a, b, c]) AS node FROM tri)
         SELECT d.doc_id,
                CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_triangles
         FROM documents d
         LEFT JOIN (SELECT node, count(*) AS c FROM pernode GROUP BY node) cnt
           ON cnt.node = d.doc_id
         ORDER BY d.doc_id"""

  // ── SRP-LSH oracles ────────────────────────────────────────────────────
  // The murmur-mixed ±1 plane matrix is emitted as literal arrays; the
  // bucket-key projection replicates VecDot's left-to-right double fold, so
  // every sign decision — and therefore the exact candidate set — matches.

  private def srpKeyExpr(vecExpr: String, table: Int, bits: Int, dim: Int): String =
    (0 until bits).map { p0 =>
      val signs = graft.ops.Similarity.planeSignVector(table * bits + p0, dim)
        .map(s => if (s > 0) "1" else "-1").mkString("[", ", ", "]")
      val proj =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_zip($vecExpr, $signs), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
             (acc, x) -> acc + x)"""
      s"CASE WHEN $proj >= 0 THEN ${1L << p0} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Per-vector bucket keys for the 4 independent tables (bits=6, dim=64 —
    * the knobs SparkEntry's sim_topk_lsh / sim_cosine_neardup use). */
  private def srpKeyedCte: String =
    s"""keyed AS (
         SELECT vec_id, embedding AS v,
                ${srpKeyExpr("embedding", 0, 6, 64)} AS bk0,
                ${srpKeyExpr("embedding", 1, 6, 64)} AS bk1,
                ${srpKeyExpr("embedding", 2, 6, 64)} AS bk2,
                ${srpKeyExpr("embedding", 3, 6, 64)} AS bk3
         FROM embeddings)"""

  /** One plane's raw projection (the signed fold inside [[srpKeyExpr]]). */
  private def srpProjExpr(vecExpr: String, plane: Int, dim: Int): String = {
    val signs = graft.ops.Similarity.planeSignVector(plane, dim)
      .map(s => if (s > 0) "1" else "-1").mkString("[", ", ", "]")
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(list_zip($vecExpr, $signs), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
         (acc, x) -> acc + x)"""
  }

  /** Mirrors [[graft.ops.Similarity.lshTopKMultiProbe]] (bits=6, tables=4,
    * numProbes=2, k=5, queries vec_id<10): per query and table, the base
    * bucket plus the two nearest-boundary single-bit flips — flip order by
    * (|projection|, plane) via a struct list_sort, masks in the structs —
    * joined against the corpus's ONE key per table. */
  private def lshMultiprobeSql: String = {
    val bits = 6; val tables = 4; val numProbes = 2
    val probeParts = (0 until tables).map { t =>
      val structs = (0 until bits).map { p =>
        s"{'a': abs(${srpProjExpr("v", t * bits + p, 64)}), 'p': $p, 'm': ${1L << p}}"
      }.mkString("[", ", ", "]")
      s"""SELECT vec_id, $t AS tbl, bk$t AS bkey FROM qk
          UNION ALL
          SELECT vec_id, $t AS tbl, xor(bk$t, s.m) AS bkey FROM (
            SELECT vec_id, bk$t,
                   unnest((list_sort($structs))[1:$numProbes]) AS s
            FROM qk)"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $srpKeyedCte,
         qk AS (SELECT vec_id, v, bk0, bk1, bk2, bk3 FROM keyed WHERE vec_id < 10),
         probes AS ($probeParts),
         ck AS (
           SELECT vec_id AS corpus_id, u.tbl AS tbl, u.bkey AS bkey
           FROM (SELECT vec_id,
                        unnest([{'tbl': 0, 'bkey': bk0}, {'tbl': 1, 'bkey': bk1},
                                {'tbl': 2, 'bkey': bk2}, {'tbl': 3, 'bkey': bk3}]) AS u
                 FROM keyed)),
         cand AS (
           SELECT DISTINCT p.vec_id AS query_id, ck.corpus_id
           FROM probes p JOIN ck ON p.tbl = ck.tbl AND p.bkey = ck.bkey
           WHERE p.vec_id <> ck.corpus_id),
         scored AS (
           SELECT c.query_id, c.corpus_id, ${cosSql("q.v", "cc.v")} AS score
           FROM cand c
           JOIN keyed q ON q.vec_id = c.query_id
           JOIN keyed cc ON cc.vec_id = c.corpus_id),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  private def lshTopkSql: String =
    s"""WITH $srpKeyedCte,
         cand AS (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, q.v AS qvec, c.v AS cvec
           FROM keyed q JOIN keyed c
             ON q.vec_id < 10 AND q.vec_id <> c.vec_id
            AND (q.bk0 = c.bk0 OR q.bk1 = c.bk1 OR q.bk2 = c.bk2 OR q.bk3 = c.bk3)),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score FROM cand),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  private def cosineNearDupSql: String =
    s"""WITH $srpKeyedCte,
         cand AS (
           SELECT a.vec_id AS id_a, bb.vec_id AS id_b, a.v AS va, bb.v AS vb
           FROM keyed a JOIN keyed bb
             ON a.vec_id < bb.vec_id
            AND (a.bk0 = bb.bk0 OR a.bk1 = bb.bk1 OR a.bk2 = bb.bk2 OR a.bk3 = bb.bk3))
         SELECT id_a, id_b, cos FROM (
           SELECT id_a, id_b, ${cosSql("va", "vb")} AS cos FROM cand)
         WHERE cos >= CAST(0.30 AS DOUBLE)
         ORDER BY id_a, id_b"""

  /** The stub decoder is pure integer math over the UTF-8 payload: pixel i
    * cycles the bytes; band means are Long→Float divisions. Reproduced
    * here exactly (ASCII testdata: char codes == bytes). */
  private def multimodalDecodeCtes: String =
    s"""img AS (
         SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS nb,
                list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                               c -> CAST(ascii(c) AS BIGINT)) AS cs,
                CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS w
         FROM documents WHERE doc_id % 3 = 0),
       px AS (
         SELECT media_id, nb, w, w * 4 AS band,
                list_transform(range(0, w * 64), i -> cs[CAST(i % nb AS INT) + 1]) AS pxs
         FROM img),
       emb AS (
         SELECT media_id, nb, w,
                list_sum(pxs) AS pxsum,
                list_transform(range(0, 16),
                  b -> CAST(CAST(list_sum(list_slice(pxs, CAST(b * band AS INT) + 1, CAST((b + 1) * band AS INT))) AS REAL)
                            / CAST(band AS REAL) AS REAL)) AS e
         FROM px)"""

  private def multimodalDecodeSql: String =
    s"""WITH $multimodalDecodeCtes
       SELECT media_id, nb AS n_bytes, w AS width, CAST(64 AS BIGINT) AS height,
              CAST(pxsum AS DOUBLE) / (w * 64) AS mean_intensity,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (acc, v) -> acc + v) AS emb_norm2
       FROM emb ORDER BY media_id"""

  /** Average-hash bits from the decoded pixel stream (`pxs[b·w + 1]`, the
    * stride-w 64-sample grid), strict `px · n > sum` comparison — exactly
    * [[graft.ops.Multimodal.imageAhash]] — then an all-pairs hamming
    * check that must equal the blocked equi-join (pigeonhole-complete). */
  /** Median-hash bits: same stride-w 64-sample grid as the aHash oracle,
    * thresholded against the sorted samples' 32nd element (lower median) —
    * exactly [[graft.ops.Multimodal.imageMhash]]. */
  private def multimodalMhashSql: String = {
    val bits = (0 until 64).map(b =>
      s"CASE WHEN sm[CAST($b AS INT) + 1] > med THEN CAST(${1L << b} AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")
    s"""WITH $multimodalDecodeCtes,
       smp AS (
         SELECT media_id,
                list_transform(range(0, 64), b -> pxs[CAST(b AS INT) * CAST(w AS INT) + 1]) AS sm
         FROM px),
       md AS (SELECT media_id, sm, list_sort(sm)[32] AS med FROM smp)
       SELECT media_id, $bits AS mhash
       FROM md ORDER BY media_id"""
  }

  /** Mirrors [[graft.ops.Multimodal.crossModalTopK]] (k=3, dim=16,
    * polynomial token hash): the decode-stub image embedding CTEs composed
    * with the FeatureHash text embedding (bucket h%16, sign bit 20,
    * zero-filled via a bucket grid), zero-norm texts filtered identically,
    * same cosine fold. */
  private def multimodalCrossModalSql: String =
    s"""WITH $multimodalDecodeCtes,
       $oracleTk,
       inst AS (SELECT doc_id, unnest(th) AS h FROM tk),
       bkt AS (SELECT doc_id, CAST(h % 16 AS INT) AS bucket,
                      CASE WHEN ((h >> 20) & 1) = 1 THEN -1 ELSE 1 END AS s
               FROM inst),
       v AS (SELECT doc_id, bucket, sum(s) AS val FROM bkt GROUP BY 1, 2),
       grid AS (SELECT d.doc_id, r.range AS k
                FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 16) r),
       tvec AS (SELECT g.doc_id,
                       list(CAST(coalesce(v.val, 0) AS REAL) ORDER BY g.k) AS tv
                FROM grid g
                LEFT JOIN v ON v.doc_id = g.doc_id AND v.bucket = g.k
                GROUP BY g.doc_id),
       live AS (SELECT doc_id, tv FROM tvec
                WHERE list_sum(list_transform(tv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       scored AS (
         SELECT e.media_id, t.doc_id, ${cosSql("e.e", "t.tv")} AS score
         FROM emb e, live t),
       ranked AS (
         SELECT media_id, doc_id, score,
                row_number() OVER (PARTITION BY media_id
                  ORDER BY score DESC, doc_id ASC) AS rank
         FROM scored)
       SELECT media_id, CAST(rank AS BIGINT) AS rank, doc_id, score
       FROM ranked WHERE rank <= 3 ORDER BY media_id, rank"""

  private def multimodalAhashSql: String = {
    val bits = (0 until 64).map(b =>
      s"CASE WHEN pxs[CAST($b AS INT) * CAST(w AS INT) + 1] * (w * 64) > pxsum " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")
    s"""WITH $multimodalDecodeCtes,
       ps AS (SELECT media_id, w, pxs, list_sum(pxs) AS pxsum FROM px),
       ah AS (SELECT media_id, $bits AS ahash FROM ps)
       SELECT a.media_id AS id_a, b.media_id AS id_b,
              CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
       FROM ah a JOIN ah b ON a.media_id < b.media_id
       WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
       ORDER BY id_a, id_b"""
  }

  /** Semantic corpus dedup: SRP-bucketed cosine pairs ≥ 0.30 → transitive
    * closure → lowest-id survivors — mirrors
    * [[graft.ops.Dedup.dedupCorpusByEmbedding]] end to end. */
  private def dedupCorpusSemanticSql: String =
    s"""WITH RECURSIVE $srpKeyedCte,
         cand AS (
           SELECT a.vec_id AS id_a, bb.vec_id AS id_b, a.v AS va, bb.v AS vb
           FROM keyed a JOIN keyed bb
             ON a.vec_id < bb.vec_id
            AND (a.bk0 = bb.bk0 OR a.bk1 = bb.bk1 OR a.bk2 = bb.bk2 OR a.bk3 = bb.bk3)),
         prs AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b, ${cosSql("va", "vb")} AS cos FROM cand)
           WHERE cos >= CAST(0.30 AS DOUBLE)),
         edges AS (
           SELECT id_a AS s, id_b AS d FROM prs
           UNION
           SELECT id_b AS s, id_a AS d FROM prs),
         reach(id, r) AS (
           SELECT s, d FROM edges
           UNION
           SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT DISTINCT id FROM reach WHERE r < id)
         ORDER BY vec_id"""

  /** Energy-delta audio fingerprint bits (`e[(b+1) mod F] > e[b mod F]`)
    * over 256-sample frame energies of the stub byte stream, then an
    * all-pairs hamming check — mirrors
    * [[graft.ops.Multimodal.audioFingerprint]]/[[graft.ops.Multimodal.audioNearDups]]. */
  private def multimodalAudioFpSql: String = {
    val bits = (0 until 64).map(b =>
      s"CASE WHEN e[CAST((($b + 1) % len(e)) AS INT) + 1] > e[CAST(($b % len(e)) AS INT) + 1] " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString("(", " + ", ")")
    s"""WITH a AS (
         SELECT doc_id AS media_id,
                list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                               c -> CAST(ascii(c) AS BIGINT)) AS cs,
                greatest(least(64, length(text) // 8), 1) AS eff
         FROM documents WHERE doc_id % 3 = 1),
       en AS (
         SELECT media_id,
                list_transform(
                  range(0, greatest((len(cs) + eff - 1) // eff, 1)),
                  f -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(
                           list_slice(cs, CAST(f * eff AS INT) + 1,
                                      CAST(least(len(cs), (f + 1) * eff) AS INT)),
                           c -> (c - 128) * (c - 128))),
                       (x, y) -> x + y)) AS e
         FROM a),
       fp AS (SELECT media_id, $bits AS afp FROM en)
       SELECT a2.media_id AS id_a, b2.media_id AS id_b,
              CAST(bit_count(xor(a2.afp, b2.afp)) AS BIGINT) AS hamming
       FROM fp a2 JOIN fp b2 ON a2.media_id < b2.media_id
       WHERE bit_count(xor(a2.afp, b2.afp)) <= 3
       ORDER BY id_a, id_b"""
  }

  /** Frame fingerprints from the exact sampleFrames slicing (chunk =
    * max(len div nFrames, 1), every `stride`-th frame, end-clamped
    * substring, empty frames dropped), md5 content hashes, shared-frame
    * counting — mirrors [[graft.ops.Multimodal.videoNearDups]]. */
  private def multimodalVideoNearDupSql: String =
    s"""WITH v AS (
         SELECT doc_id AS media_id, text,
                8 AS nf,
                greatest(length(text) // 8, 1) AS chunk,
                length(text) AS n
         FROM documents WHERE doc_id % 3 = 2),
       fr0 AS (
         SELECT media_id, text, chunk, n,
                unnest(range(0, nf, 2)) AS f
         FROM v),
       fr AS (
         SELECT DISTINCT media_id,
                md5(substring(text, CAST(f * chunk AS INT) + 1, CAST(chunk AS INT))) AS ffp
         FROM fr0 WHERE f * chunk < n)
       SELECT a.media_id AS id_a, b.media_id AS id_b,
              count(*) AS shared_frames
       FROM fr a JOIN fr b ON a.ffp = b.ffp AND a.media_id < b.media_id
       GROUP BY 1, 2 HAVING count(*) >= 2
       ORDER BY id_a, id_b"""

  private def multimodalDecodeBandsSql: String =
    s"""WITH $multimodalDecodeCtes
       SELECT media_id, CAST(t.r AS BIGINT) AS band, e[CAST(t.r AS INT) + 1] AS value
       FROM emb JOIN unnest(range(0, 16)) AS t(r) ON true
       ORDER BY media_id, band"""

  private def jaccardNeighborsSql: String =
    s"""WITH $oracleTk,
         $oracleSh,
         sets AS (SELECT doc_id, list_distinct(shs) AS s FROM sh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
         FROM sets a
         JOIN unnest([1, 2, 3, 4]) AS t(d) ON true
         JOIN sets b ON b.doc_id = a.doc_id + t.d
         ORDER BY id_a, id_b"""

  /** DuckDB cosine with the exact accumulation order of the engine's
    * native VecCosine: left-to-right double folds per accumulator. Bit-for
    * -bit identical scores, so even interpolated ranks match. */
  /** Decontamination: shared-trigram hits of training docs (doc_id % 50
    * <> 0) against the simulated eval set (doc_id % 50 = 0) — polynomial
    * token hashes, raw weighted window sums, exactly
    * [[graft.ops.TrainPrep.decontaminate]] under [[Dedup.oracleHash]]. */
  private def decontaminateSql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)},
         contam AS (
           SELECT DISTINCT unnest(hs) AS h FROM shr WHERE doc_id % 50 = 0),
         trainsh AS (
           SELECT doc_id, unnest(hs) AS h FROM shr WHERE doc_id % 50 <> 0),
         hits AS (
           SELECT doc_id, count(*) AS contam_ngrams FROM trainsh
           WHERE h IN (SELECT h FROM contam) GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(h.contam_ngrams, 0) AS BIGINT) AS contam_ngrams,
              coalesce(h.contam_ngrams, 0) > 0 AS is_contaminated
       FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       WHERE d.doc_id % 50 <> 0
       ORDER BY d.doc_id"""

  /** Per-source k-gram novelty against the English reference — mirrors
    * [[graft.ops.TextAnalysis.sourceNovelty]]: distinct (source, hash)
    * pairs, distinct reference hashes, anti-membership counts, one
    * fixed-order ratio division. */
  private def sourceNoveltySql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)},
         srcg AS (
           SELECT DISTINCT d.source AS source, s.h AS h
           FROM (SELECT doc_id, unnest(hs) AS h FROM shr) s
           JOIN documents d USING (doc_id)),
         refs AS (
           SELECT DISTINCT s.h AS h
           FROM (SELECT doc_id, unnest(hs) AS h FROM shr) s
           JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
         agg AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_kgrams,
                  CAST(sum(CASE WHEN h IN (SELECT h FROM refs) THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_novel
           FROM srcg GROUP BY source)
       SELECT source, n_kgrams, n_novel,
              CAST(n_novel AS DOUBLE) / CAST(n_kgrams AS DOUBLE) AS novelty
       FROM agg ORDER BY source"""

  /** Per-source 32-slot MinHash signature (MinhashAgg's permutation
    * constants over mod-p-reduced raw window sums) + pairwise slot
    * agreement — exactly [[graft.ops.Dedup.groupSketchOverlap]] under
    * [[Dedup.oracleHash]]. */
  private def sourceSketchSql: String = {
    val slots = (0 until 32).map { i =>
      val a = 1103515245L * (i + 1) % 2147483647L
      val b = 12345L * (i * 2 + 1) % 2147483647L
      s"coalesce(min(((h % 2147483647) * $a + $b) % 2147483647), 2147483647) AS m$i"
    }.mkString(",\n                ")
    val eqs = (0 until 32).map(i =>
      s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $oracleTk,
         ${shrCte(3)},
         g AS (
           SELECT d.source AS source, s.h
           FROM (SELECT doc_id, unnest(hs) AS h FROM shr) s
           JOIN documents d USING (doc_id)),
         sig AS (
           SELECT source,
                $slots
           FROM g GROUP BY source)
       SELECT a.source AS source_a, b.source AS source_b,
              CAST($eqs AS BIGINT) AS eq_slots,
              CAST($eqs AS DOUBLE) / 32.0 AS est_jaccard
       FROM sig a JOIN sig b ON a.source < b.source
       ORDER BY source_a, source_b"""
  }

  /** Asymmetric containment on the deterministic (id, id+d) neighbor
    * pairs, d in 1..4 — [[graft.ops.Dedup.ngramContainment]] under
    * [[Dedup.oracleHash]]: distinct raw window-sum trigram hash sets
    * ([[shrCte]], no modulus — shingleWindows' arithmetic). */
  private def containmentSql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)},
         sets AS (SELECT doc_id, list_distinct(hs) AS s FROM shr)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CASE WHEN len(a.s) = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / CAST(len(a.s) AS DOUBLE) END AS containment_a,
              CASE WHEN len(b.s) = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / CAST(len(b.s) AS DOUBLE) END AS containment_b
       FROM sets a
       JOIN unnest([1, 2, 3, 4]) AS t(d) ON true
       JOIN sets b ON b.doc_id = a.doc_id + t.d
       ORDER BY id_a, id_b"""

  /** Duplicated k=8-token spans: [[graft.ops.Dedup.spanDups]] under
    * [[Dedup.oracleHash]] — shared-window detection via count(DISTINCT doc)
    * per window hash, raw weighted window sums as in [[shrCte]]. */
  private def spanDupsSql: String =
    s"""WITH $oracleTk,
         ${shrCte(8)},
         g AS (SELECT doc_id, unnest(hs) AS h FROM shr),
         shared AS (
           SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
           WHERE nd >= 2),
         dup AS (
           SELECT doc_id, count(*) AS dup_spans FROM g
           WHERE h IN (SELECT h FROM shared) GROUP BY doc_id)
       SELECT s.doc_id,
              CAST(len(s.hs) AS BIGINT) AS n_spans,
              CAST(coalesce(d.dup_spans, 0) AS BIGINT) AS dup_spans,
              CASE WHEN len(s.hs) = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(coalesce(d.dup_spans, 0) AS DOUBLE)
                        / CAST(len(s.hs) AS DOUBLE) END AS dup_frac
       FROM shr s LEFT JOIN dup d USING (doc_id)
       ORDER BY doc_id"""

  /** Mirrors `dedup_excise` ([[graft.ops.Dedup.exciseDuplicateSpans]]):
    * same 8-token windows as [[spanDupsSql]], occurrence count >= 2 keeps
    * the smallest (doc, pos) — encoded doc·10⁶+pos, exact while docs stay
    * under a million tokens — and every other occurrence's window is cut;
    * the cleaned text is rebuilt from the surviving token indices with
    * the identical exists-mask. */
  private def exciseSql: String =
    s"""WITH $oracleTk,
         ${shrCte(8)},
         occ AS (
           SELECT doc_id, i, hs[CAST(i + 1 AS INT)] AS h
           FROM shr, UNNEST(range(0, len(hs))) AS t(i)),
         dup AS (
           SELECT h, min(doc_id * 1000000 + i) AS keep
           FROM occ GROUP BY h HAVING count(*) >= 2),
         cut AS (
           SELECT o.doc_id, o.i
           FROM occ o JOIN dup d USING (h)
           WHERE o.doc_id * 1000000 + o.i <> d.keep),
         cl AS (SELECT doc_id, list(i ORDER BY i) AS xs FROM cut GROUP BY doc_id),
         tox AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tw
           FROM documents),
         fin AS (
           SELECT t.doc_id, t.tw, coalesce(c.xs, CAST([] AS BIGINT[])) AS xs
           FROM tox t LEFT JOIN cl c USING (doc_id)),
         kept AS (
           SELECT doc_id,
                  CAST(len(tw) AS BIGINT) AS n_tokens,
                  list_transform(
                    list_filter(range(0, len(tw)),
                      i -> len(list_filter(xs, p -> p <= i AND i < p + 8)) = 0),
                    i -> tw[CAST(i + 1 AS INT)]) AS kt
           FROM fin)
       SELECT doc_id, n_tokens,
              CAST(n_tokens - len(kt) AS BIGINT) AS n_removed,
              coalesce(array_to_string(kt, ' '), '') AS clean_text
       FROM kept ORDER BY doc_id"""

  /** DSIR importance weights: hashed-unigram buckets (th % 1024), add-one
    * smoothed target/raw count sums — exactly
    * [[graft.ops.TrainPrep.importanceWeights]] under [[Dedup.oracleHash]]
    * with target = lang 'en'. */
  private def dsirSql: String =
    s"""WITH $oracleTk,
         tb AS (
           SELECT doc_id, unnest(list_transform(th, h -> h % 1024)) AS b FROM tk),
         raw AS (SELECT b, count(*) AS rw FROM tb GROUP BY b),
         tgt AS (
           SELECT b, count(*) AS tw FROM tb JOIN documents USING (doc_id)
           WHERE lang = 'en' GROUP BY b),
         w AS (
           SELECT raw.b, coalesce(tw, 0) + 1 AS tw, rw + 1 AS rw
           FROM raw LEFT JOIN tgt USING (b)),
         sc AS (
           SELECT doc_id, sum(w.tw) AS imp_num, sum(w.rw) AS imp_den
           FROM tb JOIN w USING (b) GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(imp_num, 0) AS BIGINT) AS imp_num,
              CAST(coalesce(imp_den, 0) AS BIGINT) AS imp_den,
              CASE WHEN imp_den IS NULL OR imp_den = 0 THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(imp_num AS DOUBLE) / CAST(imp_den AS DOUBLE)
              END AS weight
       FROM documents d LEFT JOIN sc USING (doc_id)
       ORDER BY d.doc_id"""

  /** BM25 top-20 for terms (spark, merge, window), k1=1.2 b=0.75 —
    * rational idf (no ln), every arithmetic step mirrored in the exact
    * order [[graft.ops.TextAnalysis.bm25]] evaluates it. */
  private def bm25Sql: String = {
    val terms = Seq("spark", "merge", "window")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n                  ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val scoreTerms = terms.indices.map { i =>
      s"""(((CAST(n_docs - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))
           * (CAST(tf$i AS DOUBLE) * 2.2)
           / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"""
    }.mkString("\n              + ")
    s"""WITH t AS (
           SELECT doc_id,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl,
                  $tfCols
           FROM documents),
         st AS (
           SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCols FROM t)
       SELECT doc_id, dl, tf0, tf1, tf2,
              $scoreTerms AS score
       FROM t, st
       ORDER BY score DESC, doc_id
       LIMIT 20"""
  }

  private def sourceOverlapSql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)},
         sg AS (
           SELECT DISTINCT d.source AS source, s.h
           FROM (SELECT doc_id, unnest(hs) AS h FROM shr) s
           JOIN documents d USING (doc_id)),
         cnt AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
         pairs AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS shared_ngrams
           FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
       SELECT source_a, source_b,
              CAST(shared_ngrams AS BIGINT) AS shared_ngrams,
              CAST(shared_ngrams AS DOUBLE)
                / CAST(ca.n + cb.n - shared_ngrams AS DOUBLE) AS jaccard
       FROM pairs
       JOIN cnt ca ON ca.source = pairs.source_a
       JOIN cnt cb ON cb.source = pairs.source_b
       ORDER BY source_a, source_b"""

  private def clusterSampleSql: String =
    s"""WITH cent AS (
           SELECT vec_id AS centroid_id, embedding AS centvec FROM embeddings
           ORDER BY vec_id LIMIT 16),
         c AS (SELECT vec_id, embedding AS cvec FROM embeddings),
         assigned AS (
           SELECT vec_id, centroid_id AS cell, s AS cscore FROM (
             SELECT vec_id, centroid_id, ${cosSql("cvec", "centvec")} AS s,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY ${cosSql("cvec", "centvec")} DESC, centroid_id DESC) AS rn
             FROM c, cent) WHERE rn = 1),
         ranked AS (
           SELECT vec_id, cell, cscore,
                  row_number() OVER (PARTITION BY cell
                                     ORDER BY cscore ASC, vec_id ASC) AS rank
           FROM assigned)
       SELECT vec_id, cell, cscore, CAST(rank AS INT) AS rank
       FROM ranked WHERE rank <= 20 ORDER BY cell, rank"""

  private def repetitionSql: String =
    s"""WITH $oracleTk,
         ${shrCte(3)}
       SELECT doc_id,
              CAST(len(hs) AS BIGINT) AS n_ngrams,
              CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct,
              CAST(len(hs) - len(list_distinct(hs)) AS BIGINT) AS dup_ngrams,
              CASE WHEN len(hs) = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(len(hs) - len(list_distinct(hs)) AS DOUBLE) / len(hs)
              END AS rep_ratio
       FROM shr ORDER BY doc_id"""

  /** Mixture sampling: per-lang counts → feasible total → per-lang hash
    * thresholds — the same double arithmetic order as
    * [[graft.ops.TrainPrep.mixtureSample]]. */
  private def mixtureSql: String =
    s"""WITH t(lang, p) AS (VALUES
           ('en', CAST(0.4 AS DOUBLE)), ('zh', CAST(0.2 AS DOUBLE)),
           ('es', CAST(0.2 AS DOUBLE)), ('de', CAST(0.1 AS DOUBLE)),
           ('fr', CAST(0.1 AS DOUBLE))),
         c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         wp AS (SELECT c.lang, c.n, t.p FROM c JOIN t ON c.lang = t.lang),
         tot AS (SELECT min(n / p) AS total FROM wp),
         r AS (SELECT lang, CAST(floor(p * total / n * 1000000) AS BIGINT) AS thr
               FROM wp, tot)
       SELECT d.doc_id, d.lang
       FROM documents d JOIN r ON d.lang = r.lang
       WHERE (d.doc_id * 22695477 + 49297) % 1000000 < r.thr
       ORDER BY d.doc_id"""

  /** Morton interleave of the two 8-bit bins (col 0 on even output bits,
    * col 1 on odd) — mirrors [[graft.ops.Layout.withZValue]] exactly:
    * same min/max binning, same integer division, same bit placement. */
  private def zorderSql: String = {
    val terms = (0 until 8).flatMap(b =>
      Seq(s"(((bx >> $b) & 1) << ${2 * b})", s"(((bb >> $b) & 1) << ${2 * b + 1})"))
      .mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id, event_id % 997 AS b FROM events),
       st AS (SELECT min(user_id) AS lox, max(user_id) AS hix,
                     min(b) AS lob, max(b) AS hib FROM e),
       bins AS (
         SELECT event_id,
                least(greatest(user_id // ((hix // 256) - (lox // 256) + 1)
                               - lox // ((hix // 256) - (lox // 256) + 1), 0), 255) AS bx,
                least(greatest(b // ((hib // 256) - (lob // 256) + 1)
                               - lob // ((hib // 256) - (lob // 256) + 1), 0), 255) AS bb
         FROM e, st)
       SELECT event_id, CAST($terms AS BIGINT) AS zval
       FROM bins ORDER BY event_id"""
  }

  /** int8 quantization + integer-dot candidate scan + exact rescore —
    * mirrors [[graft.ops.Similarity.quantizedTopK]] (k=5, refine=4,
    * queries = vec_id < 10). Integer code products summed exactly, scales
    * folded in the same left-to-right order. */
  private def quantizedTopkSql: String =
    s"""WITH sc AS (
         SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         FROM embeddings),
       codes AS (
         SELECT vec_id, embedding, scale,
                CASE WHEN scale = 0.0
                     THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                     ELSE list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
                END AS code
         FROM sc),
       approx AS (
         SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                q.scale * c.scale *
                  CAST(list_sum(list_transform(list_zip(q.code, c.code),
                                               p -> p[1] * p[2])) AS DOUBLE) AS approx,
                q.embedding AS qvec, c.embedding AS cvec
         FROM codes q JOIN codes c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       cand AS (
         SELECT query_id, corpus_id, qvec, cvec,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx DESC, corpus_id) AS arank
         FROM approx),
       scored AS (
         SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
         FROM cand WHERE arank <= 20),
       ranked AS (
         SELECT query_id, corpus_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, corpus_id) AS rank
         FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
           (acc, v) -> acc + v)
         / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))
          * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))))"""

  /** Matryoshka funnel — mirrors [[graft.ops.Similarity.matryoshkaTopK]]
    * (prefixDim=16, k=5, refine=4, queries = vec_id < 10): prefix cosine
    * candidates, exact full-dim rescore, same-order double arithmetic. */
  private def matryoshkaTopkSql: String =
    s"""WITH q AS (
         SELECT vec_id AS query_id, embedding AS qvec, embedding[1:16] AS qpre
         FROM embeddings WHERE vec_id < 10),
       c AS (
         SELECT vec_id AS corpus_id, embedding AS cvec, embedding[1:16] AS cpre
         FROM embeddings),
       approx AS (
         SELECT query_id, corpus_id, ${cosSql("qpre", "cpre")} AS approx,
                qvec, cvec
         FROM c, q WHERE query_id <> corpus_id),
       cand AS (
         SELECT query_id, corpus_id, qvec, cvec,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx DESC, corpus_id) AS arank
         FROM approx),
       scored AS (
         SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
         FROM cand WHERE arank <= 20),
       ranked AS (
         SELECT query_id, corpus_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, corpus_id) AS rank
         FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Bucketed Matryoshka funnel — mirrors
    * [[graft.ops.Similarity.matryoshkaIvfTopK]] (prefixDim=16, k=5,
    * refine=4, numCentroids=16, nprobe=4, queries = vec_id < 10): IVF
    * cells fit/assigned/probed on the 16-dim prefix (assignment ties to
    * the LARGER centroid id — max(struct) semantics; probe ties to the
    * smaller cell id), prefix-cosine candidates inside probed cells,
    * exact full-dim rescore of the top k×refine. */
  private def matryoshkaIvfTopkSql: String =
    s"""WITH cent AS (
           SELECT vec_id AS centroid_id, embedding[1:16] AS centvec
           FROM embeddings ORDER BY vec_id LIMIT 16),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec,
                      embedding[1:16] AS cpre FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qvec,
                      embedding[1:16] AS qpre FROM embeddings
               WHERE vec_id < 10),
         assigned AS (
           SELECT corpus_id, cpre, centroid_id AS cell FROM (
             SELECT corpus_id, cpre, centroid_id,
                    row_number() OVER (PARTITION BY corpus_id
                      ORDER BY ${cosSql("cpre", "centvec")} DESC, centroid_id DESC) AS rn
             FROM c, cent) WHERE rn = 1),
         probed AS (
           SELECT query_id, qpre, cell FROM (
             SELECT query_id, qpre, centroid_id AS cell,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY ${cosSql("qpre", "centvec")} DESC, centroid_id ASC) AS pr
             FROM q, cent) WHERE pr <= 4),
         approx AS (
           SELECT query_id, corpus_id,
                  ${cosSql("qpre", "cpre")} AS approx
           FROM assigned JOIN probed USING (cell)
           WHERE query_id <> corpus_id),
         cand AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, corpus_id) AS arank
           FROM approx),
         scored AS (
           SELECT cand.query_id, cand.corpus_id,
                  ${cosSql("q.qvec", "c2.cvec")} AS score
           FROM cand
           JOIN q ON q.query_id = cand.query_id
           JOIN c c2 ON c2.corpus_id = cand.corpus_id
           WHERE arank <= 20),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Full funnel — mirrors
    * [[graft.ops.Similarity.matryoshkaIvfQuantizedTopK]] (prefixDim=16,
    * k=5, refine=4, numCentroids=16, nprobe=4, queries = vec_id < 10):
    * float-prefix IVF assignment/probing (same cells as
    * [[matryoshkaIvfTopkSql]]), int8-quantized prefix codes for the
    * per-cell candidate scan, exact full-dim rescore of the top k×refine. */
  private def mrlIvfInt8TopkSql: String =
    s"""WITH cent AS (
           SELECT vec_id AS centroid_id, embedding[1:16] AS centvec
           FROM embeddings ORDER BY vec_id LIMIT 16),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec,
                      embedding[1:16] AS cpre FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qvec,
                      embedding[1:16] AS qpre FROM embeddings
               WHERE vec_id < 10),
         assigned AS (
           SELECT corpus_id, cpre, centroid_id AS cell FROM (
             SELECT corpus_id, cpre, centroid_id,
                    row_number() OVER (PARTITION BY corpus_id
                      ORDER BY ${cosSql("cpre", "centvec")} DESC, centroid_id DESC) AS rn
             FROM c, cent) WHERE rn = 1),
         probed AS (
           SELECT query_id, qpre, cell FROM (
             SELECT query_id, qpre, centroid_id AS cell,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY ${cosSql("qpre", "centvec")} DESC, centroid_id ASC) AS pr
             FROM q, cent) WHERE pr <= 4),
         cq AS (
           SELECT corpus_id, cell, cscale,
                  CASE WHEN cscale = 0.0
                       THEN list_transform(cpre, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(cpre,
                              x -> CAST(floor(CAST(x AS DOUBLE) / cscale + 0.5) AS BIGINT))
                  END AS ccode
           FROM (SELECT corpus_id, cell, cpre,
                        list_max(list_transform(cpre,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS cscale
                 FROM assigned)),
         pq AS (
           SELECT query_id, cell, qscale,
                  CASE WHEN qscale = 0.0
                       THEN list_transform(qpre, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(qpre,
                              x -> CAST(floor(CAST(x AS DOUBLE) / qscale + 0.5) AS BIGINT))
                  END AS qcode
           FROM (SELECT query_id, cell, qpre,
                        list_max(list_transform(qpre,
                          x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS qscale
                 FROM probed)),
         approx AS (
           SELECT query_id, corpus_id,
                  qscale * cscale *
                    CAST(list_sum(list_transform(list_zip(qcode, ccode),
                                                 p -> p[1] * p[2])) AS DOUBLE) AS approx
           FROM cq JOIN pq USING (cell)
           WHERE query_id <> corpus_id),
         cand AS (
           SELECT query_id, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, corpus_id) AS arank
           FROM approx),
         scored AS (
           SELECT cand.query_id, cand.corpus_id,
                  ${cosSql("q.qvec", "c2.cvec")} AS score
           FROM cand
           JOIN q ON q.query_id = cand.query_id
           JOIN c c2 ON c2.corpus_id = cand.corpus_id
           WHERE arank <= 20),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Composed funnel — mirrors
    * [[graft.ops.Similarity.matryoshkaQuantizedTopK]] (prefixDim=16, k=5,
    * refine=4, queries = vec_id < 10): int8 quantization OF the 16-dim
    * prefix, integer-dot candidates, exact full-dim rescore. */
  private def mrlInt8TopkSql: String =
    s"""WITH sc AS (
         SELECT vec_id, embedding, embedding[1:16] AS pre,
                list_max(list_transform(embedding[1:16],
                  x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
         FROM embeddings),
       codes AS (
         SELECT vec_id, embedding, scale,
                CASE WHEN scale = 0.0
                     THEN list_transform(pre, x -> CAST(0 AS BIGINT))
                     ELSE list_transform(pre,
                            x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
                END AS code
         FROM sc),
       approx AS (
         SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                q.scale * c.scale *
                  CAST(list_sum(list_transform(list_zip(q.code, c.code),
                                               p -> p[1] * p[2])) AS DOUBLE) AS approx,
                q.embedding AS qvec, c.embedding AS cvec
         FROM codes q JOIN codes c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       cand AS (
         SELECT query_id, corpus_id, qvec, cvec,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx DESC, corpus_id) AS arank
         FROM approx),
       scored AS (
         SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
         FROM cand WHERE arank <= 20),
       ranked AS (
         SELECT query_id, corpus_id, score,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, corpus_id) AS rank
         FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  private def bruteForceTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec FROM embeddings),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
           FROM c, q WHERE query_id <> corpus_id),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** `corpusWhere` filters the CORPUS side only (centroid seeding and the
    * query set stay on the full table) — the tombstone-delete oracle's
    * shape: the index was built before the deletes, so the frozen codebook
    * saw every row, and masking after assignment equals assigning only the
    * survivors because assignment is per-row. */
  private def ivfTopkSql(corpusWhere: String = ""): String =
    s"""WITH cent AS (
           SELECT vec_id AS centroid_id, embedding AS centvec FROM embeddings
           ORDER BY vec_id LIMIT 16),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec FROM embeddings $corpusWhere),
         q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         assigned AS (
           SELECT corpus_id, cvec, centroid_id AS cell FROM (
             SELECT corpus_id, cvec, centroid_id,
                    row_number() OVER (PARTITION BY corpus_id
                                       ORDER BY ${cosSql("cvec", "centvec")} DESC, centroid_id DESC) AS rn
             FROM c, cent) WHERE rn = 1),
         probed AS (
           SELECT query_id, qvec, cell FROM (
             SELECT query_id, qvec, centroid_id AS cell,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY ${cosSql("qvec", "centvec")} DESC, centroid_id ASC) AS pr
             FROM q, cent) WHERE pr <= 4),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
           FROM assigned JOIN probed USING (cell)
           WHERE query_id <> corpus_id),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Numerator-only fixed-order dot fold (the [[cosSql]] numerator). */
  private def dotFoldSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
           (acc, v) -> acc + v)"""

  /** Fixed-order squared-norm fold (the [[cosSql]] denominator term). */
  private def norm2FoldSql(a: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)"""

  /** Mirrors [[graft.ops.Similarity.pqTopK]] (4 subspaces × 16 codes,
    * k=5, refine=4, queries vec_id<10): sub-codebooks from the lowest-id
    * seeds, argmax-cosine encoding (ties to the larger code), ADC approx
    * scores as j-ORDERED partial folds — `list(x ORDER BY j)` then the
    * fixed fold, matching Spark's sorted-struct `aggregate` grouping —
    * and exact cosine rescore of the 20 candidates. */
  private def pqTopkSql: String =
    s"""WITH seeds AS (
           SELECT vec_id AS code_id, embedding FROM embeddings
           ORDER BY vec_id LIMIT 16),
         cbn AS (
           SELECT code_id, j, embedding[j*16+1:(j+1)*16] AS csub,
                  ${norm2FoldSql("embedding[j*16+1:(j+1)*16]")} AS cnorm2
           FROM seeds, UNNEST(range(0, 4)) AS t(j)),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec FROM embeddings),
         xs AS (
           SELECT corpus_id, j, cvec[j*16+1:(j+1)*16] AS xsub
           FROM c, UNNEST(range(0, 4)) AS t(j)),
         enc AS (
           SELECT corpus_id, j, code_id FROM (
             SELECT corpus_id, j, code_id,
                    row_number() OVER (PARTITION BY corpus_id, j
                      ORDER BY ${cosSql("xsub", "csub")} DESC, code_id DESC) AS rn
             FROM xs JOIN cbn USING (j)) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 10),
         sd AS (
           SELECT query_id, qvec, corpus_id, j,
                  ${dotFoldSql("qvec[j*16+1:(j+1)*16]", "csub")} AS subdot,
                  cnorm2
           FROM enc JOIN cbn USING (j, code_id), q
           WHERE query_id <> corpus_id),
         grp AS (
           SELECT query_id, any_value(qvec) AS qvec, corpus_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(subdot ORDER BY j)), (a, v) -> a + v) AS num,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(cnorm2 ORDER BY j)), (a, v) -> a + v) AS rnorm2
           FROM sd GROUP BY query_id, corpus_id),
         cand AS (
           SELECT query_id, qvec, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY num / (sqrt(${norm2FoldSql("qvec")}) * sqrt(rnorm2)) DESC,
                             corpus_id ASC) AS cr
           FROM grp),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
           FROM cand JOIN c USING (corpus_id) WHERE cr <= 20),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Mirrors [[graft.ops.Similarity.ivfPqTopK]] (16 cells, nprobe=4,
    * 4 subspaces × 16 codes, k=5, refine=4, queries vec_id<10): the
    * [[pqTopkSql]] stages with the candidate pair stream restricted to
    * the ivf-probed cells before any distance arithmetic. */
  private def ivfPqTopkSql: String =
    s"""WITH cent AS (
           SELECT vec_id AS centroid_id, embedding AS centvec FROM embeddings
           ORDER BY vec_id LIMIT 16),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 10),
         assigned AS (
           SELECT corpus_id, cell FROM (
             SELECT corpus_id, centroid_id AS cell,
                    row_number() OVER (PARTITION BY corpus_id
                      ORDER BY ${cosSql("cvec", "centvec")} DESC, centroid_id DESC) AS rn
             FROM c, cent) WHERE rn = 1),
         probed AS (
           SELECT query_id, qvec, cell FROM (
             SELECT query_id, qvec, centroid_id AS cell,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY ${cosSql("qvec", "centvec")} DESC, centroid_id ASC) AS pr
             FROM q, cent) WHERE pr <= 4),
         seeds AS (
           SELECT vec_id AS code_id, embedding FROM embeddings
           ORDER BY vec_id LIMIT 16),
         cbn AS (
           SELECT code_id, j, embedding[j*16+1:(j+1)*16] AS csub,
                  ${norm2FoldSql("embedding[j*16+1:(j+1)*16]")} AS cnorm2
           FROM seeds, UNNEST(range(0, 4)) AS t(j)),
         xs AS (
           SELECT corpus_id, j, cvec[j*16+1:(j+1)*16] AS xsub
           FROM c, UNNEST(range(0, 4)) AS t(j)),
         enc AS (
           SELECT corpus_id, j, code_id FROM (
             SELECT corpus_id, j, code_id,
                    row_number() OVER (PARTITION BY corpus_id, j
                      ORDER BY ${cosSql("xsub", "csub")} DESC, code_id DESC) AS rn
             FROM xs JOIN cbn USING (j)) WHERE rn = 1),
         sd AS (
           SELECT query_id, qvec, corpus_id, j,
                  ${dotFoldSql("qvec[j*16+1:(j+1)*16]", "csub")} AS subdot,
                  cnorm2
           FROM enc JOIN cbn USING (j, code_id)
                JOIN assigned USING (corpus_id)
                JOIN probed USING (cell)
           WHERE query_id <> corpus_id),
         grp AS (
           SELECT query_id, any_value(qvec) AS qvec, corpus_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(subdot ORDER BY j)), (a, v) -> a + v) AS num,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(cnorm2 ORDER BY j)), (a, v) -> a + v) AS rnorm2
           FROM sd GROUP BY query_id, corpus_id),
         cand AS (
           SELECT query_id, qvec, corpus_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY num / (sqrt(${norm2FoldSql("qvec")}) * sqrt(rnorm2)) DESC,
                             corpus_id ASC) AS cr
           FROM grp),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
           FROM cand JOIN c USING (corpus_id) WHERE cr <= 20),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Mirrors [[graft.ops.Similarity.filteredTopK]] (k=5, attr=label,
    * queries vec_id<10): pre-filtered by label equality in the join. */
  private def filteredTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label
                   FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec, label FROM embeddings),
         scored AS (
           SELECT query_id, corpus_id, ${cosSql("qvec", "cvec")} AS score
           FROM c JOIN q ON c.label = q.label AND query_id <> corpus_id),
         ranked AS (
           SELECT query_id, corpus_id, score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, corpus_id) AS rank
           FROM scored)
       SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, score
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Mirrors [[graft.ops.Similarity.knnClassify]] (k=5, queries vec_id<10):
    * exact top-5 by cosine, majority label, ties to the smaller label. */
  private def knnClassifySql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                   FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS corpus_id, embedding AS cvec, label FROM embeddings),
         scored AS (
           SELECT query_id, corpus_id, label, ${cosSql("qvec", "cvec")} AS score
           FROM c, q WHERE query_id <> corpus_id),
         ranked AS (
           SELECT query_id, label, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, corpus_id) AS rank
           FROM scored),
         votes AS (
           SELECT query_id, CAST(label AS BIGINT) AS pred_label,
                  count(*) AS votes
           FROM ranked WHERE rank <= 5 GROUP BY query_id, label),
         best AS (
           SELECT query_id, pred_label, votes, row_number() OVER (
                  PARTITION BY query_id ORDER BY votes DESC, pred_label ASC) AS vr
           FROM votes)
       SELECT query_id, pred_label, votes FROM best WHERE vr = 1
       ORDER BY query_id"""

  /** Mirrors [[graft.ops.Similarity.labelCentroidConfusion]]: fixed-point
    * (2^-24 unit) elementwise centroid sums — bigint, order-independent —
    * then argmax-cosine assignment and integer confusion cells. */
  private def labelConfusionSql: String =
    s"""WITH ux AS (
           SELECT label,
                  unnest(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT))) AS fx,
                  generate_subscripts(embedding, 1) AS ord
           FROM embeddings),
         sums AS (SELECT label AS c_label, ord, sum(fx) AS s
                  FROM ux GROUP BY label, ord),
         sizes AS (SELECT label AS c_label, count(*) AS n
                   FROM embeddings GROUP BY label),
         cent AS (
           SELECT c_label, list(CAST(s AS DOUBLE) / (n * 16777216.0)
                                ORDER BY ord) AS cvec
           FROM sums JOIN sizes USING (c_label) GROUP BY c_label),
         assigned AS (
           SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
                  CAST(c.c_label AS BIGINT) AS pred,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                             c.c_label ASC) AS ar
           FROM embeddings e, cent c)
       SELECT label, pred, count(*) AS n FROM assigned WHERE ar = 1
       GROUP BY label, pred ORDER BY label, pred"""

  /** Mirrors [[graft.ops.Graph.pageRankTop]]: 3 unrolled iterations of the
    * exact bigint PageRank (1e-12 units, floor division). */
  private def pageRankSql: String = {
    def iter(prev: String, n: Int): String =
      s"""c$n AS (SELECT dst, CAST(sum(r // deg) AS BIGINT) AS m
                  FROM adj JOIN $prev ON adj.src = $prev.node GROUP BY dst),
          r$n AS (SELECT b$n.node AS node,
                         CAST(150000000000 + (85 * COALESCE(c$n.m, 0)) // 100
                              AS BIGINT) AS r
                  FROM (SELECT node FROM $prev) b$n
                  LEFT JOIN c$n ON b$n.node = c$n.dst)"""
    s"""WITH pairs AS (
           SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS p,
                           CAST(l_suppkey AS BIGINT) * 2 + 1 AS s
           FROM lineitem),
         edges AS (
           SELECT p AS src, s AS dst FROM pairs
           UNION ALL
           SELECT s AS src, p AS dst FROM pairs),
         adj AS (
           SELECT e.src, e.dst, d.deg
           FROM (SELECT DISTINCT src, dst FROM edges) e
           JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
           USING (src)),
         r0 AS (SELECT DISTINCT src AS node,
                       CAST(1000000000000 AS BIGINT) AS r FROM adj),
         ${iter("r0", 1)},
         ${iter("r1", 2)},
         ${iter("r2", 3)},
         top AS (SELECT node, r AS rank_units FROM r3
                 ORDER BY rank_units DESC, node LIMIT 20)
       SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
                   ELSE 's:' || ((node - 1) // 2) END AS node,
              rank_units
       FROM top ORDER BY rank_units DESC, top.node"""
  }

  /** Mirrors [[graft.ops.TextAnalysis.heavyHitters]] (k=20, depth=4,
    * width=64, polynomial token hash): rebuilds the probed Count-Min
    * buckets per hash row and takes the min — integer arithmetic end to
    * end, so the estimates hash-match exactly. */
  private def heavyHittersSql: String = {
    val p = 2147483647L
    val rows = (0 until 4).map { i =>
      val a = 1103515245L * (i + 1) % p
      val b = 12345L * (i * 2 + 1) % p
      (i, a, b)
    }
    val cnts = rows.map { case (i, a, b) =>
      s"""cnt$i AS (SELECT ((h * $a + $b) % $p) % 64 AS bkt, count(*) AS c
                    FROM inst GROUP BY 1)"""
    }.mkString(",\n         ")
    val joins = rows.map { case (i, a, b) =>
      s"JOIN cnt$i ON cnt$i.bkt = ((top.h * $a + $b) % $p) % 64"
    }.mkString("\n       ")
    s"""WITH toks AS (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS token
           FROM documents),
         inst AS (
           SELECT token,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    list_transform(list_filter(string_split(token, ''), c -> c <> ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                    (a, c) -> (a * 31 + c) % 1000000007) AS h
           FROM toks),
         top AS (
           SELECT token, h, count(*) AS exact_count FROM inst GROUP BY 1, 2
           ORDER BY exact_count DESC, token LIMIT 20),
         $cnts
       SELECT top.token AS token, top.exact_count AS exact_count,
              least(cnt0.c, cnt1.c, cnt2.c, cnt3.c) AS est_count
       FROM top
       $joins
       ORDER BY exact_count DESC, token"""
  }

  /** Mirrors [[graft.ops.TextAnalysis.hybridRrf]] (terms spark/merge/window,
    * listSize=100, k=20, rrfK=60, dim=64, polynomial hash): the BM25 tower
    * CTEs + the FeatureHash tower (doc vectors AND the literal query
    * vector), each ranked and cut to its list, fused by
    * 1/(60+rank) + 1/(60+rank) in the same operation order. */
  private def hybridRrfSql: String = {
    val terms = Seq("spark", "merge", "window")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n                  ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val scoreTerms = terms.indices.map { i =>
      s"""(((CAST(n_docs - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))
           * (CAST(tf$i AS DOUBLE) * 2.2)
           / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"""
    }.mkString("\n              + ")
    val hashFold =
      """list_reduce(list_prepend(CAST(7 AS BIGINT),
           list_transform(list_filter(string_split(token, ''), c -> c <> ''),
                          c -> CAST(ascii(c) AS BIGINT))),
           (a, c) -> (a * 31 + c) % 1000000007)"""
    s"""WITH t AS (
           SELECT doc_id,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl,
                  $tfCols
           FROM documents),
         st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCols FROM t),
         bscored AS (SELECT doc_id, $scoreTerms AS score FROM t, st),
         sr AS (SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                         AS rank_sparse
                FROM bscored ORDER BY score DESC, doc_id LIMIT 100),
         $oracleTk,
         dinst AS (SELECT doc_id, unnest(th) AS h FROM tk),
         dbkt AS (SELECT doc_id, CAST(h % 64 AS INT) AS bucket,
                         CASE WHEN ((h >> 20) & 1) = 1 THEN -1 ELSE 1 END AS s
                  FROM dinst),
         dv AS (SELECT doc_id, bucket, sum(s) AS val FROM dbkt GROUP BY 1, 2),
         dgrid AS (SELECT d.doc_id, r.range AS bk
                   FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) r),
         tvec AS (SELECT g.doc_id,
                         list(CAST(coalesce(dv.val, 0) AS REAL) ORDER BY g.bk) AS tv
                  FROM dgrid g
                  LEFT JOIN dv ON dv.doc_id = g.doc_id AND dv.bucket = g.bk
                  GROUP BY g.doc_id),
         live AS (SELECT doc_id, tv FROM tvec
                  WHERE list_sum(list_transform(tv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
         qtok AS (SELECT unnest(list_filter(
                    string_split('${terms.mkString(" ")}', ' '), x -> x <> '')) AS token),
         qh AS (SELECT $hashFold AS h FROM qtok),
         qb AS (SELECT CAST(h % 64 AS INT) AS bucket,
                       CASE WHEN ((h >> 20) & 1) = 1 THEN -1 ELSE 1 END AS s
                FROM qh),
         qv0 AS (SELECT bucket, sum(s) AS val FROM qb GROUP BY 1),
         qv AS (SELECT list(CAST(coalesce(qv0.val, 0) AS REAL) ORDER BY r.range) AS qvec
                FROM range(0, 64) r LEFT JOIN qv0 ON qv0.bucket = r.range),
         dscored AS (
           SELECT l.doc_id, ${cosSql("q.qvec", "l.tv")} AS dscore
           FROM live l, qv q),
         dr AS (SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY dscore DESC, doc_id) AS BIGINT)
                         AS rank_dense
                FROM dscored ORDER BY dscore DESC, doc_id LIMIT 100),
         fused AS (
           SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
                  CAST(COALESCE(rank_sparse, 0) AS BIGINT) AS rank_sparse,
                  CAST(COALESCE(rank_dense, 0) AS BIGINT) AS rank_dense,
                  (CASE WHEN rank_sparse IS NULL THEN 0.0
                        ELSE 1.0 / (CAST(60 AS DOUBLE) + CAST(rank_sparse AS DOUBLE)) END
                   + CASE WHEN rank_dense IS NULL THEN 0.0
                          ELSE 1.0 / (CAST(60 AS DOUBLE) + CAST(rank_dense AS DOUBLE)) END)
                    AS rrf
           FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
       SELECT doc_id, rank_sparse, rank_dense, rrf
       FROM fused ORDER BY rrf DESC, doc_id LIMIT 20"""
  }

  /** Mirrors [[graft.ops.TextAnalysis.sparseCosinePairs]] (minDf=2,
    * maxPostings=100, topK=30): same deterministic champion cap
    * (tf desc, doc asc), exact bigint dots/norms, identical cosine
    * expression order. */
  private def sparseCosineSql: String =
    s"""WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         champ AS (
           SELECT doc_id, token, tf FROM (
             SELECT tf.doc_id, tf.token, tf.tf,
                    row_number() OVER (PARTITION BY tf.token
                      ORDER BY tf.tf DESC, tf.doc_id ASC) AS pr
             FROM tf JOIN dfreq USING (token) WHERE df >= 2) c
           WHERE pr <= 100),
         norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
                   FROM champ GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
           FROM champ a JOIN champ b
             ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
       SELECT doc_a, doc_b, dot,
              CAST(dot AS DOUBLE) /
                (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                AS score
       FROM pairs
       JOIN norms na ON na.doc_id = doc_a
       JOIN norms nb ON nb.doc_id = doc_b
       ORDER BY score DESC, doc_a, doc_b LIMIT 30"""

  /** Mirrors [[graft.ops.TrainPrep.prioritySample]] (k=50, weight n_chars):
    * q = w/u, u = (knuth_hash(id) + 0.5) / 2^32 — identical op order. */
  private def prioritySampleSql: String =
    s"""WITH keyed AS (
           SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                  CAST(n_chars AS DOUBLE) /
                    ((CAST((doc_id * 2654435761 + 97531) % 4294967296 AS DOUBLE)
                      + 0.5) / 4294967296.0) AS priority
           FROM documents),
         ranked AS (
           SELECT row_number() OVER (ORDER BY priority DESC, doc_id) AS rank,
                  doc_id, weight, priority
           FROM keyed)
       SELECT CAST(rank AS INT) AS rank, doc_id, weight, priority
       FROM ranked WHERE rank <= 50 ORDER BY rank"""

  /** Mirrors [[graft.ops.TrainPrep.shuffleOrder]]: the oracle's global
    * row_number equals the engine's offset + within-partition enumeration
    * because the range partitioner preserves (h, doc_id) order. */
  private def shuffleOrderSql: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
              doc_id, h
       FROM (SELECT doc_id,
                    (doc_id * 2654435761 + 40507) % 4294967296 AS h
             FROM documents)
       ORDER BY pos"""

  /** DuckDB-runnable oracle SQL per query (same column names and exact
    * arithmetic as the Spark side). Every query is hash-checked: the sketch
    * pipelines run their production code path under the injectable
    * polynomial hash, the SRP-LSH queries are checked against the literal
    * plane matrix, and the `*_oracle` variants additionally pin the raw
    * signature values. */
  /** Ungated incremental dedup — serves as the oracle for BOTH
    * `dedup_incremental` and `dedup_incremental_bloom` (the Bloom filter
    * only routes rows between the fast and exact paths; it cannot change
    * the result). */
  private def incrementalDedupSql: String =
    """WITH t AS (
         SELECT CAST(floor(max(event_id) / 10) AS BIGINT) AS thr FROM events),
       h AS (
         SELECT DISTINCT user_id, event_type FROM events, t
         WHERE event_id < thr),
       bt AS (
         SELECT user_id, event_type, event_id FROM events, t
         WHERE event_id >= thr)
       SELECT bt.user_id, bt.event_type, min(bt.event_id) AS event_id,
              count(*) AS n_batch_copies
       FROM bt
       WHERE NOT EXISTS (
         SELECT 1 FROM h
         WHERE h.user_id = bt.user_id AND h.event_type = bt.event_type)
       GROUP BY bt.user_id, bt.event_type
       ORDER BY bt.user_id, bt.event_type"""

  def oracleSql: Map[String, String] = Map(
    "dedup_minhash_oracle" -> minhashOracleSql,
    "dedup_simhash_oracle" -> simhashOracleSql,
    "dedup_jaccard_neighbors" -> jaccardNeighborsSql,
    "dedup_containment" -> containmentSql,
    "dedup_source_sketch" -> sourceSketchSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_simhash" -> simhashDupsSql,
    "dedup_ngram_jaccard" -> ngramJaccardProdSql,
    "dedup_corpus" -> dedupCorpusSql,
    "dedup_corpus_canonical" -> dedupCorpusCanonicalSql,
    "prep_corpus_incremental" -> prepCorpusIncrementalSql,
    "q_connected_components" -> connectedComponentsSql,
    // incremental maintenance must land on the SAME fixpoint as the
    // from-scratch closure — the oracle is deliberately identical
    "dedup_incremental_components" -> connectedComponentsSql,
    "q_triangle_counts" -> triangleCountsSql,
    "sim_topk_bruteforce" -> bruteForceTopkSql,
    "sim_topk_ivf" -> ivfTopkSql(),
    // the persisted index changes WHERE the lists live, not what they
    // contain — the inline IVF oracle is the indexed oracle
    "sim_topk_ivf_indexed" -> ivfTopkSql(),
    // tombstone-deleted index: the codebook saw every row (built before
    // the deletes), the corpus side excludes the deleted rows — masking
    // after assignment == assigning only survivors (per-row argmax)
    "sim_topk_ivf_deleted" -> ivfTopkSql("WHERE vec_id % 7 <> 3"),
    "sim_knn_classify" -> knnClassifySql,
    "sim_topk_filtered" -> filteredTopkSql,
    "text_heavy_hitters" -> heavyHittersSql,
    "text_sparse_cosine" -> sparseCosineSql,
    "text_hybrid_rrf" -> hybridRrfSql,
    "text_hll_distinct" ->
      """WITH toks AS (
           SELECT source AS grp,
                  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS token
           FROM documents),
         inst AS (
           SELECT grp, token,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    list_transform(list_filter(string_split(token, ''), c -> c <> ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                    (a, c) -> (a * 31 + c) % 1000000007) AS h
           FROM toks),
         exact AS (SELECT grp, count(DISTINCT token) AS n_exact
                   FROM inst GROUP BY 1),
         rk AS (SELECT grp, CAST(h & 63 AS INT) AS idx,
                       CASE WHEN (h >> 6) = 0 THEN 59
                            ELSE bit_count(((h >> 6) & -(h >> 6)) - 1) + 1
                       END AS rank
                FROM inst),
         mx AS (SELECT grp, idx, max(rank) AS mr FROM rk GROUP BY 1, 2),
         grid AS (SELECT g.grp, r.range AS idx
                  FROM (SELECT DISTINCT source AS grp FROM documents) g,
                       range(0, 64) r),
         regs AS (SELECT g.grp,
                         list(CAST(coalesce(mx.mr, 0) AS BIGINT)
                              ORDER BY g.idx) AS rl
                  FROM grid g
                  LEFT JOIN mx ON mx.grp = g.grp AND mx.idx = g.idx
                  GROUP BY g.grp),
         est AS (SELECT grp,
                        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(rl, M ->
                            1.0 / CAST((CAST(1 AS BIGINT) << CAST(M AS INT))
                                       AS DOUBLE))),
                          (a, v) -> a + v) AS sum_inv,
                        len(list_filter(rl, M -> M = 0)) AS nz
                 FROM regs)
       SELECT e.grp AS grp, x.n_exact,
              0.709 * 64.0 * 64.0 / e.sum_inv AS hll_est,
              CAST(e.nz AS BIGINT) AS n_zero_regs
       FROM est e JOIN exact x ON x.grp = e.grp
       ORDER BY grp""",
    "q_array_setops" ->
      """SELECT p_partkey,
                CAST(len(list_intersect(a, b)) AS BIGINT) AS n_common,
                CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
                CAST(len(list_filter(list_distinct(a),
                         x -> NOT list_contains(b, x))) AS BIGINT) AS n_only_name,
                COALESCE(array_to_string(list_sort(list_intersect(a, b)), ' '), '') AS common_str
         FROM (SELECT p_partkey,
                      list_filter(string_split(lower(p_name), ' '), x -> x <> '') AS a,
                      list_filter(string_split(lower(p_type), ' '), x -> x <> '') AS b
               FROM part) t
         ORDER BY p_partkey""",
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(k) AS BIGINT) AS sum_k,
                min(k) AS min_k, max(k) AS max_k,
                count(CASE WHEN k > 90 THEN 1 END) AS n_high
         FROM (SELECT event_type,
                      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events) t
         GROUP BY event_type ORDER BY event_type""",
    "q_date_functions" ->
      """SELECT CAST(year(d) AS BIGINT) AS yr,
                CAST(quarter(d) AS BIGINT) AS qtr,
                count(*) AS n,
                CAST(sum(isodow(d) - 1) AS BIGINT) AS sum_wd,
                min(d + 30) AS min_plus30,
                max(last_day(d)) AS max_month_end,
                CAST(sum(datediff('day', d, DATE '1998-12-31'))
                     AS BIGINT) AS sum_days_left
         FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders) t
         GROUP BY 1, 2 ORDER BY yr, qtr""",
    "sim_label_confusion" -> labelConfusionSql,
    "q_pagerank" -> pageRankSql,
    "prep_priority_sample" -> prioritySampleSql,
    "prep_priority_sample_lang" ->
      """WITH keyed AS (
           SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
                  CAST(n_chars AS DOUBLE) /
                    ((CAST((doc_id * 2654435761 + 97531) % 4294967296 AS DOUBLE)
                      + 0.5) / 4294967296.0) AS priority
           FROM documents),
         ranked AS (
           SELECT lang, row_number() OVER (PARTITION BY lang
                    ORDER BY priority DESC, doc_id) AS rank,
                  doc_id, weight, priority
           FROM keyed)
       SELECT lang, CAST(rank AS INT) AS rank, doc_id, weight, priority
       FROM ranked WHERE rank <= 10 ORDER BY lang, rank""",
    "prep_shuffle_order" -> shuffleOrderSql,
    "sim_topk_int8" -> quantizedTopkSql,
    "sim_topk_pq" -> pqTopkSql,
    "sim_topk_ivf_pq" -> ivfPqTopkSql,
    "sim_topk_pq_indexed" -> ivfPqTopkSql,
    "sim_topk_matryoshka" -> matryoshkaTopkSql,
    "sim_topk_matryoshka_ivf" -> matryoshkaIvfTopkSql,
    "sim_topk_mrl_int8" -> mrlInt8TopkSql,
    "sim_topk_mrl_ivf_int8" -> mrlIvfInt8TopkSql,
    "q_zorder" -> zorderSql,
    "q_tpch3" ->
      """SELECT l_orderkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY l_orderkey
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_tpch5" ->
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY n_name ORDER BY n_name""",
    "q_tpch6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q_tpch10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_tpch18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
         FROM customer
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
         GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q_session_window" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         d AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 43200000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, event_id, us,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM d)
         SELECT user_id, min(us) AS start_us, max(us) + 43200000000 AS end_us,
                count(*) AS n_events, min(event_id) AS first_event
         FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""",
    "prep_decontaminate" -> decontaminateSql,
    "text_novelty" -> sourceNoveltySql,
    "text_source_overlap" -> sourceOverlapSql,
    "dedup_span" -> spanDupsSql,
    "dedup_excise" -> exciseSql,
    // the suffix-array derivation must reproduce the fixed-k excision
    // bit-for-bit — same oracle
    "dedup_excise_sa" -> exciseSql,
    "dedup_suffix_array" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         sfx AS (
           SELECT doc_id, i AS pos, t[i:] AS suffix
           FROM tk, UNNEST(range(1, len(t) + 1)) AS g(i)
           WHERE len(t) >= 1)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                CAST(dense_rank() OVER (ORDER BY suffix) AS BIGINT) AS rank
         FROM sfx ORDER BY doc_id, pos""",
    "dedup_lcp_stats" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         sfx AS (
           SELECT doc_id, i AS pos, t[i:] AS suffix
           FROM tk, UNNEST(range(1, len(t) + 1)) AS g(i)
           WHERE len(t) >= 1),
         cls AS (
           SELECT suffix, n_occurrences, doc_id, pos,
                  CAST(dense_rank() OVER (ORDER BY suffix) AS BIGINT) AS rank
           FROM (
             SELECT suffix, doc_id, pos,
                    CAST(count(*) OVER (PARTITION BY suffix) AS BIGINT) AS n_occurrences,
                    row_number() OVER (PARTITION BY suffix ORDER BY doc_id, pos) AS rn
             FROM sfx) WHERE rn = 1),
         nxt AS (
           SELECT rank, n_occurrences, doc_id, pos, suffix,
                  lead(suffix) OVER (ORDER BY rank) AS nsuf
           FROM cls)
         SELECT rank, n_occurrences, doc_id, CAST(pos AS BIGINT) AS pos,
                CAST(CASE WHEN nsuf IS NULL THEN 0
                     ELSE coalesce(list_sum(
                       list_transform(range(1, least(least(len(suffix), len(nsuf)), 32) + 1),
                         i -> CASE WHEN suffix[1:i] = nsuf[1:i] THEN 1 ELSE 0 END)), 0)
                     END AS BIGINT) AS lcp_next
         FROM nxt ORDER BY rank""",
    "prep_dsir" -> dsirSql,
    "text_bm25" -> bm25Sql,
    "text_kneser_ney" ->
      """WITH tk AS (
           SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         bg AS (
           SELECT unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS s
           FROM tk WHERE len(t) >= 2),
         pairs AS (SELECT s.w1 AS w1, s.w2 AS w2,
                          CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        CAST(count(*) AS BIGINT) AS n1p_w1 FROM pairs GROUP BY 1),
         hist AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_w2 FROM pairs GROUP BY 1),
         np AS (SELECT CAST(count(*) AS HUGEINT) AS np FROM pairs)
         SELECT p.w1, p.w2, p.c12, c.c1, c.n1p_w1, h.n1p_w2,
                CAST(((greatest(4 * CAST(p.c12 AS HUGEINT) - 3, 0) * np.np
                        + 3 * CAST(c.n1p_w1 AS HUGEINT) * CAST(h.n1p_w2 AS HUGEINT))
                       * 1000000)
                     // (4 * CAST(c.c1 AS HUGEINT) * np.np) AS BIGINT) AS p_micro
         FROM pairs p JOIN ctx c USING (w1) JOIN hist h USING (w2) CROSS JOIN np
         ORDER BY w1, w2""",
    "text_perplexity_buckets" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS s
           FROM tk WHERE len(t) >= 2),
         pairs AS (SELECT s.w1 AS w1, s.w2 AS w2,
                          CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        CAST(count(*) AS BIGINT) AS n1p_w1 FROM pairs GROUP BY 1),
         hist AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_w2 FROM pairs GROUP BY 1),
         np AS (SELECT CAST(count(*) AS HUGEINT) AS np FROM pairs),
         kn AS (
           SELECT p.w1, p.w2,
                  CAST(((greatest(4 * CAST(p.c12 AS HUGEINT) - 3, 0) * np.np
                          + 3 * CAST(c.n1p_w1 AS HUGEINT) * CAST(h.n1p_w2 AS HUGEINT))
                         * 1000000)
                       // (4 * CAST(c.c1 AS HUGEINT) * np.np) AS BIGINT) AS p_micro
           FROM pairs p JOIN ctx c USING (w1) JOIN hist h USING (w2) CROSS JOIN np),
         dpairs AS (
           SELECT doc_id, s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS tf
           FROM bg GROUP BY 1, 2, 3),
         dsc AS (
           SELECT d.doc_id, sum(d.tf) AS n_bigrams,
                  sum(d.tf * (20 - CAST(floor(log2(greatest(k.p_micro, 1))) AS BIGINT)))
                    AS total_cost
           FROM dpairs d JOIN kn k USING (w1, w2) GROUP BY 1),
         sc AS (
           SELECT doc.doc_id,
                  CAST(coalesce(dsc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                  CAST(CASE WHEN dsc.n_bigrams IS NULL THEN 20000
                       ELSE dsc.total_cost * 1000 // dsc.n_bigrams END AS BIGINT)
                    AS cost_milli
           FROM documents doc LEFT JOIN dsc USING (doc_id)),
         dist AS (SELECT cost_milli, count(*) AS c FROM sc GROUP BY 1),
         cum AS (SELECT cost_milli,
                        sum(c) OVER (ORDER BY cost_milli) AS cm FROM dist),
         n AS (SELECT count(*) AS n FROM sc),
         cut1 AS (SELECT min(cost_milli) AS v FROM cum, n WHERE cm * 3 >= n.n),
         cut2 AS (SELECT min(cost_milli) AS v FROM cum, n WHERE cm * 3 >= 2 * n.n)
         SELECT sc.doc_id, sc.n_bigrams, sc.cost_milli,
                CASE WHEN sc.cost_milli <= cut1.v THEN 'head'
                     WHEN sc.cost_milli <= cut2.v THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM sc, cut1, cut2 ORDER BY sc.doc_id""",
    "text_pmi" ->
      """WITH tk AS (
           SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         bg AS (
           SELECT unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS s
           FROM tk WHERE len(t) >= 2),
         pairs AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         cx AS (SELECT w1, sum(c12) AS c1 FROM pairs GROUP BY 1),
         cy AS (SELECT w2, sum(c12) AS c2 FROM pairs GROUP BY 1),
         n AS (SELECT sum(c12) AS nn FROM pairs)
         SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
                (CAST(c12 AS DOUBLE) * CAST(nn AS DOUBLE))
                  / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) AS pmi_ratio
         FROM pairs JOIN cx USING (w1) JOIN cy USING (w2), n
         WHERE c12 >= 5
         ORDER BY pmi_ratio DESC, w1, w2 LIMIT 30""",
    "prep_token_ids" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         tok AS (SELECT unnest(t) AS w FROM tk),
         vocab AS (
           SELECT w AS token, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
           FROM (SELECT w, count(*) AS n FROM tok GROUP BY w ORDER BY n DESC, w LIMIT 25)),
         pos AS (
           SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS p FROM tk),
         ids AS (
           SELECT doc_id, p, coalesce(v.rank, 0) AS id
           FROM pos LEFT JOIN vocab v ON v.token = pos.w)
         SELECT tk.doc_id,
                CAST(coalesce(len(l.token_ids), 0) AS BIGINT) AS n_tokens,
                coalesce(array_to_string(list_transform(l.token_ids,
                  x -> CAST(x AS VARCHAR)), ' '), '') AS token_ids_str
         FROM tk LEFT JOIN (
           SELECT doc_id, list(id ORDER BY p) AS token_ids FROM ids GROUP BY doc_id) l
         USING (doc_id)
         ORDER BY tk.doc_id""",
    "prep_contrastive" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         nz AS (
           SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
         ch AS (
           SELECT doc_id,
                  CAST(i AS BIGINT) AS chunk_id,
                  CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS nt
           FROM nz, UNNEST(range(0, 1 + (greatest(0, n - 32) + 23) // 24)) AS t(i))
         SELECT a.doc_id, a.chunk_id AS anchor_id, a.nt AS anchor_tokens,
                b.chunk_id AS positive_id, b.nt AS positive_tokens
         FROM ch a JOIN ch b ON a.doc_id = b.doc_id AND b.chunk_id = a.chunk_id + 1
         ORDER BY a.doc_id, anchor_id""",
    // chosen = (score DESC, id DESC) head, rejected = (score ASC, id ASC)
    // head — exactly max(struct)/min(struct)'s tiebreak
    "prep_dpo_pairs" ->
      """WITH ranked AS (
           SELECT source, doc_id, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id DESC) AS rb,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars ASC, doc_id ASC) AS rw
           FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL
             AND doc_id IS NOT NULL)
         SELECT source,
                max(CASE WHEN rb = 1 THEN doc_id END) AS chosen_id,
                max(CASE WHEN rw = 1 THEN doc_id END) AS rejected_id,
                max(CASE WHEN rb = 1 THEN n_chars END) AS chosen_score,
                max(CASE WHEN rw = 1 THEN n_chars END) AS rejected_score
         FROM ranked GROUP BY source ORDER BY source""",
    // the salted join must be ROW-IDENTICAL to the plain join
    "q_join_skew_salted" ->
      """SELECT e.event_id, e.event_type, d.type_cnt
         FROM events e
         JOIN (SELECT event_type, count(*) AS type_cnt
               FROM events GROUP BY event_type) d
           ON e.event_type = d.event_type
         ORDER BY e.event_id""",
    "q_skyline" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice,
                  CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS day,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM orders),
         s AS (
           SELECT o_orderkey, o_totalprice, day,
                  max(day) OVER (ORDER BY c
                                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
           FROM o)
         SELECT o_orderkey, o_totalprice, day
         FROM s WHERE best IS NULL OR day > best
         ORDER BY o_orderkey""",
    "q_changepoint" ->
      """WITH daily AS (
           SELECT o_orderstatus,
                  CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS day,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1, 2),
         sc AS (
           SELECT o_orderstatus, day,
                  CAST(sum(rev) OVER (PARTITION BY o_orderstatus ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS s,
                  CAST(row_number() OVER (PARTITION BY o_orderstatus ORDER BY day) AS BIGINT) AS k,
                  CAST(sum(rev) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS tot,
                  CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
           FROM daily),
         cu AS (
           SELECT o_orderstatus, day,
                  s - CAST(k AS DOUBLE) * (tot / CAST(n AS DOUBLE)) AS cusum
           FROM sc),
         rk AS (
           SELECT o_orderstatus, day, cusum,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY abs(cusum) DESC, day) AS r
           FROM cu)
         SELECT o_orderstatus, day AS change_day, cusum
         FROM rk WHERE r = 1 ORDER BY o_orderstatus""",
    "q_mad" ->
      """WITH med AS (
           SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
           FROM orders GROUP BY 1),
         dev AS (
           SELECT o.o_orderstatus, med, abs(o_totalprice - med) AS d
           FROM orders o JOIN med USING (o_orderstatus))
         SELECT o_orderstatus, min(med) AS median,
                quantile_cont(d, 0.5) AS mad, count(*) AS n
         FROM dev GROUP BY 1 ORDER BY 1""",
    "quality_profile" ->
      """SELECT 'c_acctbal' AS "column", count(*) AS n_rows,
                CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                count(DISTINCT c_acctbal) AS n_distinct,
                CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS frac_null
         FROM customer
         UNION ALL
         SELECT 'c_mktsegment', count(*),
                CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                count(DISTINCT c_mktsegment),
                CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)
         FROM customer
         UNION ALL
         SELECT 'c_name', count(*),
                CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                count(DISTINCT c_name),
                CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)
         FROM customer
         UNION ALL
         SELECT 'c_nationkey', count(*),
                CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                count(DISTINCT c_nationkey),
                CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)
         FROM customer
         ORDER BY "column"""",
    "q_ewma" ->
      """WITH daily AS (
           SELECT o_orderstatus,
                  CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS day,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
           FROM orders GROUP BY 1, 2),
         l AS (
           SELECT o_orderstatus, day, rev,
                  lag(rev, 1) OVER w AS r1, lag(rev, 2) OVER w AS r2,
                  lag(rev, 3) OVER w AS r3
           FROM daily WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day))
         SELECT o_orderstatus, day, rev,
                (coalesce(rev * 0.5, 0.0) + coalesce(r1 * 0.25, 0.0)
                   + coalesce(r2 * 0.125, 0.0) + coalesce(r3 * 0.0625, 0.0))
                / ((CASE WHEN rev IS NOT NULL THEN 0.5 ELSE 0.0 END)
                   + (CASE WHEN r1 IS NOT NULL THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN r2 IS NOT NULL THEN 0.125 ELSE 0.0 END)
                   + (CASE WHEN r3 IS NOT NULL THEN 0.0625 ELSE 0.0 END)) AS ewma
         FROM l ORDER BY o_orderstatus, day""",
    "q_event_transitions" ->
      """WITH p AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (
           SELECT event_type, next_type, count(*) AS n FROM p
           WHERE next_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
         SELECT c.event_type, next_type, CAST(n AS BIGINT) AS n,
                CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
         FROM c JOIN t USING (event_type)
         ORDER BY event_type, next_type""",
    "q_ab_test" ->
      s"""WITH g AS (
           SELECT CAST(o_custkey % 2 AS INT) AS grp, count(*) AS n,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
                  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2
           FROM orders GROUP BY 1),
         m AS (
           SELECT grp, n,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  (CAST(n AS DOUBLE) * ${dec4d("s2")} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS variance
           FROM g)
         SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
                (a.mean - b.mean)
                  / sqrt(a.variance / CAST(a.n AS DOUBLE)
                    + b.variance / CAST(b.n AS DOUBLE)) AS t_stat
         FROM (SELECT * FROM m WHERE grp = 0) a, (SELECT * FROM m WHERE grp = 1) b""",
    "q_cohort_retention" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
         cohorts AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
         sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1),
         act AS (
           SELECT c.cohort_week, d.week, count(DISTINCT d.user_id) AS active_users
           FROM (SELECT DISTINCT user_id, week FROM e) d
           JOIN cohorts c USING (user_id)
           GROUP BY 1, 2)
         SELECT cohort_week, week, CAST(active_users AS BIGINT) AS active_users,
                CAST(cohort_size AS BIGINT) AS cohort_size,
                CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
         FROM act JOIN sizes USING (cohort_week)
         ORDER BY cohort_week, week""",
    "q_funnel" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_type FROM events
           WHERE event_id % 7 < 2),
         v AS (
           SELECT user_id, min(us) AS tv FROM e WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(us) AS tc FROM e JOIN v USING (user_id)
           WHERE event_type = 'click' AND us > tv
             AND us <= tv + 86400000000 GROUP BY 1),
         p AS (
           SELECT e.user_id, min(us) AS tp FROM e JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND us > tc
             AND us <= tc + 86400000000 GROUP BY 1),
         stages AS (
           SELECT u.user_id,
                  CASE WHEN p.user_id IS NOT NULL THEN 3
                       WHEN c.user_id IS NOT NULL THEN 2
                       WHEN v.user_id IS NOT NULL THEN 1
                       ELSE 0 END AS funnel_stage
           FROM (SELECT DISTINCT user_id FROM e) u
           LEFT JOIN v ON u.user_id = v.user_id
           LEFT JOIN c ON u.user_id = c.user_id
           LEFT JOIN p ON u.user_id = p.user_id)
         SELECT CAST(funnel_stage AS INT) AS funnel_stage, count(*) AS n_users
         FROM stages GROUP BY 1 ORDER BY 1""",
    "q_window_sliding" ->
      """WITH e AS (
           SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
         w AS (
           SELECT event_type, event_id, us,
                  unnest([(us // 1800000000) * 1800000000,
                          (us // 1800000000) * 1800000000 - 1800000000]) AS wstart
           FROM e)
         SELECT CAST(wstart AS BIGINT) AS start_us,
                CAST(wstart + 3600000000 AS BIGINT) AS end_us,
                event_type, count(*) AS n,
                min(event_id) AS first_id, max(event_id) AS last_id
         FROM w GROUP BY 1, 2, 3
         ORDER BY start_us, event_type""",
    "q_string_funcs" ->
      """SELECT p_partkey,
                upper(p_brand) AS brand_upper,
                lpad(p_type, 12, '.') AS type_padded,
                substring(p_name, 1, 8) AS name_prefix,
                CAST(instr(p_type, 'a') AS BIGINT) AS first_a,
                translate(p_name, 'aeiou', '_____') AS devoweled,
                CAST(levenshtein(p_type, 'standard') AS BIGINT) AS edit_dist,
                CAST(len(regexp_replace(p_name, '[^a-z]', '', 'g')) AS BIGINT) AS n_lower
         FROM part ORDER BY p_partkey""",
    "text_ttr" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents)
         SELECT doc_id,
                CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(len(list_distinct(t[1:25])) AS DOUBLE)
                          / CAST(least(len(t), 25) AS DOUBLE) END AS ttr25,
                CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(len(list_distinct(t[1:50])) AS DOUBLE)
                          / CAST(least(len(t), 50) AS DOUBLE) END AS ttr50,
                CASE WHEN len(t) = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(len(list_distinct(t[1:100])) AS DOUBLE)
                          / CAST(least(len(t), 100) AS DOUBLE) END AS ttr100
         FROM tk ORDER BY doc_id""",
    "q_bit_flags" ->
      """WITH f AS (
           SELECT o_orderstatus,
                  (CAST(1 AS BIGINT) << CAST(o_orderkey % 60 AS INT)) AS flag
           FROM orders)
         SELECT o_orderstatus,
                CAST(bit_or(flag) AS BIGINT) AS flags_or,
                CAST(bit_and(flag) AS BIGINT) AS flags_and,
                CAST(bit_xor(flag) AS BIGINT) AS flags_xor,
                CAST(bit_count(bit_or(flag)) AS BIGINT) AS n_flag_bits
         FROM f GROUP BY 1 ORDER BY 1""",
    "text_gini" ->
      """WITH tok AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
         agg AS (SELECT doc_id, sum(c) AS n_tokens, sum(c * c) AS sum_tf2 FROM tf GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
                CAST(coalesce(sum_tf2, 0) AS BIGINT) AS sum_tf2,
                CASE WHEN n_tokens IS NULL OR n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE 1.0 - CAST(sum_tf2 AS DOUBLE)
                          / CAST(n_tokens * n_tokens AS DOUBLE) END AS gini
         FROM documents d LEFT JOIN agg USING (doc_id)
         ORDER BY d.doc_id""",
    "q_null_aware_anti" ->
      """SELECT c_custkey, 'no_null' AS variant FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey
                                 FROM orders WHERE o_orderkey % 40 = 1)
         UNION ALL
         SELECT c_custkey, 'with_null' AS variant FROM customer
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 1)
                                 FROM orders WHERE o_orderkey % 40 = 1)
         ORDER BY variant, c_custkey""",
    "q_higher_order" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents)
         SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(t, w -> len(w))), 0) AS BIGINT) AS chars_in_tokens,
                CAST(len(list_filter(t, w -> len(w) >= 6)) AS BIGINT) AS long_words,
                CAST(len(list_filter(list_transform(range(1, len(t)), i -> t[i] = t[i+1]),
                         x -> x)) AS BIGINT) AS adjacent_repeats
         FROM tk ORDER BY doc_id""",
    "text_fertility" ->
      """SELECT lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(ws) AS BIGINT) AS ws_tokens,
                CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
                CAST(sum(chars) AS BIGINT) AS n_chars,
                CAST(sum(chars) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS chars_per_token,
                CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
         FROM (SELECT lang,
                      len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws,
                      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe,
                      len(text) AS chars
               FROM documents)
         GROUP BY lang ORDER BY lang""",
    "sim_cluster_sample" -> clusterSampleSql,
    "text_repetition" -> repetitionSql,
    "prep_mixture" -> mixtureSql,
    "prep_mixture_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
         wsrc AS (
           SELECT source, n_source,
                  CAST(floor(sqrt(n_source)) AS BIGINT) AS w FROM c),
         tot AS (SELECT sum(w) AS tw FROM wsrc),
         q0 AS (
           SELECT source, n_source, w,
                  (200 * w) // tw AS base, (200 * w) % tw AS rem
           FROM wsrc, tot),
         b AS (SELECT sum(base) AS sb FROM q0),
         q1 AS (
           SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS er
           FROM q0),
         q AS (
           SELECT source,
                  least(CASE WHEN er <= 200 - sb THEN base + 1 ELSE base END,
                        n_source) AS quota
           FROM q1, b),
         r AS (
           SELECT d.doc_id, d.source,
                  row_number() OVER (PARTITION BY d.source
                    ORDER BY (d.doc_id * 2654435761 + 40503) % 1000000007,
                             d.doc_id) AS pick_rank
           FROM documents d)
         SELECT r.doc_id, r.source, CAST(r.pick_rank AS BIGINT) AS pick_rank
         FROM r JOIN q USING (source)
         WHERE r.pick_rank <= q.quota
         ORDER BY r.doc_id""",
    "prep_mixture_temperature_t3" ->
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
         g0 AS (
           SELECT source, n_source,
                  CAST(floor(power(n_source, 1.0/3)) AS BIGINT) AS g FROM c),
         wsrc AS (
           SELECT source, n_source,
                  CASE WHEN (g+2)*(g+2)*(g+2) <= n_source THEN g+2
                       WHEN (g+1)*(g+1)*(g+1) <= n_source THEN g+1
                       WHEN g*g*g <= n_source THEN g
                       WHEN (g-1)*(g-1)*(g-1) <= n_source THEN g-1
                       ELSE greatest(g-2, 0) END AS w
           FROM g0),
         tot AS (SELECT sum(w) AS tw FROM wsrc),
         q0 AS (
           SELECT source, n_source, w,
                  (200 * w) // tw AS base, (200 * w) % tw AS rem
           FROM wsrc, tot),
         b AS (SELECT sum(base) AS sb FROM q0),
         q1 AS (
           SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS er
           FROM q0),
         q AS (
           SELECT source,
                  least(CASE WHEN er <= 200 - sb THEN base + 1 ELSE base END,
                        n_source) AS quota
           FROM q1, b),
         r AS (
           SELECT d.doc_id, d.source,
                  row_number() OVER (PARTITION BY d.source
                    ORDER BY (d.doc_id * 2654435761 + 40503) % 1000000007,
                             d.doc_id) AS pick_rank
           FROM documents d)
         SELECT r.doc_id, r.source, CAST(r.pick_rank AS BIGINT) AS pick_rank
         FROM r JOIN q USING (source)
         WHERE r.pick_rank <= q.quota
         ORDER BY r.doc_id""",
    "sim_topk_lsh" -> lshTopkSql,
    "sim_topk_lsh_multiprobe" -> lshMultiprobeSql,
    "sim_cosine_neardup" -> cosineNearDupSql,
    "multimodal_decode" -> multimodalDecodeSql,
    "multimodal_decode_bands" -> multimodalDecodeBandsSql,
    "multimodal_crossmodal" -> multimodalCrossModalSql,
    "multimodal_image_neardup" -> multimodalAhashSql,
    "multimodal_image_mhash" -> multimodalMhashSql,
    "multimodal_audio_neardup" -> multimodalAudioFpSql,
    "multimodal_video_neardup" -> multimodalVideoNearDupSql,
    "quality_drift" ->
      """WITH ref AS (SELECT n_chars FROM documents
                      WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
         cur AS (SELECT n_chars FROM documents
                 WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
         st AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM ref),
         ra AS (
           SELECT least(greatest(n_chars // ((hi // 16) - (lo // 16) + 1)
                                 - lo // ((hi // 16) - (lo // 16) + 1), 0), 15) AS bin,
                  count(*) AS cnt_ref
           FROM ref, st GROUP BY 1),
         rb AS (
           SELECT least(greatest(n_chars // ((hi // 16) - (lo // 16) + 1)
                                 - lo // ((hi // 16) - (lo // 16) + 1), 0), 15) AS bin,
                  count(*) AS cnt_cur
           FROM cur, st GROUP BY 1),
         sz AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM ref) AS na,
                       (SELECT CAST(count(*) AS DOUBLE) FROM cur) AS nb),
         g AS (SELECT unnest(range(0, 16)) AS bin),
         j AS (
           SELECT g.bin, coalesce(ra.cnt_ref, 0) AS cnt_ref,
                  coalesce(rb.cnt_cur, 0) AS cnt_cur
           FROM g LEFT JOIN ra ON g.bin = ra.bin LEFT JOIN rb ON g.bin = rb.bin),
         e AS (
           SELECT bin, cnt_ref, cnt_cur, cnt_ref * nb / na AS expected_cur
           FROM j, sz),
         c AS (
           SELECT bin, cnt_ref, cnt_cur, expected_cur,
                  CASE WHEN expected_cur > 0
                       THEN (cnt_cur - expected_cur) * (cnt_cur - expected_cur) / expected_cur
                       ELSE 0.0 END AS contrib
           FROM e)
         SELECT bin, CAST(cnt_ref AS BIGINT) AS cnt_ref,
                CAST(cnt_cur AS BIGINT) AS cnt_cur, expected_cur, contrib,
                sum(contrib) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS chi2_running
         FROM c ORDER BY bin""",
    "dedup_corpus_semantic" -> dedupCorpusSemanticSql,
    "q_bronze_wrap" ->
      """SELECT props AS raw_json, DATE '2024-01-15' AS extraction_date
         FROM events ORDER BY event_id""",
    "q_silver_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
                event_type
         FROM events ORDER BY event_id""",
    "q_silver_clean" ->
      """SELECT c_custkey, upper(trim(c_name)) AS name_up,
                lower(trim(c_mktsegment)) AS segment_lo,
                regexp_replace(c_name, '[^0-9]', '', 'g') AS name_digits
         FROM customer WHERE c_name IS NOT NULL ORDER BY c_custkey""",
    "q_gold_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS row_count,
                count(DISTINCT l_orderkey) AS unique_orders
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_gold_agg_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS order_count,
                count(DISTINCT o_custkey) AS unique_customers,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_total" ->
      """SELECT CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
         FROM lineitem""",
    "q_slice" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
         ORDER BY c_custkey""",
    "q_date_filter_agg" ->
      """SELECT o_orderstatus, count(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS order_count,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q_join_multi" ->
      """SELECT r_name, n_name, count(*) AS customer_count,
                CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS order_count,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
                CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS order_count,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
                CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS order_count,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
                CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_pivot" ->
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
                CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS rev_f,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
                CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS rev_o,
                count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p,
                CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  FILTER (WHERE o_orderstatus = 'P'), 0) AS DOUBLE) AS rev_p
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_unpivot" ->
      """WITH wide AS (
           SELECT o_orderstatus,
                  CAST(count(*) AS DOUBLE) AS order_count,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
                  max(o_totalprice) AS max_price
           FROM orders GROUP BY 1)
         SELECT o_orderstatus, 'order_count' AS metric, order_count AS value FROM wide
         UNION ALL
         SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM wide
         UNION ALL
         SELECT o_orderstatus, 'max_price' AS metric, max_price AS value FROM wide
         ORDER BY o_orderstatus, metric""",
    // the merge-on-read end state, derived independently: base = docs
    // with doc_id % 4 != 0, minus the % 8 = 2 deletes, source rewritten
    // for the % 8 = 1 updates; plus the % 4 = 0 inserts
    "q_merge_mor" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN 'ins'
                     WHEN doc_id % 8 = 1 THEN 'upd'
                     ELSE source END AS source,
                n_chars
         FROM documents
         WHERE doc_id % 8 <> 2
         ORDER BY doc_id""",
    // partition evolution must be INVISIBLE to query results: the mixed
    // flat + source=... layouts serve the same logical content as the
    // raw documents under the same filter
    "q_partition_evolution" ->
      """SELECT doc_id, source, n_chars
         FROM documents
         WHERE n_chars % 2 = 0
         ORDER BY doc_id""",
    // the mixed-layout metadata-only aggregates, recomputed off the raw
    // documents (the evolved table holds exactly the full document set)
    "q_evolution_agg" ->
      """SELECT count(*) AS c, count(source) AS cs,
                min(doc_id) AS mn, max(doc_id) AS mx,
                min(n_chars) AS nmn, max(n_chars) AS nmx
         FROM documents""",
    // the hybrid (manifest-partials + legacy-sliver-scan) grouped
    // aggregates, recomputed off the raw documents
    "q_evolution_agg_hybrid" ->
      """SELECT source, count(*) AS c,
                min(doc_id) AS mn, max(doc_id) AS mx,
                max(n_chars) AS nmx
         FROM documents
         GROUP BY source
         ORDER BY source""",
    // migrate-then-dynamic-overwrite end state: every row of the first
    // source partition replaced with n_chars = -1, everything else intact
    "q_migrate_layout" ->
      """SELECT doc_id, source,
                CASE WHEN source = (SELECT min(source) FROM documents)
                     THEN -1 ELSE n_chars END AS n_chars
         FROM documents
         ORDER BY doc_id""",
    // the position-delete end state, derived independently: base = docs
    // with doc_id % 5 != 0, source rewritten for the % 10 = 1 updates,
    // plus the % 5 = 0 inserts, minus the % 10 = 3 row-level deletes
    "q_merge_pos" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 5 = 0 THEN 'ins'
                     WHEN doc_id % 10 = 1 THEN 'upd'
                     ELSE source END AS source,
                n_chars
         FROM documents
         WHERE doc_id % 10 <> 3
         ORDER BY doc_id""",
    "q_merge_upsert" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 14 = 3 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                CASE WHEN o_orderkey % 14 = 3 THEN o_totalprice
                     WHEN o_orderkey % 7 = 3 THEN o_totalprice + 1000.0
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 5
         ORDER BY o_orderkey""",
    "q_set_ops" ->
      """SELECT c_custkey FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
           UNION
           (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            EXCEPT
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0))
         ORDER BY c_custkey""",
    "q_window_rank_stats" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey""",
    "q_range_join" ->
      """WITH intervals AS (
           SELECT CAST(r AS BIGINT) AS band_id, r * 100.0 AS lo, r * 100.0 + 150.0 AS hi
           FROM (SELECT unnest(range(0, 100)) AS r))
         SELECT c_custkey, count(*) AS n_bands, CAST(sum(band_id) AS BIGINT) AS band_sum
         FROM customer JOIN intervals
           ON c_acctbal >= lo AND c_acctbal <= hi
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_stats_moments" ->
      s"""WITH a AS (
           SELECT o_orderstatus, count(*) AS n,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
                  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2
           FROM orders GROUP BY 1)
         SELECT o_orderstatus, n,
                CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                (CAST(n AS DOUBLE) * ${dec4d("s2")} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS variance,
                sqrt((CAST(n AS DOUBLE) * ${dec4d("s2")} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS stddev
         FROM a ORDER BY o_orderstatus""",
    "q_window_range_frame" ->
      """WITH daily AS (
           SELECT o_orderstatus,
                  CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS day,
                  count(*) AS d_cnt,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1, 2)
         SELECT o_orderstatus, day, d_cnt,
                CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d,
                CAST(sum(d_cnt) OVER w AS BIGINT) AS cnt_7d
         FROM daily
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY day
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderstatus, day""",
    "q_outliers" ->
      s"""WITH a AS (
           SELECT o_orderstatus, count(*) AS n,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
                  sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2
           FROM orders GROUP BY 1),
         m AS (
           SELECT o_orderstatus,
                  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                  sqrt((CAST(n AS DOUBLE) * ${dec4d("s2")} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd
           FROM a)
         SELECT o_orderkey, o.o_orderstatus, o_totalprice,
                (o_totalprice - mean) / sd AS z
         FROM orders o JOIN m ON o.o_orderstatus = m.o_orderstatus
         WHERE abs(o_totalprice - mean) > 1.5 * sd
         ORDER BY o_orderkey""",
    "q_resample_ffill" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
                  epoch_us(ts) AS us, event_id
           FROM events),
         rep AS (
           SELECT user_id, day, value FROM (
             SELECT user_id, day, value,
                    row_number() OVER (PARTITION BY user_id, day
                                       ORDER BY us DESC, event_id DESC) AS rn
             FROM e) WHERE rn = 1),
         span AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM e GROUP BY 1),
         grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS day FROM span),
         j AS (
           SELECT g.user_id, g.day, r.value
           FROM grid g LEFT JOIN rep r ON g.user_id = r.user_id AND g.day = r.day)
         SELECT user_id, CAST(day AS BIGINT) AS day,
                last_value(value IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
                value IS NOT NULL AS is_observed
         FROM j ORDER BY user_id, day""",
    "q_full_outer" ->
      """WITH c AS (
           SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0),
         co AS (
           SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
         SELECT coalesce(c_custkey, o_custkey) AS custkey,
                coalesce(c_mktsegment, 'none') AS segment,
                coalesce(n_orders, 0) AS n_orders,
                c_custkey IS NOT NULL AND o_custkey IS NOT NULL AS matched
         FROM c FULL OUTER JOIN co ON c_custkey = o_custkey
         ORDER BY custkey""",
    "q_sample_stratified" ->
      """SELECT o_orderstatus, o_orderkey, rn FROM (
           SELECT o_orderstatus, o_orderkey,
                  CAST(row_number() OVER (
                    PARTITION BY o_orderstatus
                    ORDER BY (o_orderkey * 2654435761 + 101) % 1000003, o_orderkey)
                  AS BIGINT) AS rn
           FROM orders)
         WHERE rn <= 50
         ORDER BY o_orderstatus, rn""",
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
                count(*) AS n,
                min(o_totalprice) AS lo,
                max(o_totalprice) AS hi
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_corr" ->
      s"""WITH a AS (
           SELECT l_returnflag, count(*) AS n,
                  sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                  sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
                  sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sx2,
                  sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sy2
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                (CAST(n AS DOUBLE) * ${dec4d("sxy")} - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (sqrt(CAST(n AS DOUBLE) * ${dec4d("sx2")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * sqrt(CAST(n AS DOUBLE) * ${dec4d("sy2")} - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
         FROM a ORDER BY l_returnflag""",
    "prep_oov" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
           FROM documents),
         vocab AS (
           SELECT token FROM (
             SELECT token, count(*) AS n FROM toks GROUP BY token
             ORDER BY n DESC, token LIMIT 25)),
         per AS (
           SELECT doc_id, count(*) AS n_tokens,
                  sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) AS n_oov
           FROM toks GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
                CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
                CASE WHEN n_tokens IS NULL OR n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS oov_rate
         FROM documents d LEFT JOIN per USING (doc_id)
         ORDER BY d.doc_id""",
    "q_semi_anti" ->
      """SELECT c_custkey, 'with_orders' AS segment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         UNION ALL
         SELECT c_custkey, 'no_orders' AS segment FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "q_scd2" ->
      """WITH hist AS (
           SELECT c_custkey AS key, c_mktsegment AS state,
                  TIMESTAMP '1990-01-01 00:00:00' AS ts, 0 AS side,
                  CAST(0 AS BIGINT) AS tie
           FROM customer),
         upd AS (
           SELECT o_custkey AS key, o_orderpriority AS state, o_orderdate AS ts,
                  1 AS side, o_orderkey AS tie
           FROM orders),
         u AS (SELECT * FROM hist UNION ALL SELECT * FROM upd),
         k AS (
           SELECT key, state, ts, side, tie FROM (
             SELECT *, lag(state) OVER (PARTITION BY key ORDER BY ts, side, tie) AS prev
             FROM u)
           WHERE prev IS NULL OR state <> prev),
         f AS (
           SELECT key, state, ts AS vf,
                  lead(ts) OVER (PARTITION BY key ORDER BY ts, side, tie) AS vt
           FROM k)
         SELECT key, state, epoch_ms(vf) AS valid_from_ms, epoch_ms(vt) AS valid_to_ms,
                (vt IS NULL) AS is_current
         FROM f ORDER BY key, valid_from_ms, state""",
    "q_incremental_agg" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0),
         final AS (
           SELECT * FROM base
           WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
           UNION ALL
           SELECT * FROM orders WHERE o_orderkey % 5 = 0)
         SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
         FROM final GROUP BY 1 ORDER BY 1""",
    "q_window_topn" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_window_lag" ->
      """SELECT user_id, event_id, value,
                lag(value) OVER w AS prev_value,
                value - lag(value) OVER w AS delta
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY user_id, event_id""",
    "q_asof_join" ->
      """SELECT l.user_id, l.event_id, l.value, r.event_id AS matched_view_event
         FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
           ON l.user_id = r.user_id AND l.event_id >= r.event_id
         ORDER BY l.user_id, l.event_id""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         d AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT user_id, event_id,
                  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM d)
         SELECT user_id, session_id, count(*) AS n_events,
                min(event_id) AS first_event, max(event_id) AS last_event
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_percentiles" ->
      """SELECT o_orderstatus,
                quantile_cont(o_totalprice, 0.5) AS p50,
                quantile_cont(o_totalprice, 0.9) AS p90,
                max(o_totalprice) AS p100
         FROM orders GROUP BY 1 ORDER BY 1""",
    "text_bpe_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT text, min(doc_id) AS doc_id FROM documents
         GROUP BY text ORDER BY doc_id""",
    "dedup_editdistance" ->
      """WITH b0 AS (
           SELECT doc_id, text, substr(text, 1, 24) AS pfx,
                  len(text) // 16 AS lb
           FROM documents),
         b AS (
           SELECT doc_id, text, pfx, lb FROM (
             SELECT b0.*, row_number() OVER (PARTITION BY pfx, lb
                      ORDER BY doc_id) AS rn
             FROM b0) t
           WHERE rn <= 256)
         SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                CAST(levenshtein(a.text, b2.text) AS BIGINT) AS edit_distance
         FROM b a JOIN b b2
           ON a.pfx = b2.pfx AND a.lb = b2.lb AND a.doc_id < b2.doc_id
         WHERE levenshtein(a.text, b2.text) <= 8
         ORDER BY doc_a, doc_b""",
    "dedup_incremental" -> incrementalDedupSql,
    // the Bloom gate is a pure routing optimization — the ORACLE is the
    // ungated incremental dedup, verbatim
    "dedup_incremental_bloom" -> incrementalDedupSql,
    "prep_negatives" ->
      """WITH ring AS (
           SELECT doc_id, lang,
                  (doc_id * 2246822519 + 3266489917) % 1000000007 AS ring
           FROM documents),
         posed AS (
           SELECT doc_id, lang, ring,
                  row_number() OVER (PARTITION BY lang ORDER BY ring, doc_id) AS pos,
                  count(*) OVER (PARTITION BY lang) AS n
           FROM ring),
         negs AS (
           SELECT p.doc_id, i AS rank, p.lang,
                  CASE WHEN p.pos + i <= p.n THEN p.pos + i
                       ELSE p.pos + i - p.n END AS tpos
           FROM posed p, UNNEST(range(1, 4)) AS t(i)
           WHERE i < p.n)
         SELECT n1.doc_id, CAST(n1.rank AS BIGINT) AS rank, p2.doc_id AS neg_id
         FROM negs n1 JOIN posed p2 ON n1.lang = p2.lang AND n1.tpos = p2.pos
         ORDER BY n1.doc_id, rank""",
    "prep_bpe_pairs" ->
      """WITH tok AS (
           SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           FROM documents),
         p AS (
           SELECT substr(tok, i, 1) AS c1, substr(tok, i + 1, 1) AS c2
           FROM tok, UNNEST(range(1, len(tok))) AS t(i)
           WHERE len(tok) >= 2)
         SELECT c1, c2, count(*) AS pair_count
         FROM p GROUP BY c1, c2
         ORDER BY pair_count DESC, c1, c2 LIMIT 30""",
    "text_bpe_train" -> bpeTrainSql(6),
    "text_bpe_segment" -> bpeSegmentSql(6),
    "text_bpe_vocab" -> bpeVocabSql(6, 64),
    "text_bpe_encode" -> bpeEncodeSql(6, 16),
    "text_unigram_train" -> unigramTrainSql(4, 60, 2, 2L),
    "text_unigram_segment" -> unigramSegmentSql(4, 60, 2, 2L),
    "text_wordpiece_train" -> wpTrainSql(6),
    "text_wordpiece_vocab" -> wordPieceVocabSql(4, 64),
    "text_wordpiece_encode" -> wordPieceEncodeSql(4, 64),
    "text_wordpiece_segment" -> wordPieceSegmentSql(4, 64),
    "text_wordpiece_unk" -> wordPieceUnkSql(4, 64),
    "text_unigram_encode" -> unigramEncodeSql(4, 60, 2, 2L),
    "q_lateness_profile" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
         h AS (
           SELECT event_type, us,
                  max(us) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
           FROM e),
         l AS (
           SELECT event_type,
                  CASE WHEN hwm IS NOT NULL AND hwm > us THEN hwm - us ELSE 0 END AS late_us
           FROM h)
         SELECT event_type,
                count(*) AS n_events,
                CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS late_ratio,
                max(late_us) AS max_late_us,
                CAST(sum(late_us) AS BIGINT) AS total_late_us
         FROM l GROUP BY event_type ORDER BY event_type""",
    "text_inverted_index" ->
      """WITH tk AS (
           SELECT doc_id,
                  unnest(list_distinct(list_filter(string_split(text, ' '),
                    x -> x <> ''))) AS token
           FROM documents),
         dfq AS (SELECT token, count(*) AS df FROM tk GROUP BY token),
         rare AS (
           SELECT token, df FROM dfq WHERE df >= 2
           ORDER BY df ASC, token ASC LIMIT 50),
         p AS (
           SELECT tk.token, tk.doc_id,
                  row_number() OVER (PARTITION BY tk.token ORDER BY tk.doc_id) AS rn
           FROM tk JOIN rare USING (token))
         SELECT r.token, r.df,
                array_to_string(list(CAST(p.doc_id AS VARCHAR) ORDER BY p.doc_id), ' ')
                  AS postings
         FROM p JOIN rare r USING (token)
         WHERE p.rn <= 20
         GROUP BY r.token, r.df
         ORDER BY r.token""",
    "dedup_exact_events" ->
      """SELECT user_id, event_type, min(event_id) AS first_event,
                count(*) AS copies
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "multimodal_meta" ->
      """WITH m AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
                  CASE WHEN doc_id % 3 = 0 THEN 64 + (doc_id % 8) * 16 WHEN doc_id % 3 = 1 THEN 0 ELSE 128 END AS width,
                  CASE WHEN doc_id % 3 = 0 THEN 1 WHEN doc_id % 3 = 1 THEN 0 ELSE 8 + (doc_id % 8) END AS nframes
           FROM documents)
         SELECT kind, format, count(*) AS n_media,
                CAST(max(width) AS BIGINT) AS max_width,
                CAST(max(nframes) AS BIGINT) AS max_frames
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    "multimodal_bytestats" ->
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                CAST(length(text) AS BIGINT) AS n_bytes,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                  (a, b) -> a + b) AS byte_sum
         FROM documents ORDER BY media_id""",
    "multimodal_audio" ->
      """WITH a AS (
           SELECT doc_id AS media_id,
                  list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                                 c -> CAST(ascii(c) AS BIGINT)) AS cs
           FROM documents WHERE doc_id % 3 = 1),
         f AS (
           SELECT media_id, cs, len(cs) AS n,
                  unnest(range(0, CAST(ceil(len(cs) / 256.0) AS BIGINT))) AS frame_index
           FROM a)
         SELECT media_id, frame_index,
                CAST(least(n, (frame_index + 1) * 256) - frame_index * 256 AS BIGINT) AS n_samples,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(
                    list_slice(cs, CAST(frame_index * 256 AS INT) + 1,
                               CAST(least(n, (frame_index + 1) * 256) AS INT)),
                    s -> (s - 128) * (s - 128))),
                  (acc, v) -> acc + v) AS energy
         FROM f ORDER BY media_id, frame_index""",
    "multimodal_frames" ->
      """SELECT doc_id AS media_id,
                ((8 + (doc_id % 8)) + 1) // 2 AS n_frames_sampled
         FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""",
    "text_token_count" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """WITH tk AS (
           SELECT doc_id, length(text) AS n_chars,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id,
                CAST(n_chars AS BIGINT) AS n_chars,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stopwords,
                CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
         FROM tk ORDER BY doc_id""",
    "text_langid" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
                  CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
                  CAST(len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
                  CAST(len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
                  CAST(len(list_filter(toks, w -> w IN ('le','la','de','et','est'))) AS BIGINT) AS s_fr
           FROM tk)
         SELECT doc_id,
                CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                     WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                     WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                     ELSE 'fr' END AS lang_pred,
                greatest(s_en, s_es, s_de, s_fr) AS lang_score
         FROM s ORDER BY doc_id""",
    "text_quality_filter" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
           FROM tk)
         SELECT doc_id, n_tokens, stopword_ratio, distinct_ratio FROM m
         WHERE n_tokens >= 20 AND stopword_ratio <= 0.25 AND distinct_ratio >= 0.5
         ORDER BY doc_id""",
    "text_gopher_rules" ->
      """WITH tk AS (
           SELECT doc_id, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  CAST(coalesce(list_sum(list_transform(toks, w -> len(w))), 0) AS BIGINT) AS sum_word_len,
                  CAST(len(text) - len(regexp_replace(text, '[#…]', '', 'g')) AS BIGINT) AS n_symbols,
                  CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
                  CAST(len(list_intersect(list_distinct(toks),
                    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords_distinct
           FROM tk)
         SELECT doc_id, n_words, sum_word_len, n_symbols, n_alpha_words,
                n_stopwords_distinct,
                (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
                (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10) AS ok_mean_len,
                (n_symbols * 10 <= n_words) AS ok_symbol_ratio,
                (n_alpha_words * 5 >= n_words * 4) AS ok_alpha_words,
                (n_stopwords_distinct >= 2) AS ok_stopwords,
                ((n_words >= 50 AND n_words <= 100000)
                  AND (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10)
                  AND (n_symbols * 10 <= n_words)
                  AND (n_alpha_words * 5 >= n_words * 4)
                  AND (n_stopwords_distinct >= 2)) AS keep
         FROM m ORDER BY doc_id""",
    "quality_datasheet" ->
      """WITH tk AS (
           SELECT doc_id, text, lang, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT text, lang, source,
                  CAST(len(toks) AS BIGINT) AS nt,
                  CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS ns,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS nu
           FROM tk)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dup_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(max(nt) AS BIGINT) AS max_doc_tokens,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(sum(CASE WHEN nt >= 20 AND ns * 4 <= nt AND nu * 2 >= nt
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
         FROM m""",
    "text_lang_confusion" ->
      """WITH tk AS (
           SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, lang,
                  CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
                  CAST(len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
                  CAST(len(list_filter(toks, w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
                  CAST(len(list_filter(toks, w -> w IN ('le','la','de','et','est'))) AS BIGINT) AS s_fr
           FROM tk),
         pred AS (
           SELECT lang,
                  CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                       WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                       WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                       ELSE 'fr' END AS lang_pred
           FROM s)
         SELECT lang, lang_pred, count(*) AS n_docs
         FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",
    "quality_report" ->
      """WITH agg AS (
           SELECT count(*) AS n,
                  count(*) FILTER (c_name IS NULL) AS v_notnull,
                  count(c_custkey) - count(DISTINCT c_custkey) AS v_unique,
                  count(*) FILTER (c_acctbal < -999.99 OR c_acctbal > 9999.99) AS v_between,
                  count(*) FILTER (c_name IS NOT NULL AND NOT regexp_matches(c_name, '^Customer#[0-9]+$')) AS v_regex,
                  count(*) FILTER (c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
                    ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')) AS v_inset
           FROM customer)
         SELECT rule, "column", n_rows, n_violations, n_violations = 0 AS passed FROM (
           SELECT 'not_null' AS rule, 'c_name' AS "column", n AS n_rows, v_notnull AS n_violations FROM agg
           UNION ALL SELECT 'unique', 'c_custkey', n, v_unique FROM agg
           UNION ALL SELECT 'between', 'c_acctbal', n, v_between FROM agg
           UNION ALL SELECT 'matches_regex', 'c_name', n, v_regex FROM agg
           UNION ALL SELECT 'in_set', 'c_mktsegment', n, v_inset FROM agg)
         ORDER BY rule, "column"""",
    "text_tf_rarity" ->
      """WITH terms AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, token, tf, df,
                  CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score
           FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         r AS (
           SELECT doc_id, token, tf, df, score,
                  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
           FROM scored)
         SELECT doc_id, token, tf, df, score, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "prep_split" ->
      """SELECT doc_id,
                (doc_id * 2654435761 + 40503) % 1000 AS bucket,
                CASE WHEN (doc_id * 2654435761 + 40503) % 1000 < 800 THEN 'train'
                     WHEN (doc_id * 2654435761 + 40503) % 1000 < 900 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    "prep_pack" ->
      """WITH tk AS (
           SELECT doc_id, lang,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
           FROM tk)
         SELECT doc_id, lang, n_tokens,
                CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
         FROM c ORDER BY doc_id""",
    "prep_pack_manifest" ->
      """WITH tk AS (
           SELECT doc_id, lang,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
           FROM tk),
         m AS (
           SELECT doc_id, lang, n_tokens,
                  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
                  cum - n_tokens AS before
           FROM c)
         SELECT doc_id, lang, n_tokens, seq_id,
                CAST(before - seq_id * 512 AS BIGINT) AS seq_offset,
                (before - seq_id * 512 + n_tokens) > 512 AS spills_into_next
         FROM m ORDER BY doc_id""",
    "prep_pack_efficiency" ->
      """WITH tk AS (
           SELECT doc_id, lang,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
           FROM tk),
         m AS (
           SELECT lang, n_tokens,
                  (cum - n_tokens) - ((cum - n_tokens) // 512) * 512 AS seq_offset
           FROM c)
         SELECT lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_seqs,
                CAST(((sum(n_tokens) + 511) // 512) * 512 - sum(n_tokens) AS BIGINT) AS waste_tokens,
                CAST(sum(CASE WHEN seq_offset + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         FROM m GROUP BY lang ORDER BY lang""",
    "prep_vocab" ->
      """SELECT token, n_occurrences, rank FROM (
           SELECT token, count(*) AS n_occurrences,
                  row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
           FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                 FROM documents)
           GROUP BY token)
         WHERE rank <= 50 ORDER BY rank""",
    "prep_scrub" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                               '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+'))
                     + len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT) AS n_redactions
         FROM documents ORDER BY doc_id""",
    "prep_quality_train" ->
      s"""WITH $oracleTk,
         $qualityWeightsCtes
         SELECT bucket, pos_b, neg_b, weight_micro FROM w ORDER BY bucket""",
    "prep_quality_logit" ->
      s"""WITH $oracleTk,
         $qualityWeightsCtes,
         wl AS (SELECT list(weight_micro ORDER BY bucket) AS l FROM w)
         SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(th,
                  h -> l[CAST(h % 64 AS INT) + 1])), 0) AS BIGINT) AS logit_micro,
                CAST(coalesce(list_sum(list_transform(th,
                  h -> l[CAST(h % 64 AS INT) + 1])), 0) > 0 AS BOOLEAN) AS keep
         FROM tk CROSS JOIN wl ORDER BY doc_id""",
    "text_hash_embed" ->
      s"""WITH $oracleTk,
         e AS (SELECT doc_id, unnest(th) AS h FROM tk),
         b AS (SELECT doc_id, CAST(h % 64 AS INT) AS bucket,
                      CASE WHEN ((h >> 20) & 1) = 1 THEN -1 ELSE 1 END AS s
               FROM e),
         v AS (SELECT doc_id, bucket, CAST(sum(s) AS DOUBLE) AS val
               FROM b GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   CAST(count(*) FILTER (val <> 0) AS BIGINT) AS nnz,
                   CAST(sum(abs(val)) AS DOUBLE) AS l1,
                   CAST(sum(val * val) AS DOUBLE) AS norm2
                 FROM v GROUP BY 1)
         SELECT d.doc_id,
                coalesce(a.nnz, CAST(0 AS BIGINT)) AS nnz,
                coalesce(a.l1, 0.0) AS l1,
                coalesce(a.norm2, 0.0) AS norm2
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "prep_corpus" ->
      """WITH scrub AS (
           SELECT doc_id, lang,
                  regexp_replace(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                                 '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
                  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+'))
                       + len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT) AS n_redactions
           FROM documents),
         gated AS (
           SELECT doc_id, lang, scrubbed, n_redactions,
                  CAST(len(toks) AS BIGINT) AS n_tokens
           FROM (SELECT *, list_filter(string_split(scrubbed, ' '), x -> x <> '') AS toks FROM scrub)
           WHERE len(toks) >= 20
             AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.5),
         fp AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    list_transform(list_filter(string_split(scrubbed, ''), c -> c <> ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                    (a, c) -> (a * 31 + c) % 1000000007) AS f
           FROM gated),
         keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         surv AS (
           SELECT g.doc_id, g.lang, g.n_tokens, g.n_redactions,
                  CASE WHEN (g.doc_id * 2654435761 + 40503) % 1000 < 800 THEN 'train'
                       WHEN (g.doc_id * 2654435761 + 40503) % 1000 < 900 THEN 'val'
                       ELSE 'test' END AS split
           FROM gated g JOIN keep USING (doc_id)),
         c AS (
           SELECT *, sum(n_tokens) OVER (PARTITION BY split, lang ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum
           FROM surv)
         SELECT doc_id, lang, split, n_tokens, n_redactions,
                CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id
         FROM c ORDER BY doc_id""",
    "prep_chunk_chars" ->
      """WITH nz AS (
           SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) > 0),
         ch AS (
           SELECT doc_id, text,
                  CAST(i AS BIGINT) AS chunk_id, CAST(i * 96 AS BIGINT) AS start
           FROM nz, UNNEST(range(0, 1 + (greatest(0, n - 128) + 95) // 96)) AS t(i))
         SELECT doc_id, chunk_id,
                substring(text, CAST(start + 1 AS INT), 128) AS chunk_text,
                CAST(len(substring(text, CAST(start + 1 AS INT), 128)) AS BIGINT) AS n_chunk_chars
         FROM ch ORDER BY doc_id, chunk_id""",
    "prep_corpus_chunked" ->
      """WITH scrub AS (
           SELECT doc_id, lang,
                  regexp_replace(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                                 '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
           FROM documents),
         gated AS (
           SELECT doc_id, lang, scrubbed
           FROM (SELECT *, list_filter(string_split(scrubbed, ' '), x -> x <> '') AS toks FROM scrub)
           WHERE len(toks) >= 20
             AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.5),
         fp AS (
           SELECT doc_id,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                    list_transform(list_filter(string_split(scrubbed, ''), c -> c <> ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                    (a, c) -> (a * 31 + c) % 1000000007) AS f
           FROM gated),
         keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         surv AS (
           SELECT g.doc_id, g.lang,
                  list_filter(string_split(g.scrubbed, ' '), x -> x <> '') AS toks,
                  CASE WHEN (g.doc_id * 2654435761 + 40503) % 1000 < 800 THEN 'train'
                       WHEN (g.doc_id * 2654435761 + 40503) % 1000 < 900 THEN 'val'
                       ELSE 'test' END AS split
           FROM gated g JOIN keep USING (doc_id)),
         nz AS (SELECT *, len(toks) AS n FROM surv WHERE len(toks) > 0),
         ch AS (
           SELECT doc_id, lang, split, toks,
                  CAST(i AS BIGINT) AS chunk_id, CAST(i * 24 AS BIGINT) AS start
           FROM nz, UNNEST(range(0, 1 + (greatest(0, n - 32) + 23) // 24)) AS t(i)),
         cc AS (
           SELECT doc_id, chunk_id, lang, split,
                  CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens
           FROM ch),
         c AS (
           SELECT *, sum(n_chunk_tokens) OVER (PARTITION BY split, lang
                       ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS cum
           FROM cc)
         SELECT doc_id, chunk_id, lang, split, n_chunk_tokens,
                CAST(floor((cum - n_chunk_tokens) / 512.0) AS BIGINT) AS seq_id
         FROM c ORDER BY doc_id, chunk_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(7 AS BIGINT),
                    list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                                   c -> CAST(ascii(c) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",
    "prep_chunk" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         nz AS (
           SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
         ch AS (
           SELECT doc_id, toks,
                  CAST(i AS BIGINT) AS chunk_id, CAST(i * 24 AS BIGINT) AS start
           FROM nz, UNNEST(range(0, 1 + (greatest(0, n - 32) + 23) // 24)) AS t(i))
         SELECT doc_id, chunk_id,
                array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
                CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens
         FROM ch ORDER BY doc_id, chunk_id""",
    "prep_bigram_lm" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM tk, UNNEST(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
         bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         uc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(c12) AS DOUBLE) / CAST(sum(c1) AS DOUBLE) AS familiarity,
                CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS novelty_ratio
         FROM bg
         JOIN bc USING (w1, w2)
         JOIN uc USING (w1)
         GROUP BY doc_id ORDER BY doc_id""",
  ) ++ graft.queries.TpchSuite.oracleSql
}
