package graft
package scenarios

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.KeyedScan

import graft.storage.GraftCatalog
import Scenario.{executedPlans, time, warmMedian}

/** The GraftCatalog write, row-level DML, layout and read paths
  * ([[storage.GraftCatalog]]). */
object StorageScenarios {

  private def catalog(spark: SparkSession, name: String): GraftCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[GraftCatalog]

  /** Data files the first batch scan of `df` plans. */
  private def plannedFiles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan }
      .map {
        case k: KeyedScan => k.delegate.fileIndex.inputFiles.length
        case p: ParquetScan => p.fileIndex.inputFiles.length
        case _ => -1
      }.head

  val all: Seq[Scenario] = Seq(
    /* Write-path throughput: the GraftCatalog V2 writer (staged
     * ParquetWriter streams + rename commit + snapshot manifest) against
     * Spark's native `df.write.parquet` on the same `rows`-row, 5-column
     * frame partitioned by a low-cardinality key. */
    Scenario("write", Seq("2000000"), (spark, _, args) => {
      val rows = args(0).toLong
      val wh = GraftCatalog.registerTemp(spark, "wb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS wb.b")
      val df = spark.range(rows).select(
        col("id"),
        (col("id") % 97).alias("k"),
        (col("id") * 31 % 1000003).alias("v"),
        concat(lit("payload-"), col("id")).alias("s"),
        (pmod(col("id"), lit(8))).cast("string").alias("part"))
        .localCheckpoint(true) // pin input: measure the write, not the gen
      // warm both paths once on a slice
      df.limit(1000).write.mode("overwrite").partitionBy("part").parquet(s"$wh/native-warm")
      df.limit(1000).writeTo("wb.b.warm").using("parquet")
        .partitionedBy(col("part")).createOrReplace()
      val tNative = time {
        df.write.mode("overwrite").partitionBy("part").parquet(s"$wh/native")
      }._1
      val tCatalog = time {
        df.writeTo("wb.b.t1").using("parquet").partitionedBy(col("part")).createOrReplace()
      }._1
      Seq("rows" -> rows, "native_sec" -> tNative, "catalog_sec" -> tCatalog,
        "ratio" -> tCatalog / tNative)
    }),

    /* The merge-on-read cost claim (SCALE.md §merge-on-read) at a size
     * where the copy-on-write rewrite is visible: the same `delta`-row
     * MERGE (half updates, half inserts) into an n-row table in `files`
     * files, copy-on-write, keyed merge-on-read and key-less (position
     * delete) merge-on-read; files surviving each commit; the read tax
     * until compaction; and targeted delete compaction under a localized
     * delete set. Row counts must agree across the three tables. */
    Scenario("merge_scale", Seq("2000000", "64", "10000"), (spark, _, args) => {
      val n = args(0).toLong
      val files = args(1).toInt
      val delta = args(2).toLong
      val wh = GraftCatalog.registerTemp(spark, "msb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS msb.s")

      def base = spark.range(n).select(col("id"),
        (col("id") % 9973).alias("v"),
        concat(lit("row-"), col("id")).alias("payload"))
      // half the delta updates existing spread-out keys, half inserts new
      def src = spark.range(0, delta / 2).select(
          (col("id") * lit(n / (delta / 2))).alias("id"),
          lit(-1L).alias("v"), lit("updated").alias("payload"))
        .unionByName(spark.range(n, n + delta / 2).select(col("id"),
          lit(-2L).alias("v"), lit("inserted").alias("payload")))

      def build(name: String, mor: Boolean, keyed: Boolean = true): Unit = {
        val w = base.repartition(files)
          .writeTo(s"msb.s.$name").using("parquet")
        (if (mor && keyed)
          w.tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
            .tableProperty(GraftCatalog.MergeKeyProp, "id")
        else if (mor)
          w.tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
        else w).createOrReplace()
      }

      def liveFiles(name: String): Set[String] = {
        val dir = new Path(s"$wh/s/$name")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        GraftCatalog.liveDataFiles(fs, dir).toSet
      }

      def merge(name: String): Double = {
        src.createOrReplaceTempView("msb_src")
        val (sec, _) = time {
          spark.sql(s"""MERGE INTO msb.s.$name t USING msb_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET v = s.v, payload = s.payload
            WHEN NOT MATCHED THEN INSERT *""")
        }
        spark.catalog.refreshTable(s"msb.s.$name")
        sec
      }

      build("cow", mor = false); build("mor", mor = true)
      // the KEY-LESS variant: same table, no merge.key — the MERGE goes
      // through the position-delete path (rowId = _file/_pos)
      build("pos", mor = true, keyed = false)
      val cowBefore = liveFiles("cow"); val morBefore = liveFiles("mor")
      val posBefore = liveFiles("pos")
      val cowSec = merge("cow")
      val morSec = merge("mor")
      val posSec = merge("pos")
      val cowSurvived = (cowBefore intersect liveFiles("cow")).size
      val morSurvived = (morBefore intersect liveFiles("mor")).size
      val posSurvived = (posBefore intersect liveFiles("pos")).size
      val (cowRead, cowCnt) = time(spark.table("msb.s.cow").count())
      val (morRead, morCnt) = time(spark.table("msb.s.mor").count())
      val (posRead, posCnt) = time(spark.table("msb.s.pos").count())
      require(cowCnt == morCnt && cowCnt == posCnt,
        s"result divergence: $cowCnt vs $morCnt vs $posCnt")
      val msbCat = catalog(spark, "msb")
      val (compactSec, _) = time(msbCat.compact(spark, "s.mor", 8))
      spark.catalog.refreshTable("msb.s.mor")
      val (morReadAfter, _) = time(spark.table("msb.s.mor").count())

      // TARGETED delete compaction on a key-clustered table under a
      // LOCALIZED delete set (the daily-retention shape): candidacy =
      // sequence rule ∧ key-stats overlap, so only the ranges actually
      // holding deleted keys rewrite
      def clustered(name: String, keyed: Boolean): Unit = {
        val w = base.repartitionByRange(files, col("id"))
          .writeTo(s"msb.s.$name").using("parquet")
          .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
        (if (keyed) w.tableProperty(GraftCatalog.MergeKeyProp, "id") else w)
          .createOrReplace()
      }
      def mergeDelete(table: String, keys: Long, v: Long): Unit = {
        spark.range(0, keys).select(col("id"), lit(v).alias("v"),
            lit("x").alias("payload"))
          .createOrReplaceTempView("msb_localdel")
        spark.sql(s"""MERGE INTO msb.s.$table t USING msb_localdel s ON t.id = s.id
          WHEN MATCHED THEN DELETE""")
        spark.catalog.refreshTable(s"msb.s.$table")
      }
      clustered("mor2", keyed = true)
      mergeDelete("mor2", delta, -3L)
      // pending-delete read on the CLUSTERED table: the localized delete
      // set clears almost every file's key range, so the stats-based
      // probe skip should make this read nearly clean BEFORE compaction
      val (mor2PendRead, mor2PendCnt) = time(spark.table("msb.s.mor2").count())
      require(mor2PendCnt == n - delta, s"pending read wrong: $mor2PendCnt")
      // candidate test in isolation (dry run): the distributed
      // keys × file-stats join, no rewrite — timed at 1× and 4× the delta
      // to show the test scales with the DELETE SET, not the table
      val (cand1Sec, cand1) = time(msbCat.compactDeletesDryRun(spark, "s.mor2"))
      val (delcSec, delc) = time(msbCat.compactDeletes(spark, "s.mor2"))
      spark.catalog.refreshTable("msb.s.mor2")
      val (mor2Read, mor2Cnt) = time(spark.table("msb.s.mor2").count())
      require(mor2Cnt == n - delta, s"targeted compaction lost rows: $mor2Cnt")
      require(cand1.size == delc._1,
        s"dry run must price the real rewrite: ${cand1.size} vs ${delc._1}")
      clustered("mor3", keyed = true)
      mergeDelete("mor3", 4 * delta, -4L)
      val (cand4Sec, cand4) = time(msbCat.compactDeletesDryRun(spark, "s.mor3"))

      // position-delete targeted compaction: a LOCALIZED row-level delete
      // on a clustered KEY-LESS table. Position deletes name their target
      // files outright (target liveness, no stats/bloom candidate test),
      // so compaction rewrites exactly the files holding deleted rows —
      // on any layout, with no key column declared at all
      clustered("pos2", keyed = false)
      // length() keeps the predicate untranslatable → row-level plan
      spark.sql(s"""DELETE FROM msb.s.pos2
        WHERE id < $delta AND length(payload) > 0""")
      spark.catalog.refreshTable("msb.s.pos2")
      val (pos2PendRead, pos2PendCnt) = time(spark.table("msb.s.pos2").count())
      require(pos2PendCnt == n - delta, s"pos pending read wrong: $pos2PendCnt")
      val (posDelcSec, posDelc) = time(msbCat.compactDeletes(spark, "s.pos2"))
      spark.catalog.refreshTable("msb.s.pos2")
      val (pos2Read, pos2Cnt) = time(spark.table("msb.s.pos2").count())
      require(pos2Cnt == n - delta, s"pos targeted compaction lost rows: $pos2Cnt")
      Seq("rows" -> n, "files" -> files, "delta" -> delta,
        "cow_merge_sec" -> cowSec, "mor_merge_sec" -> morSec, "pos_merge_sec" -> posSec,
        "cow_files_survived" -> cowSurvived, "cow_files_before" -> cowBefore.size,
        "mor_files_survived" -> morSurvived, "mor_files_before" -> morBefore.size,
        "pos_files_survived" -> posSurvived, "pos_files_before" -> posBefore.size,
        "cow_read_sec" -> cowRead, "mor_read_sec" -> morRead, "pos_read_sec" -> posRead,
        "rows_after" -> cowCnt, "mor_compact_sec" -> compactSec,
        "mor_read_after_compact_sec" -> morReadAfter,
        "clustered_pending_read_sec" -> mor2PendRead,
        "delc_files_rewritten" -> delc._1, "delc_files_untouched" -> delc._2,
        "delc_sec" -> delcSec, "read_after_delc_sec" -> mor2Read,
        "cand_1x_sec" -> cand1Sec, "cand_1x_files" -> cand1.size,
        "cand_4x_sec" -> cand4Sec, "cand_4x_files" -> cand4.size,
        "pos_pending_read_sec" -> pos2PendRead,
        "pos_delc_files_rewritten" -> posDelc._1,
        "pos_delc_files_untouched" -> posDelc._2, "pos_delc_sec" -> posDelcSec,
        "pos_read_after_delc_sec" -> pos2Read)
    }),

    /* Merge-on-read under SUSTAINED upsert load, the streaming-sink shape
     * ([[streaming.Streams.sinkMergeMor]] commits one delta per
     * micro-batch): `batches` sequential delta merges into an n-row
     * hash-scattered table (every file's key range overlaps every delete
     * set, so the stats-based probe skip never fires — the worst case),
     * with the full-scan time at checkpoints and the compaction recovery:
     * the sidecar-count → read-tax curve SCALE.md prices the compaction
     * cadence with. */
    Scenario("sidecar_curve", Seq("2000000", "64", "16", "5000"), (spark, _, args) => {
      val n = args(0).toLong
      val files = args(1).toInt
      val batches = args(2).toInt
      val delta = args(3).toLong
      GraftCatalog.registerTemp(spark, "scb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS scb.s")
      spark.range(n).select(col("id"), (col("id") % 9973).alias("v"),
          concat(lit("row-"), col("id")).alias("payload"))
        .repartition(files)
        .writeTo("scb.s.t").using("parquet")
        .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
        .tableProperty(GraftCatalog.MergeKeyProp, "id")
        .createOrReplace()
      val cat = catalog(spark, "scb")

      def read(): Double = {
        spark.catalog.refreshTable("scb.s.t")
        val (sec, cnt) = time(spark.table("scb.s.t").count())
        require(cnt == n, s"row loss under pending deletes: $cnt")
        sec
      }

      val checkpoints = Seq(1, 2, 4, 8, batches).distinct.filter(_ <= batches)
      def point(b: Int, sidecars: Int) =
        Seq("batches" -> b, "sidecars" -> sidecars, "read_sec" -> read())
      val start = point(0, 0)
      var mergeTotal = 0.0
      val curve = start +: (1 to batches).flatMap { b =>
        // each batch updates `delta` spread-out keys — every file is hit,
        // the sink's per-micro-batch MERGE shape
        spark.range(0, delta).select(
            ((col("id") * lit(n / delta) + lit(b.toLong)) % n).alias("id"),
            lit(-b.toLong).alias("v"), lit(s"b$b").alias("payload"))
          .createOrReplaceTempView("scb_src")
        mergeTotal += time(spark.sql(
          """MERGE INTO scb.s.t t USING scb_src s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET v = s.v, payload = s.payload
             WHEN NOT MATCHED THEN INSERT *"""))._1
        if (checkpoints.contains(b)) {
          spark.catalog.refreshTable("scb.s.t")
          Some(point(b, cat.pendingDeletes("s.t").size))
        } else None
      }
      val (delcSec, delc) = time(cat.compactDeletes(spark, "s.t"))
      val afterDelc = read()
      Seq("rows" -> n, "files" -> files, "batches" -> batches,
        "delta_per_batch" -> delta, "merge_total_sec" -> mergeTotal,
        "curve" -> curve, "delc_sec" -> delcSec, "delc_files_rewritten" -> delc._1,
        "sidecars_after_delc" -> cat.pendingDeletes("s.t").size,
        "read_after_delc_sec" -> afterDelc)
    }),

    /* The partition-evolution cost claims (SCALE.md §partition
     * evolution): evolving is a metadata commit, O(1) in table size,
     * against rewriting into the new layout; the mixed-layout read tax of
     * a full-scan aggregate and a partition-column filter over a uniform
     * table vs a 50/50 legacy-flat + evolved one; and targeted legacy
     * migration vs a full compact. Aggregates must match across layouts. */
    Scenario("evolution", Seq("4000000", "64"), (spark, _, args) => {
      val n = args(0).toLong
      val files = args(1).toInt
      GraftCatalog.registerTemp(spark, "evb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS evb.s")
      // 16 regions, payload-heavy rows so scan cost is visible
      def rows(a: Long, b: Long) = spark.range(a, b).select(
        col("id"),
        concat(lit("r"), col("id") % 16).alias("region"),
        (col("id") % 9973).alias("v"),
        concat(lit("payload-"), col("id"), lit("-x") ).alias("payload"))
      // warm each measurement: run twice, report the second (first run
      // pays JIT + footer-cache effects that would bias whichever table
      // measures first)
      def aggAndFilter(table: String) = (
        warmMedian(runs = 1)(spark.table(table).agg(sum("v")).head.getLong(0)),
        warmMedian(runs = 1)(spark.table(table).filter(col("region") === "r3")
          .agg(count(lit(1))).head.getLong(0)))

      // ── uniform baseline: both halves under region=... from birth, the
      // same two-append write shape the evolved table gets ────────────────
      rows(0, n / 2).repartition(files / 2)
        .writeTo("evb.s.uniform").using("parquet")
        .partitionedBy(col("region")).createOrReplace()
      rows(n / 2, n).repartition(files / 2)
        .writeTo("evb.s.uniform").append()
      spark.catalog.refreshTable("evb.s.uniform")
      val ((tAggU, aggU), (tFilU, filU)) = aggAndFilter("evb.s.uniform")

      // ── evolved table: first half flat, evolve, second half dir-layout ──
      rows(0, n / 2).repartition(files / 2)
        .writeTo("evb.s.evolved").using("parquet").createOrReplace()
      val (tEvolve, _) = time(spark.sql(
        s"""ALTER TABLE evb.s.evolved SET TBLPROPERTIES
            ('${GraftCatalog.PartitionByProp}' = 'region')"""))
      rows(n / 2, n).repartition(files / 2).writeTo("evb.s.evolved").append()
      spark.catalog.refreshTable("evb.s.evolved")
      val ((tAggE, aggE), (tFilE, filE)) = aggAndFilter("evb.s.evolved")

      // ── the alternative to evolution: rewrite everything into the new
      // layout (what a layout change costs WITHOUT spec evolution) ────────
      rows(0, n / 2).repartition(files / 2)
        .writeTo("evb.s.rewrite").using("parquet").createOrReplace()
      val (tRewrite, _) = time {
        spark.table("evb.s.rewrite").writeTo("evb.s.rewrite_new")
          .using("parquet").partitionedBy(col("region")).createOrReplace()
      }

      // ── closing the loop: TARGETED migration (rewrite only the legacy
      // tail) vs a FULL compact (rewrite everything) on two identically
      // evolved tables with a 1/8-flat + 7/8-dir split — the operational
      // shape (a small legacy tail after most data landed post-evolution);
      // the price of restoring DPO/pushdown/SPJ should be the legacy set,
      // not the table ─────────────────────────────────────────────────────
      def evolvedTable(name: String): Unit = {
        rows(0, n / 8).repartition(files / 8)
          .writeTo(s"evb.s.$name").using("parquet").createOrReplace()
        spark.sql(s"""ALTER TABLE evb.s.$name SET TBLPROPERTIES
            ('${GraftCatalog.PartitionByProp}' = 'region')""")
        rows(n / 8, n).repartition(files * 7 / 8).writeTo(s"evb.s.$name").append()
        spark.catalog.refreshTable(s"evb.s.$name")
      }
      evolvedTable("mig")
      val (tMigrate, migRep) = time {
        spark.sql("CALL evb.system.migrate_layout('s.mig', 4)").head
      }
      evolvedTable("cmp")
      val (tCompact, _) = time {
        spark.sql("CALL evb.system.compact('s.cmp', 4)").head
      }
      spark.catalog.refreshTable("evb.s.mig")
      val migSum = spark.table("evb.s.mig").agg(sum("v")).head.getLong(0)
      require(migSum == aggU, s"migrate_layout changed content: $migSum vs $aggU")
      require(aggU == aggE, s"uniform/evolved aggregate mismatch: $aggU vs $aggE")
      require(filU == filE, s"uniform/evolved filter mismatch: $filU vs $filE")
      Seq("n" -> n, "files" -> files, "evolve_s" -> tEvolve,
        "rewrite_half_s" -> tRewrite, "migrate_legacy_s" -> tMigrate,
        "full_compact_s" -> tCompact, "migrated_files" -> migRep.getInt(0),
        "kept_files" -> migRep.getInt(1), "agg_uniform_s" -> tAggU,
        "agg_evolved_s" -> tAggE, "filter_uniform_s" -> tFilU,
        "filter_evolved_s" -> tFilE)
    }),

    /* Point-lookup file skipping with [[GraftCatalog.buildBloomIndex]]
     * (SCALE.md §bloom-index): on an UNCLUSTERED ingest every file's
     * min/max spans the key domain, so range stats prune nothing for
     * `id = x`; after one index build a present-key probe plans the one
     * file holding the key and an absent-key probe plans none. Files
     * planned and warm probe time with and without the index, the build
     * cost, and the index's effect on a copy-on-write point DELETE and a
     * metadata-only retention delete. */
    Scenario("bloom_index", Seq("20000000", "64"), (spark, _, args) => {
      val n = args(0).toLong
      val files = args(1).toInt
      val wh = GraftCatalog.registerTemp(spark, "bb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS bb.s")
      // hash-scatter unique ids across `files` files: every file's [min,max]
      // spans ~the whole domain — range stats provably useless for id = x.
      // Ids are EVEN (2·i) so an odd probe value is absent yet inside every
      // file's range: only the bloom can prove that absence.
      spark.range(n)
        .select((col("id") * 2).alias("id"),
          concat(lit("t"), col("id") * 2).alias("tag"))
        .repartition(files, col("id"))
        .writeTo("bb.s.pts").using("parquet").createOrReplace()

      val present = Seq(12344L, n / 2 * 2 + 2, (n - 7) * 2)
      val absentV = n + 13 // odd -> in-range, never present
      def probe(v: Long): DataFrame =
        spark.table("bb.s.pts").filter(col("id") === v)
      def probeTag(v: Long): DataFrame =
        spark.table("bb.s.pts").filter(col("tag") === s"t$v")
      def hits(): Unit = present.foreach(v =>
        require(probe(v).count() == 1L, s"present key $v not found"))
      def miss(): Unit = require(probe(absentV).count() == 0L, "absent key found")

      // warm both paths once, then measure
      present.foreach(v => probe(v).count())
      val preFiles = plannedFiles(probe(present.head))
      val preHit = time(hits())._1
      val preMiss = time(miss())._1

      val cat = catalog(spark, "bb")
      val (buildS, (fresh, total)) =
        time(cat.buildBloomIndex(spark, "s.pts", Seq("id", "tag")))

      probe(present.head).count()
      val postFiles = plannedFiles(probe(present.head))
      val postMissFiles = plannedFiles(probe(absentV))
      val postHit = time(hits())._1
      val postMiss = time(miss())._1
      val postTagFiles = plannedFiles(probeTag(present.head))
      val postTag = time(require(probeTag(present.head).count() == 1L))._1

      val idxBytes = new java.io.File(s"$wh/s/pts").listFiles()
        .filter(_.getName.startsWith("_bloomidx-")).map(_.length()).sum

      // copy-on-write point DELETE: with the index, the rewrite set is the
      // one file holding the key; without it, every file is a candidate
      val (delS, (delRw, delKept, delRows)) =
        time(cat.deleteWhere(spark, "s.pts", col("id") === present.head))

      // METADATA-ONLY retention delete: a range-laid-out table (each file a
      // disjoint id range — the event-time append shape) expires half its
      // files in manifest time, zero data reads; the boundary file rewrites
      spark.range(n).select(col("id"))
        .repartitionByRange(files, col("id"))
        .writeTo("bb.s.ret").using("parquet").createOrReplace()
      val (retS, (retRm, retKept, retRows)) =
        time(cat.deleteWhere(spark, "s.ret", col("id") < n / 2))

      Seq("n" -> n, "files" -> files, "pre_files" -> preFiles,
        "pre_hit3_s" -> preHit, "pre_miss_s" -> preMiss, "build_s" -> buildS,
        "indexed" -> fresh, "total" -> total, "idx_bytes" -> idxBytes,
        "post_files" -> postFiles, "post_miss_files" -> postMissFiles,
        "post_tag_files" -> postTagFiles, "post_hit3_s" -> postHit,
        "post_miss_s" -> postMiss, "post_tag_s" -> postTag,
        "delete_rewritten" -> delRw, "delete_carried" -> delKept,
        "delete_rows" -> delRows, "delete_s" -> delS,
        "retention_removed" -> retRm, "retention_carried" -> retKept,
        "retention_rows" -> retRows, "retention_s" -> retS)
    }),

    /* The storage-partitioned join under skew: one partition value holds
     * ~10× the rows of all others combined, in 16 files. The
     * co-partitioned join runs fully clustered (one task per key: the hot
     * key's splits serialize into one task), partially clustered (each hot
     * split zips with a replica of the probe side's key group — what
     * [[org.apache.spark.sql.graftshim.KeyedScan]]'s per-key repacking
     * enables), and as the stock shuffle join. The three must return the
     * same row count. */
    Scenario("spj_skew", Seq("2000000"), (spark, _, args) => {
      val hotRows = args(0).toInt
      val nCold = 8
      GraftCatalog.registerTemp(spark, "spjskew")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS spjskew.db")
      // hot key 0: hotRows rows in 16 files; cold keys 1..nCold share a tenth
      spark.range(hotRows.toLong)
        .select(col("id"), lit(0).alias("k"), (col("id") % 1000).alias("v"))
        .repartition(16)
        .writeTo("spjskew.db.fact").using("parquet")
        .partitionedBy(col("k")).createOrReplace()
      spark.range(hotRows.toLong / 10)
        .select(col("id"), (col("id") % nCold + 1).cast("int").alias("k"),
          (col("id") % 1000).alias("v"))
        .coalesce(2)
        .writeTo("spjskew.db.fact").append()
      spark.range((nCold + 1) * 16L)
        .select((col("id") % (nCold + 1)).cast("int").alias("k"),
          col("id").alias("rid"))
        .coalesce(1)
        .writeTo("spjskew.db.probe").using("parquet")
        .partitionedBy(col("k")).createOrReplace()

      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.graft.spj.preserveDataGrouping", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def joined() = spark.table("spjskew.db.fact")
        .join(spark.table("spjskew.db.probe"), "k")
      def measure(): (Double, Long) = warmMedian(runs = 1)(joined()
        .agg(count(lit(1)).alias("n"), sum(col("v") + col("rid")).alias("s"))
        .collect().head.getLong(0))
      def partial(on: Boolean): Unit = spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        on.toString)

      partial(false)
      val (tFully, nFully) = measure(); val tasksFully = joined().rdd.getNumPartitions
      partial(true)
      val (tPartial, nPartial) = measure(); val tasksPartial = joined().rdd.getNumPartitions
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val (tShuffle, nShuffle) = measure()
      require(nFully == nPartial && nFully == nShuffle,
        s"join modes disagree on row count: $nFully / $nPartial / $nShuffle")
      Seq("hot_rows" -> hotRows, "cold_keys" -> nCold, "rows" -> nFully,
        "fully_clustered_sec" -> tFully, "fully_clustered_tasks" -> tasksFully,
        "partially_clustered_sec" -> tPartial, "partially_clustered_tasks" -> tasksPartial,
        "shuffle_join_sec" -> tShuffle)
    }),

    /* The medallion day over the catalog: `days` run-dates of `records`
     * seeded synthetic API records (1 in 50 with a null id), each through
     * the pipeline Runner on a V2CatalogWarehouse. Per layer write on the
     * last day: its jobs, its tasks, its wall seconds and the path its
     * plan took
     * (`one_task`: a `Coalesce 1` in place of the rebalance, see
     * [[graft.storage.OneTaskWrite]]; `rebalance`: the AQE rebalance
     * shuffle); per layer the most files any run-date partition holds;
     * and the silver input's size estimate on the first and the last day,
     * which counts the run-date's bronze partition only, whatever the
     * warehouse's age. Every day's run report must count its records. */
    Scenario("medallion_day", Seq("40", "10000"), (spark, _, args) => {
      val days = args(0).toInt
      val records = args(1).toInt
      val wh = GraftCatalog.registerTemp(spark, "medday")
      val rnd = new scala.util.Random(7)
      val types = Seq("micro", "brewpub", "large", "regional", "contract", "planning")
      val states = Seq("Oregon", "Colorado", "Texas", "Maine", "Ohio", "Utah")
      def record(day: Int, i: Int): String = {
        val id = if (rnd.nextInt(50) == 0) "null" else s""""b-$day-$i""""
        s"""{"id": $id, "name": "Brewery $i", "brewery_type": "${types(rnd.nextInt(6))}", """ +
          s""""address_1": "${rnd.nextInt(999)} Main St", "city": "City ${rnd.nextInt(40)}", """ +
          s""""state_province": "${states(rnd.nextInt(6))}", "postal_code": "${rnd.nextInt(99999)}", """ +
          s""""country": "United States", "longitude": "${-120 + rnd.nextDouble()}", """ +
          s""""latitude": "${40 + rnd.nextDouble()}", "phone": "(503) 555-${rnd.nextInt(9999)}", """ +
          s""""website_url": "http://b$i.example.com"}"""
      }
      val layers = Seq("bronze", "silver", "gold")
      // jobs are told apart by a local property of the writing thread, so
      // scenarios running beside this one on the same context never count
      val Layer = "graft.medallion_day.layer"
      val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val tasks = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val stageLayer = scala.collection.mutable.Map.empty[Int, String]
      val plans = scala.collection.mutable.Map.empty[String, String]
      val secs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val sc = spark.sparkContext
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(j.properties).flatMap(p => Option(p.getProperty(Layer))).foreach { l =>
            jobs(l) += 1
            j.stageIds.foreach(stageLayer(_) = l)
          }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          stageLayer.get(t.stageId).foreach(tasks(_) += 1)
      }
      val inner = new graft.storage.V2CatalogWarehouse(spark, "medday", "day")
      val storage = new graft.storage.Storage {
        def read(table: String): DataFrame = inner.read(table)
        def exists(table: String): Boolean = inner.exists(table)
        // the session's own executions only (the scenario runs in a
        // clone), each write's events delivered before the next starts
        def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit = {
          sc.setLocalProperty(Layer, table)
          try {
            val (s, ps) = time(executedPlans(spark)(inner.writePartitioned(df, table, partitionCol)))
            secs(table) = s
            ps.lastOption.foreach(plans(table) = _)
          } finally sc.setLocalProperty(Layer, null)
        }
      }
      var batch: Seq[String] = Nil
      val runner = new graft.pipeline.Runner(spark, storage,
        new graft.ingest.RecordFetcher { def fetch(): Seq[String] = batch })
      val base = java.time.LocalDate.of(2024, 1, 1)
      def silverEstimate(d: java.time.LocalDate): BigInt =
        graft.layers.Silver.transform(storage.read("bronze"), d)
          .queryExecution.optimizedPlan.stats.sizeInBytes
      sc.addSparkListener(counter)
      val (wall, estimates) = try time((0 until days).map { day =>
        batch = (0 until records).map(record(day, _))
        val d = base.plusDays(day.toLong)
        jobs.clear(); tasks.clear(); plans.clear(); secs.clear()
        val r = runner.run(d)
        val ids = batch.count(!_.startsWith("""{"id": null"""))
        require(r.bronzeRows == records && r.silverRows == ids && r.totalCount == ids,
          s"$d: run report $r for $records records, $ids ids")
        silverEstimate(d)
      }) finally sc.removeSparkListener(counter)
      def path(plan: String): String =
        if (plan.contains("REBALANCE_PARTITIONS_BY_COL")) "rebalance"
        else if (plan.contains("Coalesce 1") && !plan.contains("Exchange")) "one_task"
        else "other"
      def maxFilesPerDate(layer: String): Int =
        new java.io.File(s"$wh/day/$layer").listFiles().toSeq
          .filter(_.getName.startsWith("extraction_date="))
          .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
      Seq("days" -> days, "records" -> records, "wall_sec" -> wall,
        "advisory_bytes" -> spark.sessionState.conf
          .getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) ++
        layers.flatMap(l => Seq(s"${l}_jobs" -> jobs(l), s"${l}_tasks" -> tasks(l),
          s"${l}_write_s" -> secs(l),
          s"${l}_path" -> plans.get(l).fold("none")(path),
          s"${l}_files_per_date" -> maxFilesPerDate(l))) ++
        Seq("silver_estimate_first" -> estimates.head, "silver_estimate_last" -> estimates.last)
    }))
}
