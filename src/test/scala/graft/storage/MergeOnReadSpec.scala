package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read row-level DML (`write.merge.mode=merge-on-read` +
  * `merge.key`): SQL MERGE/UPDATE commit a DELTA — appended replacement
  * rows plus an equality-delete sidecar — instead of rewriting candidate
  * files, and every read path applies the pending deletes with Iceberg's
  * sequence rule (a delete applies only to rows of files ADDED before
  * it, so re-inserted keys are never suppressed). Compaction folds the
  * deletes into data files; vacuum reclaims unreferenced sidecars. */
class MergeOnReadSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-morwh").toString
    spark.conf.set("spark.sql.catalog.morcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.morcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morcat.s")
    dir
  }

  private def cat = spark.sessionState.catalogManager.catalog("morcat")
    .asInstanceOf[GraftCatalog]
  private def id(name: String) =
    org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), name)

  private def createMor(name: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("id", "w").repartition(1)
      .writeTo(s"morcat.s.$name").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()

  private def manifestFiles(name: String): Seq[String] = {
    val dir = new Path(s"$wh/s/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCatalog.manifest(fs, dir,
      GraftCatalog.latestSnapshot(fs, dir)).map(_.files).get
  }

  private def eqDels(name: String): Seq[(String, Long)] = {
    val dir = new Path(s"$wh/s/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCatalog.manifest(fs, dir, GraftCatalog.latestSnapshot(fs, dir)).toSeq.flatMap(_.eqDels)
  }

  test("MERGE INTO commits a delta: no data file rewritten, results and " +
    "time travel correct, counts right with deletes pending") {
    wh
    createMor("m1", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val before = manifestFiles("m1").toSet
    Seq((2L, "B", "u"), (3L, "c", "d"), (4L, "D", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("m1_changes")
    spark.sql("""
      MERGE INTO morcat.s.m1 t USING m1_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("morcat.s.m1")
    val out = spark.table("morcat.s.m1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (4L, "D")), s"got $out")
    // THE merge-on-read contract: every pre-merge file is still live —
    // the commit only ADDED files (and one delete sidecar)
    assert(before.subsetOf(manifestFiles("m1").toSet),
      "merge-on-read must not drop or rewrite existing files")
    assert(eqDels("m1").size == 1)
    val hist = cat.history(id("m1")).last
    assert(hist._5 == 0, s"no file removed by the delta commit, got $hist")
    // aggregates cannot be answered from footers/manifest row counts
    // while deletes are pending
    assert(spark.table("morcat.s.m1").count() == 3L)
    assert(spark.table("morcat.s.m1").filter(col("id") === 3L).count() == 0L)
    // pre-merge snapshot unaffected
    assert(spark.sql("SELECT * FROM morcat.s.m1 VERSION AS OF 1").count() == 3L)
    assert(spark.sql(
      "SELECT w FROM morcat.s.m1 VERSION AS OF 1 WHERE id = 2")
      .head.getString(0) == "b")
  }

  test("sequence rule: a key re-inserted AFTER its delete survives; " +
    "stacked merges apply newest-wins") {
    wh
    createMor("m2", Seq((1L, "a"), (2L, "b")))
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("m2_del")
    spark.sql("""MERGE INTO morcat.s.m2 t USING m2_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m2")
    assert(spark.table("morcat.s.m2").count() == 1L)
    // plain append re-inserts the deleted key: the old delete must NOT
    // suppress the new row (its file is newer than the delete)
    Seq((2L, "b2")).toDF("id", "w").writeTo("morcat.s.m2").append()
    spark.catalog.refreshTable("morcat.s.m2")
    val out = spark.table("morcat.s.m2").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b2")), s"got $out")
    // a SECOND merge deletes the re-inserted row: two sidecars pending,
    // the newer one applies to the newer file
    spark.sql("""MERGE INTO morcat.s.m2 t USING m2_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m2")
    assert(spark.table("morcat.s.m2").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(eqDels("m2").size == 2)
  }

  test("SQL UPDATE on a merge-on-read table routes through the delta " +
    "path: prior files intact") {
    wh
    createMor("m3", Seq((1L, "a"), (2L, "b")))
    val before = manifestFiles("m3").toSet
    spark.sql("UPDATE morcat.s.m3 SET w = 'Z' WHERE id = 1")
    spark.catalog.refreshTable("morcat.s.m3")
    val out = spark.table("morcat.s.m3").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "Z"), (2L, "b")), s"got $out")
    assert(before.subsetOf(manifestFiles("m3").toSet))
    assert(eqDels("m3").nonEmpty)
  }

  test("compaction folds pending deletes into data files; vacuum " +
    "reclaims the sidecars") {
    wh
    createMor("m4", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((2L, "B", "u"), (3L, "c", "d")).toDF("id", "w", "op")
      .createOrReplaceTempView("m4_changes")
    spark.sql("""MERGE INTO morcat.s.m4 t USING m4_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w""")
    spark.catalog.refreshTable("morcat.s.m4")
    assert(eqDels("m4").nonEmpty)
    cat.compact(spark, "s.m4")
    spark.catalog.refreshTable("morcat.s.m4")
    // the deletes are folded in: manifest carries no eqdel refs, results
    // unchanged
    assert(eqDels("m4").isEmpty,
      "compaction must clear pending equality deletes")
    val out = spark.table("morcat.s.m4").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B")), s"got $out")
    cat.vacuum(id("m4"), keepLast = 1)
    val dir = new Path(s"$wh/s/m4")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_eqdel-"))
    assert(sidecars.isEmpty, s"vacuum must reclaim sidecars, left ${sidecars.toSeq}")
    assert(spark.table("morcat.s.m4").count() == 2L)
  }

  test("partitioned merge-on-read table: delta rows land in their " +
    "partitions, reads stay partition-prunable and delete-correct") {
    wh
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("id", "w", "p").repartition(1)
      .writeTo("morcat.s.m5").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .partitionedBy(col("p"))
      .createOrReplace()
    Seq((2L, "B2", "p1", "u"), (3L, "c", "p2", "d"), (4L, "D", "p2", "u"))
      .toDF("id", "w", "p", "op").createOrReplaceTempView("m5_changes")
    spark.sql("""MERGE INTO morcat.s.m5 t USING m5_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w, p) VALUES (s.id, s.w, s.p)""")
    spark.catalog.refreshTable("morcat.s.m5")
    val out = spark.table("morcat.s.m5").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1L, "a", "p1"), (2L, "B2", "p1"), (4L, "D", "p2")),
      s"got $out")
    // partition filter composes with the delete apply
    assert(spark.table("morcat.s.m5").filter(col("p") === "p2")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("copy-on-write machinery on a table with pending deletes does not " +
    "resurrect deleted rows") {
    wh
    createMor("m6", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("m6_del")
    spark.sql("""MERGE INTO morcat.s.m6 t USING m6_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m6")
    // Scala-side copy-on-write delete (the SupportsDelete path): it
    // rewrites candidate FILES, whose raw bytes still hold row id=2 —
    // the rewrite must apply the pending delete, not copy it back
    cat.deleteWhere(spark, "s.m6", col("id") === 3L)
    spark.catalog.refreshTable("morcat.s.m6")
    val out = spark.table("morcat.s.m6").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L), s"got ${out.toSeq}")
  }

  test("untranslatable DELETE on a merge-on-read table is a SIDECAR-ONLY " +
    "commit: zero data files written, zero rewritten") {
    wh
    createMor("m8", (0L until 100L).map(i => (i, s"w$i")))
    val before = manifestFiles("m8").toSet
    // id % 7 = 3 does not translate to a source filter -> the metadata
    // delete path declines; on a MoR table the fallback is the DELTA
    // path, whose delete-only commit writes a sidecar and nothing else
    spark.sql("DELETE FROM morcat.s.m8 WHERE id % 7 = 3")
    spark.catalog.refreshTable("morcat.s.m8")
    assert(spark.table("morcat.s.m8").count() ==
      (0L until 100L).count(_ % 7 != 3))
    assert(manifestFiles("m8").toSet == before,
      "a delete-only delta commit must add no data files")
    assert(eqDels("m8").size == 1)
    assert(spark.sql("SELECT * FROM morcat.s.m8 VERSION AS OF 1").count() == 100)
  }

  test("bucketed merge-on-read table: delta inserts re-route to their " +
    "bucket dirs; deletes apply under bucketed reads") {
    wh
    import org.apache.spark.sql.functions.bucket
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "w")
      .repartition(1)
      .writeTo("morcat.s.m9").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .partitionedBy(bucket(4, col("id")))
      .createOrReplace()
    Seq((2L, "B", "u"), (3L, "c", "d"), (9L, "I", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("m9_changes")
    spark.sql("""MERGE INTO morcat.s.m9 t USING m9_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("morcat.s.m9")
    val out = spark.table("morcat.s.m9").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "I")), s"got $out")
    // the delta rows landed under __bucket_id=<pmod(hash(id),4)> dirs
    // like every other write (the writer's routing, not a flat dump)
    val dir = new Path(s"$wh/s/m9")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(manifestFiles("m9").forall(_.startsWith("__bucket_id=")),
      s"delta files must bucket-route: ${manifestFiles("m9")}")
  }

  test("file pruning still reaches merge-on-read reads with deletes " +
    "pending: a point probe scans one range's files, not the table") {
    wh
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    spark.range(0, 1000)
      .select(col("id"), (col("id") % 13).alias("v"))
      .repartitionByRange(8, col("id"))
      .writeTo("morcat.s.m10").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    Seq((500L, -1L)).toDF("id", "v").createOrReplaceTempView("m10_del")
    spark.sql("""MERGE INTO morcat.s.m10 t USING m10_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m10")
    assert(eqDels("m10").nonEmpty)
    val probe = spark.table("morcat.s.m10").filter(col("id") === 7L)
    // manifest-stats pruning runs BEFORE the delete-applying wrap: the
    // probe must plan over one range's file, not all 8
    val scanned = probe.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }.map {
      case e: org.apache.spark.sql.graftshim.EqDeleteScan => e.delegate match {
        case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
          p.fileIndex.inputFiles.length
        case other => fail(s"unexpected delegate $other")
      }
      case other => fail(s"expected the delete-applying scan, got $other")
    }.head
    assert(scanned == 1, s"point probe must prune to one file, scanned $scanned")
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // and the deleted key is gone even under a pruned read of ITS range
    assert(spark.table("morcat.s.m10").filter(col("id") === 500L).count() == 0)
  }

  test("snapshot diff across a merge-on-read commit emits ROW-LEVEL " +
    "deletes — the changelog file-level diffs cannot express") {
    wh
    createMor("m11", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((2L, "B", "u"), (3L, "c", "d"), (4L, "D", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("m11_changes")
    spark.sql("""MERGE INTO morcat.s.m11 t USING m11_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("morcat.s.m11")
    // time-travel reads apply each snapshot's own pending deletes, so the
    // bag diff sees the merge's row-level effect exactly: an update is
    // delete+insert, the delete surfaces even though no file was removed
    val d = Snapshots.diff(spark, "morcat.s.m11", 1L, 2L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    assert(d == Set(
      ("insert", 2L, "B"), ("insert", 4L, "D"),
      ("delete", 2L, "b"), ("delete", 3L, "c")), s"got $d")
  }

  test("vacuum keeps sidecars referenced by retained manifests: pending " +
    "deletes survive a vacuum, and time travel within the window too") {
    wh
    createMor("m12", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("m12_del")
    spark.sql("""MERGE INTO morcat.s.m12 t USING m12_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m12")
    Seq((5L, "e")).toDF("id", "w").writeTo("morcat.s.m12").append()
    spark.catalog.refreshTable("morcat.s.m12")
    cat.vacuum(id("m12"), keepLast = 2)
    // the delete sidecar is referenced by both retained manifests — it
    // must survive, and both views stay delete-correct
    assert(eqDels("m12").size == 1)
    assert(spark.table("morcat.s.m12").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(spark.sql("SELECT id FROM morcat.s.m12 VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("incremental read across a merge-on-read commit: added files only, " +
    "with in-range deletes applied by the sequence rule") {
    wh
    createMor("m13", Seq((1L, "a"), (2L, "b")))
    // snap 2: delta commit inserts 3 and 4
    Seq((3L, "c", "u"), (4L, "d", "u")).toDF("id", "w", "op")
      .createOrReplaceTempView("m13_c1")
    spark.sql("""MERGE INTO morcat.s.m13 t USING m13_c1 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    // snap 3: delta commit deletes 3 (inserted WITHIN the incr range)
    // and 1 (outside it)
    Seq((3L, "c", "d"), (1L, "a", "d")).toDF("id", "w", "op")
      .createOrReplaceTempView("m13_c2")
    spark.sql("""MERGE INTO morcat.s.m13 t USING m13_c2 s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m13")
    // incr:1..3 serves files ADDED after snap 1 — the (3, 4) insert file —
    // with snapshot 3's deletes applied: 3 was added at snap 2 and
    // deleted at snap 3 (strictly newer), so only 4 surfaces; the delete
    // of 1 is invisible (added-files semantics — its file predates the
    // range)
    val out = spark.sql(
      "SELECT id FROM morcat.s.m13 VERSION AS OF 'incr:1..3'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(4L), s"got $out")
    // the live view agrees end-to-end
    assert(spark.table("morcat.s.m13").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 4L))
  }

  test("compactDeletes rewrites ONLY the files that may hold deleted " +
    "keys; the rest stay live and the eqdel refs clear") {
    wh
    // key-clustered layout: 8 range files over ids 0..999
    spark.range(0, 1000).select(col("id"),
        (col("id") % 7).alias("v"))
      .repartitionByRange(8, col("id"))
      .writeTo("morcat.s.m14").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    // localized deletes: ids 10..19 live in ONE range file
    spark.range(10, 20).select(col("id"), lit(-1L).alias("v"))
      .createOrReplaceTempView("m14_del")
    spark.sql("""MERGE INTO morcat.s.m14 t USING m14_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m14")
    val before = manifestFiles("m14").toSet
    assert(before.size == 8 && eqDels("m14").nonEmpty)
    val (rewritten, untouched) = cat.compactDeletes(spark, "s.m14")
    spark.catalog.refreshTable("morcat.s.m14")
    assert(rewritten == 1,
      s"only the one key-overlapping range file rewrites, got $rewritten")
    assert(untouched == 7)
    assert(eqDels("m14").isEmpty, "targeted compaction must clear eqdels")
    // 7 of the 8 original files still live, results delete-correct
    assert((before intersect manifestFiles("m14").toSet).size == 7)
    assert(spark.table("morcat.s.m14").count() == 990L)
    assert(spark.table("morcat.s.m14")
      .filter(col("id") >= 10 && col("id") < 20).count() == 0L)
  }

  test("compactDeletes on a COMPOSITE-key clustered table rewrites 1 of " +
    "N files (per-column conjunction, not the sequence rule)") {
    wh
    // composite identity (src, id); 8 range files clustered by src so
    // each src's rows live in a known file subset
    spark.range(0, 800).select(
        (col("id") / 100).cast("long").alias("src"),
        col("id"),
        (col("id") % 5).alias("v"))
      .repartitionByRange(8, col("src"))
      .writeTo("morcat.s.m_ck").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "src,id")
      .createOrReplace()
    // localized composite deletes: all in src=3 (one range file)
    spark.range(310, 320).select(lit(3L).alias("src"), col("id"))
      .createOrReplaceTempView("mck_del")
    spark.sql("""MERGE INTO morcat.s.m_ck t
      USING mck_del s ON t.src = s.src AND t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m_ck")
    val before = manifestFiles("m_ck").toSet
    assert(before.size == 8 && eqDels("m_ck").nonEmpty)
    val (rewritten, untouched) = cat.compactDeletes(spark, "s.m_ck")
    spark.catalog.refreshTable("morcat.s.m_ck")
    assert(rewritten == 1,
      s"composite keys must prune to the one src-overlapping file, got $rewritten")
    assert(untouched == 7)
    assert(eqDels("m_ck").isEmpty)
    assert((before intersect manifestFiles("m_ck").toSet).size == 7)
    assert(spark.table("morcat.s.m_ck").count() == 790L)
    assert(spark.table("morcat.s.m_ck")
      .filter(col("src") === 3L && col("id") >= 310 && col("id") < 320)
      .count() == 0L)
  }

  test("compactDeletes with dead deletes (keys already compacted away) " +
    "is a metadata-only clear; SQL CALL surface works") {
    wh
    createMor("m15", Seq((1L, "a"), (2L, "b")))
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("m15_del")
    spark.sql("""MERGE INTO morcat.s.m15 t USING m15_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m15")
    // first targeted pass folds the delete in via SQL CALL
    val r1 = spark.sql("CALL morcat.system.rewrite_deletes('s.m15')")
      .collect().head
    assert(r1.getInt(0) >= 1 && eqDels("m15").isEmpty)
    // re-delete a key that no longer exists anywhere: the merge matches
    // nothing, so no sidecar even lands — then force the dead-delete
    // shape directly: a second pass with nothing pending is a no-op
    val (r2, _) = cat.compactDeletes(spark, "s.m15")
    assert(r2 == 0)
    assert(spark.table("morcat.s.m15").collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("multi-column merge key: composite row identity deletes and " +
    "re-inserts correctly") {
    wh
    Seq((1L, "en", "a"), (1L, "es", "b"), (2L, "en", "c"))
      .toDF("id", "lang", "w").repartition(1)
      .writeTo("morcat.s.m16").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id,lang")
      .createOrReplace()
    Seq((1L, "en", "A", "u"), (1L, "es", "b", "d"), (3L, "fr", "F", "u"))
      .toDF("id", "lang", "w", "op").createOrReplaceTempView("m16_changes")
    spark.sql("""MERGE INTO morcat.s.m16 t USING m16_changes s
      ON t.id = s.id AND t.lang = s.lang
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, lang, w) VALUES (s.id, s.lang, s.w)""")
    spark.catalog.refreshTable("morcat.s.m16")
    val out = spark.table("morcat.s.m16").orderBy("id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // (1, es) deleted; (1, en) updated — the OTHER (1, *) row untouched:
    // the composite key must not collapse to its first column
    assert(out == Seq((1L, "en", "A"), (2L, "en", "c"), (3L, "fr", "F")),
      s"got $out")
    // re-insert the deleted composite key: sequence rule on both columns
    Seq((1L, "es", "b2")).toDF("id", "lang", "w")
      .writeTo("morcat.s.m16").append()
    spark.catalog.refreshTable("morcat.s.m16")
    assert(spark.table("morcat.s.m16")
      .filter(col("id") === 1L && col("lang") === "es")
      .collect().map(_.getString(2)).toSeq == Seq("b2"))
    // compactDeletes degrades to the sequence rule for composite keys
    // but still folds and clears
    val (rw, _) = cat.compactDeletes(spark, "s.m16")
    spark.catalog.refreshTable("morcat.s.m16")
    assert(rw >= 1 && eqDels("m16").isEmpty)
    assert(spark.table("morcat.s.m16").count() == 4L)
  }

  test("ALTER TABLE to merge-on-read: pre-existing files (no add " +
    "sequence) count as oldest — deletes apply to all of them") {
    wh
    // created copy-on-write, rows written BEFORE the mode flip
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("morcat.s.m17").using("parquet").createOrReplace()
    spark.sql(s"""ALTER TABLE morcat.s.m17 SET TBLPROPERTIES (
      '${GraftCatalog.MergeModeProp}' = 'merge-on-read',
      '${GraftCatalog.MergeKeyProp}' = 'id')""")
    spark.catalog.refreshTable("morcat.s.m17")
    val before = manifestFiles("m17").toSet
    Seq((2L, "B", "u"), (3L, "C", "u")).toDF("id", "w", "op")
      .createOrReplaceTempView("m17_changes")
    spark.sql("""MERGE INTO morcat.s.m17 t USING m17_changes s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("morcat.s.m17")
    val out = spark.table("morcat.s.m17").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (3L, "C")), s"got $out")
    assert(before.subsetOf(manifestFiles("m17").toSet),
      "the delta path must hold after the mode flip")
    assert(eqDels("m17").nonEmpty)
  }

  test("plan shape: pending deletes disable metadata/parquet aggregate " +
    "answering; compaction restores it") {
    wh
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    createMor("m18", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    def countPlan() = spark.sql("SELECT count(*) AS c FROM morcat.s.m18")
      .queryExecution.sparkPlan
    def isMetadataAnswered = countPlan().collect {
      case b: BatchScanExec => b }.isEmpty &&
      countPlan().collect {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.nonEmpty
    // clean table: the filter-free count answers from manifest stats
    // (LocalTableScan, zero files) like every catalog table
    assert(isMetadataAnswered,
      s"clean MoR table must metadata-answer:\n${countPlan().toString.take(500)}")
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("m18_del")
    spark.sql("""MERGE INTO morcat.s.m18 t USING m18_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.m18")
    // deletes pending: manifest row counts and parquet footer counts
    // both overcount — the count must run through the delete-applying
    // scan with NO pushed aggregation
    val scans = countPlan().collect { case b: BatchScanExec => b.scan }
    assert(scans.nonEmpty &&
      scans.forall(_.isInstanceOf[org.apache.spark.sql.graftshim.EqDeleteScan]),
      s"the count must read through the delete apply:\n" +
        countPlan().toString.take(500))
    assert(!countPlan().toString.contains("PushedAggregation: [COUNT"),
      "no parquet aggregate pushdown with deletes pending")
    assert(spark.table("morcat.s.m18").count() == 2L)
    cat.compactDeletes(spark, "s.m18")
    spark.catalog.refreshTable("morcat.s.m18")
    assert(isMetadataAnswered, "compaction must restore metadata answering")
    assert(spark.table("morcat.s.m18").count() == 2L)
  }

  test("rewrite scan pins the delete set to the SCAN snapshot: a delta " +
    "delete landing after table load is still applied by the scan") {
    wh
    createMor("m_ltc", Seq((1L, "a"), (2L, "b")))
    val dir = new Path(s"$wh/s/m_ltc")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = GraftCatalog.readMeta(fs, dir).get
    // a stale operation handle: built with a LOAD-TIME spec of None (the
    // table had no pending deletes when resolved) …
    val op = new GraftRowLevelOperation(dir.toString, meta, "m_ltc",
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE,
      eqDel = None)
    // … then a delta DELETE lands BEFORE the scan is planned
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("mltc_del")
    spark.sql("""MERGE INTO morcat.s.m_ltc t USING mltc_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    // planning the rewrite scan from the stale handle must re-derive the
    // delete set at the scan snapshot — reading through it must NOT see
    // the deleted row (the old behavior resurrected it)
    val sb = op.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
      .pruneColumns(meta.schema)
    val scan = sb.build()
    assert(scan.description().contains("EqDeleteApply"),
      s"scan must apply scan-snapshot deletes, got: ${scan.description()}")
    val batch = scan.toBatch
    val rf = batch.createReaderFactory()
    val ids = batch.planInputPartitions().flatMap { p =>
      val r = rf.createReader(p)
      val b = Seq.newBuilder[Long]
      try { while (r.next()) b += r.get().getLong(0) } finally r.close()
      b.result()
    }
    assert(ids.toSet == Set(1L),
      s"scan must not resurrect the concurrently deleted row, got ${ids.toSeq}")
  }

  test("row-level DELETE on a PARTITIONED merge-on-read table: the " +
    "delete-only delta plan (no data columns) still commits a sidecar") {
    wh
    Seq((1L, "p1", "a"), (2L, "p1", "bb"), (3L, "p2", "cc"))
      .toDF("id", "p", "w").repartition(1)
      .writeTo("morcat.s.mpd").using("parquet")
      .partitionedBy(col("p"))
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    val before = manifestFiles("mpd").toSet
    // length() keeps the predicate row-level: the plan carries ONLY
    // (__row_operation, id) — no partition data column to cluster on
    spark.sql("DELETE FROM morcat.s.mpd WHERE length(w) > 1")
    spark.catalog.refreshTable("morcat.s.mpd")
    assert(spark.table("morcat.s.mpd").select("id").as[Long]
      .collect().toSeq == Seq(1L))
    assert(manifestFiles("mpd").toSet == before,
      "a delete-only delta must write no data files and drop none")
    assert(eqDels("mpd").size == 1)
  }

  test("NULL merge key in a legacy file: row-level DML fails LOUDLY " +
    "before any commit — no sidecar, no partial state") {
    wh
    // a null-key row can exist on an ALTER-to-MoR table (pre-existing
    // files were never checked against the key contract); the table
    // reports key columns non-nullable (Iceberg identifier fields), so
    // a row-level plan touching the null row must fail, not commit a
    // null-key sidecar (which the candidate test could never stats/
    // bloom-test — the read probe handles nulls defensively either way)
    Seq((Option("a"), 1L), (Option.empty[String], 2L), (Option("c"), 3L))
      .toDF("k", "n").repartition(1)
      .writeTo("morcat.s.mnull").using("parquet").createOrReplace()
    spark.sql(s"""ALTER TABLE morcat.s.mnull SET TBLPROPERTIES (
      '${GraftCatalog.MergeModeProp}' = 'merge-on-read',
      '${GraftCatalog.MergeKeyProp}' = 'k')""")
    Seq(Option.empty[String]).toDF("k").createOrReplaceTempView("mnull_del")
    intercept[Exception] {
      spark.sql("""MERGE INTO morcat.s.mnull t USING mnull_del s
        ON t.k <=> s.k WHEN MATCHED THEN DELETE""")
    }
    spark.catalog.refreshTable("morcat.s.mnull")
    assert(spark.table("morcat.s.mnull").count() == 3L,
      "a failed merge must leave the table untouched")
    assert(eqDels("mnull").isEmpty,
      "a failed merge must not leave a delete sidecar")
    // the same poison hits any plan that re-SERIALIZES the declared-
    // non-nullable key (DML joins, sorts, full-row collects) — and the
    // declared nullability even folds `k IS NULL` to FALSE through the
    // catalog, so the offending row is INVISIBLE to a catalog-side
    // isNull probe (pinned: this is the trap, stated):
    assert(spark.table("morcat.s.mnull").filter(col("k").isNull).isEmpty)
    assert(spark.table("morcat.s.mnull").select("n").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // the repair path reads the files RAW (no catalog nullability):
    // locate the row, rewrite the table with repaired keys
    val raw = spark.read.parquet(s"$wh/s/mnull")
    assert(raw.filter(col("k").isNull).select("n").as[Long]
      .collect().toSeq == Seq(2L),
      "the offending row must be locatable via a raw file read")
  }

  test("branch reads on a table with pending deletes serve branch-written " +
    "files: fork-base deletes apply, the branch's own appends are newest") {
    wh
    createMor("mbr", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq(2L).toDF("id").createOrReplaceTempView("mbr_del")
    spark.sql("""MERGE INTO morcat.s.mbr t USING mbr_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.mbr")
    assert(eqDels("mbr").size == 1)
    cat.createBranch(id("mbr"), "dev")
    // the branch append includes a RE-INSERT of the deleted key — it
    // post-dates the fork-base delete, so it must survive the branch read
    Seq((2L, "b2"), (9L, "i")).toDF("id", "w")
      .writeTo("morcat.s.mbr")
      .option(GraftCatalog.BranchOption, "dev").append()
    val out = spark.sql("SELECT * FROM morcat.s.mbr VERSION AS OF 'dev'")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "i")),
      s"branch read with pending deletes: $out")
    // main unchanged: the delete still pends, the branch rows invisible
    assert(spark.table("morcat.s.mbr").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("scheme-qualified warehouse: pending deletes still apply on a " +
    "partitioned table (path-form mismatch must not skip the delete)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-morwh2").toString
    spark.conf.set("spark.sql.catalog.morcat2", classOf[GraftCatalog].getName)
    // file:-qualified warehouse — partition file paths come back
    // scheme-stripped, so the reader's prefix must normalize the same way
    spark.conf.set("spark.sql.catalog.morcat2.warehouse", s"file:$dir")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS morcat2.s")
    Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"))
      .toDF("id", "p", "w").repartition(1)
      .writeTo("morcat2.s.msq").using("parquet")
      .partitionedBy(col("p"))
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    Seq((2L, "x")).toDF("id", "w").createOrReplaceTempView("msq_del")
    spark.sql("""MERGE INTO morcat2.s.msq t USING msq_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat2.s.msq")
    val out = spark.table("morcat2.s.msq").orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L),
      s"pending delete must apply under a scheme-qualified warehouse, got $out")
  }

  test("reads with deletes pending stay COLUMNAR: the selection view " +
    "drops only deleted rows, across scalar/string/array columns") {
    wh
    val rows = Seq(
      (1L, "a", 1.5, Seq(1L, 10L)),
      (2L, "b", 2.5, Seq(2L)),
      (3L, null.asInstanceOf[String], 3.5, Seq(3L, 30L, 300L)),
      (4L, "d", 4.5, Seq.empty[Long]),
      (5L, "e", 5.5, Seq(5L)))
    rows.toDF("id", "w", "x", "arr").repartition(1)
      .writeTo("morcat.s.mcol").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    // delete two MID-FILE keys so the probed selection-view path (not
    // fresh-file pass-through, not whole-batch drop) serves the read
    Seq(2L, 4L).toDF("id").createOrReplaceTempView("mcol_del")
    spark.sql("""MERGE INTO morcat.s.mcol t USING mcol_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.mcol")
    assert(eqDels("mcol").size == 1)

    val df = spark.table("morcat.s.mcol")
    val batch = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the delete-applying plan"))
    assert(batch.scan.description().startsWith("EqDeleteApply"),
      s"expected the delete-applying scan, got ${batch.scan.description()}")
    // THE pin: pending deletes must not force the read row-based
    assert(batch.supportsColumnar,
      "delete-applying read must stay columnar when the parquet reader is")

    val out = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getSeq[Long](3))).toSeq
    assert(out == Seq(
      (1L, "a", 1.5, Seq(1L, 10L)),
      (3L, null, 3.5, Seq(3L, 30L, 300L)),
      (5L, "e", 5.5, Seq(5L))), s"got $out")
    // narrow projection through the view (forced key column dropped off)
    assert(df.select("w").collect().map(_.getString(0)).toSet ==
      Set("a", null, "e"))
    assert(df.agg(sum("x")).head.getDouble(0) == 1.5 + 3.5 + 5.5)
  }

  test("columnar delete apply: whole-batch deletion skips the file's " +
    "batch; a fresh file appended after the delete passes through") {
    wh
    createMor("mcol2", Seq((1L, "a"), (2L, "b")))
    // second file whose EVERY row is deleted → the k == 0 columnar path
    Seq((10L, "x"), (11L, "y")).toDF("id", "w")
      .repartition(1).writeTo("morcat.s.mcol2").append()
    Seq(10L, 11L).toDF("id").createOrReplaceTempView("mcol2_del")
    spark.sql("""MERGE INTO morcat.s.mcol2 t USING mcol2_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("morcat.s.mcol2")
    // fresh file AFTER the delete: the deleted keys re-inserted must
    // survive (pass-through branch, no probe)
    Seq((10L, "x2")).toDF("id", "w").writeTo("morcat.s.mcol2").append()
    spark.catalog.refreshTable("morcat.s.mcol2")
    val df = spark.table("morcat.s.mcol2")
    val batch = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(batch.supportsColumnar, "columnar read expected")
    val out = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (10L, "x2")), s"got $out")
  }

  test("STRING merge key: deletes, updates, and the sequence rule apply " +
    "through the UTF8 probe; reads stay columnar") {
    wh
    Seq(("doc-a", 1L), ("doc-b", 2L), ("doc-c", 3L))
      .toDF("k", "n").repartition(1)
      .writeTo("morcat.s.mstr").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "k")
      .createOrReplace()
    Seq(("doc-a", 10L, "u"), ("doc-b", 0L, "d"))
      .toDF("k", "n", "op").createOrReplaceTempView("mstr_changes")
    spark.sql("""MERGE INTO morcat.s.mstr t USING mstr_changes s ON t.k = s.k
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET n = s.n""")
    spark.catalog.refreshTable("morcat.s.mstr")
    val batch = spark.table("morcat.s.mstr").queryExecution.executedPlan
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    assert(batch.scan.description().startsWith("EqDeleteApply"))
    assert(batch.supportsColumnar, "string-keyed delete apply stays columnar")
    val out = spark.table("morcat.s.mstr").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("doc-a", 10L), ("doc-c", 3L)), s"got $out")
    // sequence rule with string identity: a re-inserted key survives the
    // older delete
    Seq(("doc-b", 22L)).toDF("k", "n").writeTo("morcat.s.mstr").append()
    spark.catalog.refreshTable("morcat.s.mstr")
    val out2 = spark.table("morcat.s.mstr").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out2 == Seq(("doc-a", 10L), ("doc-b", 22L), ("doc-c", 3L)),
      s"got $out2")
  }

  test("merge-on-read without merge.key takes the POSITION-delete path: " +
    "the MERGE commits, no data file is rewritten") {
    wh
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("morcat.s.m7").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    val before = manifestFiles("m7").toSet
    Seq((1L, "A")).toDF("id", "w").createOrReplaceTempView("m7_changes")
    spark.sql("""MERGE INTO morcat.s.m7 t USING m7_changes s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w""")
    assert(spark.table("morcat.s.m7").as[(Long, String)].collect().toSet ===
      Set((1L, "A"), (2L, "b")))
    // the original file survived untouched (merge-on-read, not rewrite)
    assert(before.subsetOf(manifestFiles("m7").toSet))
    val dir = new Path(s"$wh/s/m7")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftCatalog.manifest(fs, dir,
      GraftCatalog.latestSnapshot(fs, dir)).toSeq.flatMap(_.posDels).nonEmpty)
  }
}
