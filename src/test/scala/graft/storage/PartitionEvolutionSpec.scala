package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PARTITION SPEC EVOLUTION (`write.partition-by`): a metadata-only
  * commit after which new files land under the new directory layout,
  * existing files keep theirs, and one table serves both — each file's
  * partition values come from its own path, its remaining columns from
  * its data. Iceberg's ALTER ... ADD/DROP PARTITION FIELD semantics,
  * re-expressed over the catalog's hive-layout files. Rewrites
  * (compaction, CoW DML) migrate the files they touch to the current
  * spec; dynamic partition overwrite refuses to run while legacy-layout
  * files are live (they could hold rows of the replaced partitions). */
class PartitionEvolutionSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-evowh").toString
    spark.conf.set("spark.sql.catalog.evocat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.evocat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evocat.s")
    dir
  }

  private def cat = spark.sessionState.catalogManager.catalog("evocat")
    .asInstanceOf[GraftCatalog]

  private def manifestFiles(name: String): Seq[String] = {
    val dir = new Path(s"$wh/s/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCatalog.manifest(fs, dir,
      GraftCatalog.latestSnapshot(fs, dir)).map(_.files).get
  }

  private def evolve(name: String, spec: String): Unit =
    spark.sql(s"""ALTER TABLE evocat.s.$name SET TBLPROPERTIES
      ('${GraftCatalog.PartitionByProp}' = '$spec')""")

  test("unpartitioned -> partitioned: old flat files and new dir files " +
    "serve one table; filters prune and results stay exact") {
    wh
    Seq((1L, "us", 10.0), (2L, "de", 20.0), (3L, "us", 30.0))
      .toDF("id", "region", "v").repartition(1)
      .writeTo("evocat.s.e1").using("parquet").createOrReplace()
    evolve("e1", "region")
    Seq((4L, "us", 40.0), (5L, "fr", 50.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.e1").append()
    spark.catalog.refreshTable("evocat.s.e1")
    // new files landed under region=..., old files stayed flat
    val files = manifestFiles("e1")
    assert(files.exists(f => GraftCatalog.layoutOf(f) == Seq("region")),
      s"expected new-layout files, got $files")
    assert(files.exists(f => GraftCatalog.layoutOf(f).isEmpty),
      s"expected the legacy flat file to survive untouched, got $files")
    val all = spark.table("evocat.s.e1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(all == Seq((1L, "us", 10.0), (2L, "de", 20.0), (3L, "us", 30.0),
      (4L, "us", 40.0), (5L, "fr", 50.0)))
    // a filter on the (new) partition column is correct across BOTH
    // layouts: data filter on the flat group, dir prune on the new group
    assert(spark.table("evocat.s.e1").filter($"region" === "us")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    assert(spark.table("evocat.s.e1").agg(sum("v")).head.getDouble(0) == 150.0)
  }

  test("add a partition field: (region) -> (region, day); three layouts " +
    "coexist and aggregate/filter answers stay exact") {
    wh
    Seq((1L, "us", "d1", 1.0), (2L, "de", "d1", 2.0))
      .toDF("id", "region", "day", "v").repartition(1)
      .writeTo("evocat.s.e2").using("parquet")
      .partitionedBy($"region").createOrReplace()
    evolve("e2", "region,day")
    Seq((3L, "us", "d2", 3.0), (4L, "de", "d2", 4.0))
      .toDF("id", "region", "day", "v").writeTo("evocat.s.e2").append()
    evolve("e2", "day")
    Seq((5L, "fr", "d3", 5.0)).toDF("id", "region", "day", "v")
      .writeTo("evocat.s.e2").append()
    spark.catalog.refreshTable("evocat.s.e2")
    val layouts = manifestFiles("e2").map(GraftCatalog.layoutOf).distinct
    assert(layouts.toSet == Set(Seq("region"), Seq("region", "day"), Seq("day")),
      s"expected three coexisting layouts, got $layouts")
    assert(spark.table("evocat.s.e2").count() == 5L)
    assert(spark.table("evocat.s.e2").filter($"region" === "de")
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    assert(spark.table("evocat.s.e2").filter($"day" === "d2")
      .agg(sum("v")).head.getDouble(0) == 7.0)
    assert(spark.table("evocat.s.e2").groupBy("region").agg(sum("v").as("s"))
      .orderBy("region").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq == Seq(("de", 6.0), ("fr", 5.0), ("us", 4.0)))
  }

  test("drop to unpartitioned: new files keep the column in data; " +
    "legacy dir files still serve their partition values from the path") {
    wh
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "k", "w")
      .writeTo("evocat.s.e3").using("parquet")
      .partitionedBy($"k").createOrReplace()
    evolve("e3", "")
    Seq((3L, "c", "z")).toDF("id", "k", "w").writeTo("evocat.s.e3").append()
    spark.catalog.refreshTable("evocat.s.e3")
    assert(spark.table("evocat.s.e3").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    // the legacy dir column cannot be dropped while its files are live
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE evocat.s.e3 DROP COLUMN k")
    }
    assert(e.getMessage.contains("partition directory level"),
      s"expected the legacy-layout drop guard, got: ${e.getMessage}")
    // a pre-manifest table's live files are its listing: the same guard
    new java.io.File(s"$wh/s/e3").listFiles()
      .filter(_.getName.startsWith("_snap-")).foreach(_.delete())
    spark.catalog.refreshTable("evocat.s.e3")
    val legacy = intercept[Exception] {
      spark.sql("ALTER TABLE evocat.s.e3 DROP COLUMN k")
    }
    assert(legacy.getMessage.contains("partition directory level"),
      s"expected the legacy-layout drop guard, got: ${legacy.getMessage}")
  }

  test("row-level DML and targeted compaction on an evolved table " +
    "migrate the files they touch to the current spec") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0), (3L, "us", 3.0))
      .toDF("id", "region", "v").repartition(1)
      .writeTo("evocat.s.e4").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    evolve("e4", "region")
    // MoR MERGE: delta commit (new-layout replacement file + sidecar),
    // legacy flat file untouched, read applies deletes across layouts
    Seq((2L, "de", 20.0), (4L, "fr", 4.0)).toDF("id", "region", "v")
      .createOrReplaceTempView("e4_up")
    spark.sql("""MERGE INTO evocat.s.e4 t USING e4_up s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, region, v) VALUES (s.id, s.region, s.v)""")
    spark.catalog.refreshTable("evocat.s.e4")
    assert(spark.table("evocat.s.e4").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "us", 1.0), (2L, "de", 20.0), (3L, "us", 3.0),
        (4L, "fr", 4.0)))
    assert(manifestFiles("e4").exists(f => GraftCatalog.layoutOf(f).isEmpty),
      "MoR delta must not rewrite the legacy file")
    // compaction folds the pending delete INTO the current spec: the
    // affected legacy file is rewritten under region=...
    val (rew, _) = cat.compactDeletes(spark, "s.e4")
    assert(rew >= 1)
    spark.catalog.refreshTable("evocat.s.e4")
    assert(manifestFiles("e4").forall(f =>
      GraftCatalog.layoutOf(f) == Seq("region")),
      s"compaction must migrate rewritten files to the current spec, " +
        s"got ${manifestFiles("e4")}")
    assert(spark.table("evocat.s.e4").filter($"region" === "us").count() == 2L)
  }

  test("dynamic partition overwrite refuses while legacy-layout files " +
    "are live, and works again after migration") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0)).toDF("id", "region", "v")
      .repartition(1)
      .writeTo("evocat.s.e5").using("parquet").createOrReplace()
    evolve("e5", "region")
    val e = intercept[Exception] {
      Seq((9L, "us", 9.0)).toDF("id", "region", "v")
        .writeTo("evocat.s.e5").overwritePartitions()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("legacy layout"),
      s"expected the evolved-table dynamic-overwrite guard, got: ${msgs(e)}")
    // migrate: a logical truncate-overwrite rewrites everything under the
    // current spec (old files stay on disk for time travel, so the
    // self-read is safe; REPLACE TABLE would physically drop the dir)
    spark.table("evocat.s.e5").writeTo("evocat.s.e5").overwrite(lit(true))
    spark.catalog.refreshTable("evocat.s.e5")
    assert(manifestFiles("e5").forall(f =>
      GraftCatalog.layoutOf(f) == Seq("region")))
    Seq((9L, "us", 9.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.e5").overwritePartitions()
    spark.catalog.refreshTable("evocat.s.e5")
    assert(spark.table("evocat.s.e5").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "de"), (9L, "us")))
  }

  test("runtime group filtering that collapses a mixed rewrite scan to " +
    "ONE layout keeps the planned column order — no row misalignment") {
    wh
    // the OLD spec (region, day) and the NEW single-column spec (region)
    // share `region`, so the runtime In(region, ...) filter (single
    // attribute — translatable; a multi-attribute struct-IN is declined
    // conservatively) CAN prune every legacy file and collapse the
    // rewrite scan to the new layout alone — whose bare delegate would
    // move the partition column to the end and misalign rows with the
    // output attributes planned from the mixed initial scan
    Seq((1L, "r1", "d1", 10.0), (2L, "r2", "d1", 20.0))
      .toDF("id", "region", "day", "v")
      .writeTo("evocat.s.e8").using("parquet")
      .partitionedBy($"region", $"day").createOrReplace()
    evolve("e8", "region")
    Seq((3L, "r9", "d2", 30.0), (4L, "r9", "d3", 40.0))
      .toDF("id", "region", "day", "v").writeTo("evocat.s.e8").append()
    spark.catalog.refreshTable("evocat.s.e8")
    assert(manifestFiles("e8").map(GraftCatalog.layoutOf).distinct.size == 2)
    // copy-on-write MERGE matching ONLY region=r9 rows
    Seq((3L, 300.0), (4L, 400.0)).toDF("id", "nv")
      .createOrReplaceTempView("e8_up")
    spark.sql("""MERGE INTO evocat.s.e8 t USING e8_up s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.nv""")
    spark.catalog.refreshTable("evocat.s.e8")
    assert(spark.table("evocat.s.e8").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSeq ==
      Seq((1L, "r1", "d1", 10.0), (2L, "r2", "d1", 20.0),
        (3L, "r9", "d2", 300.0), (4L, "r9", "d3", 400.0)))
    // the cold legacy partitions were runtime-pruned, not rewritten
    assert(manifestFiles("e8").exists(f =>
      GraftCatalog.layoutOf(f) == Seq("region", "day")),
      "legacy files outside the matched partitions must survive untouched")
  }

  test("position deletes spanning BOTH layouts: the CDC feed and targeted " +
    "compaction work over the mixed-layout union read") {
    wh
    Seq((1L, "us", "a"), (2L, "de", "b")).toDF("id", "region", "w")
      .repartition(1)
      .writeTo("evocat.s.e9").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    evolve("e9", "region")
    Seq((3L, "fr", "c"), (4L, "us", "d")).toDF("id", "region", "w")
      .writeTo("evocat.s.e9").append()
    spark.catalog.refreshTable("evocat.s.e9")
    val snapBefore = {
      val (fs, dir) = {
        val d = new Path(s"$wh/s/e9")
        (d.getFileSystem(spark.sparkContext.hadoopConfiguration), d)
      }
      GraftCatalog.latestSnapshot(fs, dir)
    }
    // one DELETE targeting rows in BOTH layouts (untranslatable conjunct
    // forces the row-level position-delta path)
    spark.sql(
      "DELETE FROM evocat.s.e9 WHERE id IN (2, 3) AND length(w) > 0")
    spark.catalog.refreshTable("evocat.s.e9")
    assert(spark.table("evocat.s.e9").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 4L))
    // the CDC feed reads the deleted rows through the mixed-layout union
    val fed = cat.deletedRows(spark, "s.e9", snapBefore, snapBefore + 1)
      .select("id").as[Long].collect().sorted.toSeq
    assert(fed == Seq(2L, 3L), s"CDC feed over mixed layouts: $fed")
    // targeted compaction folds both layouts' deletes in
    val (rew, _) = cat.compactDeletes(spark, "s.e9")
    assert(rew >= 1)
    spark.catalog.refreshTable("evocat.s.e9")
    assert(spark.table("evocat.s.e9").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("evolution is rejected for unknown columns, reserved names, and " +
    "malformed bucket specs") {
    wh
    Seq((1L, "a")).toDF("id", "w")
      .writeTo("evocat.s.e6").using("parquet").createOrReplace()
    val bad = intercept[Exception] { evolve("e6", "nope") }
    assert(bad.getMessage.contains("not in schema"))
    val res = intercept[Exception] { evolve("e6", "_file") }
    assert(res.getMessage.toLowerCase.contains("reserved"))
    val mal = intercept[Exception] { evolve("e6", "bucket(4, id), w") }
    assert(mal.getMessage.contains("malformed bucket spec"),
      s"a bucket spec mixed with identity columns must be rejected: ${mal.getMessage}")
    val neg = intercept[Exception] { evolve("e6", "bucket(0, id)") }
    assert(neg.getMessage.contains("positive"))
    val badcol = intercept[Exception] { evolve("e6", "bucket(4, nope)") }
    assert(badcol.getMessage.contains("missing from schema"))
    // case/space variants parse as bucket specs — never as a phantom
    // identity column named "Bucket (4" with a no-such-column error
    val malCase = intercept[Exception] { evolve("e6", "Bucket (4, id") }
    assert(malCase.getMessage.contains("malformed bucket spec"),
      s"case/space bucket variants must hit the bucket-spec message: ${malCase.getMessage}")
    evolve("e6", "BUCKET (4, id)") // well-formed, just uppercased/spaced
    assert(GraftCatalog.parseBucketSpec("BUCKET (4, id)") == Some((4, "id")))
  }

  test("bucket-spec evolution: flat -> bucket(n, col) is a metadata commit; " +
    "mixed reads stay exact; migrate_layout restores a zero-shuffle SPJ; " +
    "ambiguous re-bucketing is rejected") {
    wh
    (1 to 40).map(i => (i.toLong, s"w$i")).toDF("id", "w").repartition(1)
      .writeTo("evocat.s.bk1").using("parquet").createOrReplace()
    evolve("bk1", "bucket(4, id)")
    (41 to 60).map(i => (i.toLong, s"w$i")).toDF("id", "w")
      .writeTo("evocat.s.bk1").append()
    spark.catalog.refreshTable("evocat.s.bk1")
    val files = manifestFiles("bk1")
    assert(files.exists(f => GraftCatalog.layoutOf(f) == Seq("__bucket_id")),
      s"new files must land bucketed, got $files")
    assert(files.exists(f => GraftCatalog.layoutOf(f).isEmpty),
      s"the legacy flat file must survive untouched, got $files")
    assert(spark.table("evocat.s.bk1").select("id").as[Long]
      .collect().sorted.toSeq == (1L to 60L))
    // the bucket level is storage layout, not a column
    assert(spark.table("evocat.s.bk1").columns.toSeq == Seq("id", "w"))
    // RE-bucketing while __bucket_id files are live is rejected: the
    // bucket count is not in the path, so the old files' bucket ids are
    // unverifiable against the new n and SPJ would co-locate wrongly
    val e = intercept[Exception] { evolve("bk1", "bucket(8, id)") }
    assert(e.getMessage.contains("bucket count cannot be verified"),
      s"expected the ambiguous-re-bucket guard, got: ${e.getMessage}")
    // ...while re-SETTING the same spec is a legal no-op
    evolve("bk1", "bucket(4, id)")
    // migrate the flat tail: uniformly bucketed
    spark.sql("CALL evocat.system.migrate_layout('s.bk1', 1)").collect()
    spark.catalog.refreshTable("evocat.s.bk1")
    assert(manifestFiles("bk1").forall(f =>
      GraftCatalog.layoutOf(f) == Seq("__bucket_id")),
      s"migration must leave only bucketed files: ${manifestFiles("bk1")}")
    assert(spark.table("evocat.s.bk1").select("id").as[Long]
      .collect().sorted.toSeq == (1L to 60L))
    // SPJ returns on the uniform bucketed layout: zero-shuffle join with
    // a BORN-bucketed table on the same (n, col)
    import org.apache.spark.sql.functions.bucket
    (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("id", "amount")
      .writeTo("evocat.s.bk2").using("parquet")
      .partitionedBy(bucket(4, $"id")).createOrReplace()
    val spjConfs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.graft.spj.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = spjConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    spjConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.table("evocat.s.bk1")
        .join(spark.table("evocat.s.bk2"), "id")
      assert(j.count() == 60L)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"the evolved-then-migrated bucketed table must join shuffle-free:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a non-dir-encodable partition column is rejected at DDL time " +
    "(evolve AND create), not executor-side on the first append") {
    wh
    Seq((1L, 1.5, "a")).toDF("id", "score", "w")
      .writeTo("evocat.s.e11").using("parquet").createOrReplace()
    // evolving to a double column would commit fine and then fail every
    // subsequent append in the writer, leaving the table unwritable
    val e = intercept[Exception] { evolve("e11", "score") }
    assert(e.getMessage.contains("cannot be encoded as a directory level"),
      s"expected the dir-encodable guard, got: ${e.getMessage}")
    // the table stayed writable on its original (flat) spec
    Seq((2L, 2.5, "b")).toDF("id", "score", "w")
      .writeTo("evocat.s.e11").append()
    spark.catalog.refreshTable("evocat.s.e11")
    assert(spark.table("evocat.s.e11").count() == 2L)
    // same guard at CREATE: an identity partition column must be
    // dir-encodable too
    val c = intercept[Exception] {
      Seq((1L, 1.5)).toDF("id", "score")
        .writeTo("evocat.s.e12").using("parquet")
        .partitionedBy($"score").createOrReplace()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(c).contains("cannot be encoded as a directory level"),
      s"expected the dir-encodable guard at create, got: ${msgs(c)}")
  }

  test("plan shape: a mixed-layout read plans the per-layout union scan, " +
    "a uniform table keeps the stock single-delegate scan") {
    wh
    Seq((1L, "us", 1.0)).toDF("id", "region", "v").repartition(1)
      .writeTo("evocat.s.e10").using("parquet").createOrReplace()
    evolve("e10", "region")
    Seq((2L, "de", 2.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.e10").append()
    spark.catalog.refreshTable("evocat.s.e10")
    def scanDesc(t: String): String =
      spark.table(t).filter($"v" > 0).queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.head
    val mixed = scanDesc("evocat.s.e10")
    assert(mixed.contains("PartitionEvolvedUnion(2 layouts"),
      s"expected the per-layout union scan, got: ${mixed.take(200)}")
    // migrate everything to the current spec: the union scan retires
    spark.table("evocat.s.e10").writeTo("evocat.s.e10").overwrite(lit(true))
    spark.catalog.refreshTable("evocat.s.e10")
    val uniform = scanDesc("evocat.s.e10")
    assert(!uniform.contains("PartitionEvolvedUnion"),
      s"a uniform table must keep the stock scan, got: ${uniform.take(200)}")
  }

  test("migrate_layout rewrites ONLY legacy-layout files: conforming files " +
    "keep their exact paths, and DPO + the single-delegate plan return") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0), (3L, "us", 3.0))
      .toDF("id", "region", "v").repartition(2)
      .writeTo("evocat.s.m1").using("parquet").createOrReplace()
    evolve("m1", "region")
    Seq((4L, "us", 4.0), (5L, "fr", 5.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.m1").append()
    spark.catalog.refreshTable("evocat.s.m1")
    val before = manifestFiles("m1")
    val conforming = before.filter(f =>
      GraftCatalog.layoutOf(f) == Seq("region"))
    val legacy = before.filter(f => GraftCatalog.layoutOf(f).isEmpty)
    assert(conforming.nonEmpty && legacy.nonEmpty, s"setup: $before")
    val rep = spark.sql("CALL evocat.system.migrate_layout('s.m1', 1)").head
    assert(rep.getInt(0) == legacy.size,
      s"files_migrated must be the LEGACY count, got ${rep.getInt(0)}")
    assert(rep.getInt(1) == conforming.size,
      s"files_kept must be the conforming count, got ${rep.getInt(1)}")
    spark.catalog.refreshTable("evocat.s.m1")
    val after = manifestFiles("m1")
    conforming.foreach(f => assert(after.contains(f),
      s"conforming file $f must keep its path — migrate_layout rewrote it"))
    assert(!after.exists(legacy.contains), "legacy files must be retired")
    assert(after.forall(f => GraftCatalog.layoutOf(f) == Seq("region")),
      s"table must be uniform on the current spec, got $after")
    // rows byte-identical across the migration
    assert(spark.table("evocat.s.m1").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "us", 1.0), (2L, "de", 2.0), (3L, "us", 3.0),
        (4L, "us", 4.0), (5L, "fr", 5.0)))
    // the union scan retires with the last legacy file: stock delegate
    val desc = spark.table("evocat.s.m1").filter($"v" > 0)
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.head
    assert(!desc.contains("PartitionEvolvedUnion"),
      s"uniform after migration must plan the stock scan: ${desc.take(200)}")
    // ...and dynamic partition overwrite is legal again
    Seq((9L, "us", 9.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.m1").overwritePartitions()
    spark.catalog.refreshTable("evocat.s.m1")
    assert(spark.table("evocat.s.m1").filter($"region" === "us")
      .select("id").as[Long].collect().sorted.toSeq == Seq(9L))
    // idempotent: nothing legacy left to migrate
    val again = spark.sql("CALL evocat.system.migrate_layout('s.m1', 1)").head
    assert(again.getInt(0) == 0)
  }

  test("migrate_layout retires legacy files into time-travel history: the " +
    "pre-migration snapshot still reads, and vacuum reclaims the legacy " +
    "bytes once the window passes") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0)).toDF("id", "region", "v")
      .repartition(1)
      .writeTo("evocat.s.m3").using("parquet").createOrReplace()
    evolve("m3", "region")
    Seq((3L, "fr", 3.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.m3").append()
    spark.catalog.refreshTable("evocat.s.m3")
    val dir = new Path(s"$wh/s/m3")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preSnap = GraftCatalog.latestSnapshot(fsys, dir)
    val legacy = manifestFiles("m3").filter(f => GraftCatalog.layoutOf(f).isEmpty)
    assert(legacy.nonEmpty)
    spark.sql("CALL evocat.system.migrate_layout('s.m3', 1)").collect()
    spark.catalog.refreshTable("evocat.s.m3")
    // the legacy files are OUT of the live manifest but still on disk:
    // the pre-migration snapshot time-travels
    legacy.foreach(f => assert(fsys.exists(new Path(dir, f)),
      s"legacy file $f must survive for time travel until vacuum"))
    assert(spark.sql(s"SELECT id FROM evocat.s.m3 VERSION AS OF $preSnap")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // vacuum to the latest snapshot: the retired legacy bytes reclaim
    val deleted = cat.vacuum(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "m3"),
      keepLast = 1)
    assert(deleted >= legacy.size,
      s"vacuum must reclaim the ${legacy.size} retired legacy file(s), got $deleted")
    legacy.foreach(f => assert(!fsys.exists(new Path(dir, f))))
    assert(spark.table("evocat.s.m3").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("bounded-work migration: max_files migrates the legacy tail in " +
    "fixed-size atomic steps, and layout_summary prices what remains") {
    wh
    (1 to 9).map(i => (i.toLong, s"r${i % 3}", i * 1.0)).toDF("id", "region", "v")
      .repartition(3)
      .writeTo("evocat.s.m5").using("parquet").createOrReplace()
    evolve("m5", "region")
    Seq((10L, "r0", 10.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.m5").append()
    spark.catalog.refreshTable("evocat.s.m5")
    def summary(): Seq[(String, Boolean, Int, Long)] =
      spark.sql("CALL evocat.system.layout_summary('s.m5')").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getInt(2), r.getLong(3)))
        .toSeq
    // before: 3 legacy flat files (9 rows) + the current region layout
    assert(summary() == Seq(
      ("<unpartitioned>", false, 3, 9L), ("region", true, 1, 1L)), s"${summary()}")
    // first bounded step: 2 of 3 legacy files migrate, table stays mixed
    val s1 = spark.sql("CALL evocat.system.migrate_layout('s.m5', 1, 2)").head
    assert(s1.getInt(0) == 2, s"expected 2 files migrated, got $s1")
    spark.catalog.refreshTable("evocat.s.m5")
    assert(summary().collect {
      case ("<unpartitioned>", false, files, _) => files }.sum == 1,
      s"one legacy file must remain: ${summary()}")
    // mid-migration reads stay exact
    assert(spark.table("evocat.s.m5").select("id").as[Long]
      .collect().sorted.toSeq == (1L to 10L))
    // second step converges; the table is uniform and row counts carry
    val s2 = spark.sql("CALL evocat.system.migrate_layout('s.m5', 1, 2)").head
    assert(s2.getInt(0) == 1)
    spark.catalog.refreshTable("evocat.s.m5")
    val fin = summary()
    assert(fin.length == 1 && fin.head._1 == "region" && fin.head._2 &&
      fin.head._4 == 10L, s"$fin")
    assert(spark.table("evocat.s.m5").select("id").as[Long]
      .collect().sorted.toSeq == (1L to 10L))
  }

  test("migrate_layout loses a concurrent-commit race CLEANLY: the other " +
    "writer's snapshot stands, no migrated file leaks into any manifest, " +
    "and a re-run succeeds") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0)).toDF("id", "region", "v")
      .repartition(1)
      .writeTo("evocat.s.m4").using("parquet").createOrReplace()
    evolve("m4", "region")
    Seq((3L, "fr", 3.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.m4").append()
    spark.catalog.refreshTable("evocat.s.m4")
    val dir = new Path(s"$wh/s/m4")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = GraftCatalog.latestSnapshot(fsys, dir)
    val liveBefore = manifestFiles("m4")
    // a conflicting writer lands INSIDE the OCC window — after migrate
    // promoted its files, before its snapshot commit (files unchanged:
    // a metadata-only commit is the cheapest conflicting writer)
    GraftCatalog.migratePreCommitHook = () => {
      val prev = GraftCatalog.manifest(fsys, dir, latest).get
      GraftCatalog.writeSnapshotAt(fsys, dir, latest + 1, prev, liveBefore, prev.txns)
    }
    val e =
      try intercept[java.io.IOException] { cat.migrateLayout(spark, "s.m4") }
      finally GraftCatalog.migratePreCommitHook = () => ()
    assert(e.getMessage.contains("concurrent commit"),
      s"expected the OCC collision, got: ${e.getMessage}")
    // the other writer's snapshot stands; nothing migrated leaked in
    spark.catalog.refreshTable("evocat.s.m4")
    assert(manifestFiles("m4").sorted == liveBefore.sorted)
    assert(!manifestFiles("m4").exists(_.contains("migr-")))
    assert(spark.table("evocat.s.m4").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // re-run from the fresh snapshot: succeeds and leaves it uniform
    val (migrated, _) = cat.migrateLayout(spark, "s.m4")
    assert(migrated >= 1)
    spark.catalog.refreshTable("evocat.s.m4")
    assert(manifestFiles("m4").forall(f =>
      GraftCatalog.layoutOf(f) == Seq("region")))
    assert(spark.table("evocat.s.m4").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming reads compose with BUCKET-spec evolution: one batch " +
    "spans the flat and bucketed layouts, later bucketed appends arrive " +
    "exactly once") {
    wh
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("evocat.s.st2").using("parquet").createOrReplace()
    evolve("st2", "bucket(4, id)")
    Seq((3L, "c"), (4L, "d")).toDF("id", "w")
      .writeTo("evocat.s.st2").append()
    spark.catalog.refreshTable("evocat.s.st2")
    val q = spark.readStream.format("graft-table")
      .option("table", "evocat.s.st2").load()
      .writeStream.format("memory").queryName("evo_bk_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("evo_bk_stream").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
        "the cross-evolution batch must serve flat AND bucketed files")
      Seq((5L, "e")).toDF("id", "w").writeTo("evocat.s.st2").append()
      q.processAllAvailable()
      assert(spark.table("evo_bk_stream").select("id").as[Long]
        .collect().sorted.toSeq == (1L to 5L))
    } finally q.stop()
  }

  test("migrate_layout composes with pending merge-on-read deletes: folds " +
    "them into the rewritten legacy files, carries them for conforming ones") {
    wh
    Seq((1L, "us", "a"), (2L, "de", "b")).toDF("id", "region", "w")
      .repartition(1)
      .writeTo("evocat.s.m2").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    evolve("m2", "region")
    Seq((3L, "fr", "c"), (4L, "us", "d")).toDF("id", "region", "w")
      .writeTo("evocat.s.m2").append()
    spark.catalog.refreshTable("evocat.s.m2")
    // one pending equality-delete set hitting BOTH layouts: id=1 lives in
    // the legacy flat file, id=3 in a conforming region=... file
    spark.sql("DELETE FROM evocat.s.m2 WHERE id IN (1, 3) AND length(w) > 0")
    spark.catalog.refreshTable("evocat.s.m2")
    val dir = new Path(s"$wh/s/m2")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(GraftCatalog.manifest(fsys, dir,
      GraftCatalog.latestSnapshot(fsys, dir)).toSeq.flatMap(_.eqDels).nonEmpty, "setup: eqdel pending")
    val rep = spark.sql("CALL evocat.system.migrate_layout('s.m2', 1)").head
    assert(rep.getInt(0) >= 1)
    spark.catalog.refreshTable("evocat.s.m2")
    // id=1 must NOT resurrect (its delete folded into the legacy rewrite);
    // id=3 must STAY deleted (its conforming file is untouched, so the
    // pending delete must have been carried, not cleared)
    assert(spark.table("evocat.s.m2").select("id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 4L))
    assert(manifestFiles("m2").forall(f =>
      GraftCatalog.layoutOf(f) == Seq("region")))
    assert(GraftCatalog.manifest(fsys, dir,
      GraftCatalog.latestSnapshot(fsys, dir)).toSeq.flatMap(_.eqDels).nonEmpty,
      "the delete pending against the untouched conforming file must carry")
    // later targeted compaction still folds the carried delete cleanly
    val (rew, _) = cat.compactDeletes(spark, "s.m2")
    assert(rew >= 1)
    spark.catalog.refreshTable("evocat.s.m2")
    assert(spark.table("evocat.s.m2").select("id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 4L))
  }

  test("metadata-only aggregates survive a mixed layout: per-group manifest " +
    "answering plans ZERO data scans; GROUP BY answers only when the key " +
    "is a dir level in EVERY layout") {
    wh
    // layouts (region) and (region, day): region is a dir level in BOTH
    Seq((1L, "us", "d1", 1.0), (2L, "de", "d1", 2.0), (3L, "us", "d2", 3.0))
      .toDF("id", "region", "day", "v").repartition(1)
      .writeTo("evocat.s.ag1").using("parquet")
      .partitionedBy($"region").createOrReplace()
    evolve("ag1", "region,day")
    Seq((4L, "fr", "d3", 4.0), (5L, "us", "d3", 5.0))
      .toDF("id", "region", "day", "v").writeTo("evocat.s.ag1").append()
    spark.catalog.refreshTable("evocat.s.ag1")
    assert(manifestFiles("ag1").map(GraftCatalog.layoutOf).distinct.size == 2,
      s"setup: expected two layouts, got ${manifestFiles("ag1")}")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def dataScans(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.size
    // ungrouped count/min/max: each layout group answers from its own
    // manifest stats; the partials fold in Spark's final aggregate
    val agg = spark.sql(
      "SELECT count(*) AS c, min(id) AS mn, max(id) AS mx, min(v) AS vn " +
        "FROM evocat.s.ag1")
    assert(dataScans(agg) == 0,
      s"mixed-layout count/min/max must plan no data scan:\n" +
        agg.queryExecution.sparkPlan.toString.take(400))
    assert(agg.collect().head == org.apache.spark.sql.Row(5L, 1L, 5L, 1.0))
    // GROUP BY region — a dir level in BOTH layouts: still metadata-only,
    // one partial row per (layout group, region value)
    val grp = spark.sql(
      "SELECT region, count(*) AS c, max(id) AS mx FROM evocat.s.ag1 " +
        "GROUP BY region")
    assert(dataScans(grp) == 0,
      "GROUP BY a partition column of every layout must stay metadata-only")
    assert(grp.orderBy("region").collect().toSeq ==
      Seq(org.apache.spark.sql.Row("de", 1L, 2L),
        org.apache.spark.sql.Row("fr", 1L, 4L),
        org.apache.spark.sql.Row("us", 3L, 5L)))
    // GROUP BY day — a dir level only in the NEW layout: goes HYBRID (the
    // new-layout group answers from its manifest, only the legacy group
    // scans — pinned in detail by the dedicated hybrid test), correct
    val byDay = spark.sql(
      "SELECT day, count(*) AS c FROM evocat.s.ag1 GROUP BY day")
    assert(dataScans(byDay) > 0,
      "GROUP BY a non-universal dir level must plan a (hybrid) data scan")
    assert(byDay.orderBy("day").collect().toSeq ==
      Seq(org.apache.spark.sql.Row("d1", 2L),
        org.apache.spark.sql.Row("d2", 1L),
        org.apache.spark.sql.Row("d3", 2L)))
    // a filter still demotes to the data scan (stats are whole-file)
    val filtered = spark.sql(
      "SELECT count(*) AS c FROM evocat.s.ag1 WHERE v > 2.0")
    assert(dataScans(filtered) > 0)
    assert(filtered.head.getLong(0) == 3L)
  }

  test("zero-shuffle SPJ on a MIXED layout when the key dir level is " +
    "invariant: (region) -> (region, day) still joins on region " +
    "storage-partitioned, row-identical to the shuffled join") {
    wh
    Seq((1L, "us", "d1", 1.0), (2L, "de", "d1", 2.0), (3L, "us", "d2", 3.0),
        (4L, "fr", "d1", 4.0))
      .toDF("id", "region", "day", "v").repartition(1)
      .writeTo("evocat.s.spj1").using("parquet")
      .partitionedBy($"region").createOrReplace()
    // evolution ADDS a dir level: region stays a dir level in BOTH layouts
    evolve("spj1", "region,day")
    Seq((5L, "us", "d1", 5.0), (6L, "de", "d2", 6.0), (7L, "jp", "d1", 7.0))
      .toDF("id", "region", "day", "v")
      .writeTo("evocat.s.spj1").append()
    spark.catalog.refreshTable("evocat.s.spj1")
    assert(manifestFiles("spj1").map(GraftCatalog.layoutOf).distinct.size == 2,
      s"setup: expected a mixed layout, got ${manifestFiles("spj1")}")
    // a uniform region-partitioned dimension on the other side
    Seq(("us", "west"), ("de", "eu"), ("fr", "eu"), ("jp", "asia"))
      .toDF("region", "zone")
      .writeTo("evocat.s.spjdim").using("parquet")
      .partitionedBy($"region").createOrReplace()
    val spjConfs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.graft.spj.preserveDataGrouping" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = spjConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    spjConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.table("evocat.s.spj1").select("id", "region")
        .join(spark.table("evocat.s.spjdim"), "region")
        .select("id", "region", "zone")
      val rows = j.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"an invariant-dir-level join must run storage-partitioned:\n$plan")
      // row-identical to the shuffled join
      spark.conf.set("spark.sql.graft.spj.preserveDataGrouping", "false")
      val shuffled = spark.table("evocat.s.spj1").select("id", "region")
        .join(spark.table("evocat.s.spjdim"), "region")
        .select("id", "region", "zone")
      assert(shuffled.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "control: conf off must plan the shuffled join")
      assert(rows == shuffled.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq)
      // a join on a NON-invariant level (day) must NOT claim co-location:
      // the legacy files carry day as data, not a dir level
      spark.conf.set("spark.sql.graft.spj.preserveDataGrouping", "true")
      val scanKeys = spark.table("evocat.s.spj1")
        .queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan
        }
      assert(scanKeys.exists {
        case u: org.apache.spark.sql.graftshim.EvolvedUnionScan =>
          u.keySchema.fieldNames.toSeq == Seq("region")
        case _ => false
      }, s"the union scan must key by exactly the invariant level: $scanKeys")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("HYBRID metadata aggregates on a mixed layout: stats-capable groups " +
    "serve manifest partials (zero input files), only the failing group " +
    "scans, and the fold matches the full recompute exactly") {
    wh
    // legacy layout (region): day and v are DATA columns there; new
    // layout (region, day): day is a dir level, answerable from manifests
    Seq((1L, "us", "d1", Some(1.5)), (2L, "de", "d1", None),
        (3L, "us", "d2", Some(3.5)))
      .toDF("id", "region", "day", "v").repartition(1)
      .writeTo("evocat.s.hyb").using("parquet")
      .partitionedBy($"region").createOrReplace()
    evolve("hyb", "region,day")
    Seq((4L, "fr", "d3", Some(0.5)), (5L, "us", "d3", None),
        (6L, "us", "d1", Some(6.5)))
      .toDF("id", "region", "day", "v").writeTo("evocat.s.hyb").append()
    spark.catalog.refreshTable("evocat.s.hyb")
    val legacyFiles = manifestFiles("hyb")
      .count(f => GraftCatalog.layoutOf(f) == Seq("region"))
    assert(legacyFiles >= 1 && manifestFiles("hyb").size > legacyFiles,
      s"setup: expected a mixed layout, got ${manifestFiles("hyb")}")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val sql = "SELECT day, count(*) AS c, count(v) AS cv, min(v) AS mn, " +
      "max(id) AS mx FROM evocat.s.hyb GROUP BY day"
    val q = spark.sql(sql)
    val scans = q.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan }
    assert(scans.size == 1, s"expected one scan, got $scans")
    val hybrid = scans.head match {
      case h: org.apache.spark.sql.graftshim.HybridAggScan => h
      case other => fail(s"expected HybridAggScan, got ${other.description()}")
    }
    // the conforming (region, day) group contributes ZERO input files —
    // its answer rides as pre-computed manifest partials; only the legacy
    // group plans data partitions
    assert(hybrid.localRows.nonEmpty,
      "the stats-capable group must answer as manifest partials")
    assert(hybrid.dataScans.size == 1,
      s"only the failing legacy group may scan, got ${hybrid.description()}")
    val parts = hybrid.planInputPartitions()
    assert(parts.count(_.isInstanceOf[
      org.apache.spark.sql.graftshim.HybridLocalPartition]) == 1)
    assert(parts.exists(_.isInstanceOf[
      org.apache.spark.sql.graftshim.HybridFoldPartition]))
    // exactness, incl. null handling in both the folded and manifest
    // halves: d1 spans BOTH layouts (2 legacy rows + 1 new), d2 legacy
    // only, d3 new only
    val expected = Seq(
      org.apache.spark.sql.Row("d1", 3L, 2L, 1.5, 6L),
      org.apache.spark.sql.Row("d2", 1L, 1L, 3.5, 3L),
      org.apache.spark.sql.Row("d3", 2L, 1L, 0.5, 5L))
    assert(q.orderBy("day").collect().toSeq == expected)
    // and equals the conf-off full recompute
    spark.conf.set("spark.sql.graft.manifestAggregates", "false")
    try {
      val full = spark.sql(sql)
      assert(full.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan }.forall(
        !_.isInstanceOf[org.apache.spark.sql.graftshim.HybridAggScan]))
      assert(full.orderBy("day").collect().toSeq == expected)
    } finally spark.conf.set("spark.sql.graft.manifestAggregates", "true")
    // an UNGROUPED aggregate still answers all-metadata (no hybrid needed)
    val ungrouped = spark.sql(
      "SELECT count(*) AS c, min(v) AS mn FROM evocat.s.hyb")
    assert(ungrouped.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty)
    assert(ungrouped.collect().head == org.apache.spark.sql.Row(6L, 0.5))
  }

  test("streaming reads compose with evolution: a micro-batch spanning the " +
    "evolution commit serves both layouts, and a MID-STREAM evolve keeps " +
    "later batches exactly-once") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0)).toDF("id", "region", "v")
      .repartition(1)
      .writeTo("evocat.s.st1").using("parquet").createOrReplace()
    evolve("st1", "region")
    Seq((3L, "fr", 3.0), (4L, "us", 4.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.st1").append()
    spark.catalog.refreshTable("evocat.s.st1")
    // the FIRST batch reads snapshots 1..latest in one incremental scan —
    // a file set spanning the flat AND the region=... layouts
    val q = spark.readStream.format("graft-table")
      .option("table", "evocat.s.st1").load()
      .writeStream.format("memory").queryName("evo_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("evo_stream").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq == Seq((1L, "us", 1.0), (2L, "de", 2.0), (3L, "fr", 3.0),
          (4L, "us", 4.0)),
        "the cross-evolution batch must serve both layouts' rows")
      // MID-STREAM evolution: change the spec again while the query is
      // live, append under the newest layout — the next batch reads only
      // the new rows (exactly-once across the evolution commit)
      evolve("st1", "")
      Seq((5L, "it", 5.0), (6L, "es", 6.0)).toDF("id", "region", "v")
        .writeTo("evocat.s.st1").append()
      q.processAllAvailable()
      assert(spark.table("evo_stream").count() == 6L,
        "post-evolution appends must arrive exactly once")
      assert(spark.table("evo_stream").select("id").as[Long]
        .collect().sorted.toSeq == (1L to 6L))
    } finally q.stop()
  }

  test("bloom point-lookups prune files in BOTH layout groups of an " +
    "evolved table") {
    wh
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    // flat layout: two files with fully overlapping id ranges (evens /
    // odds over [0, 200)) — min/max stats cannot prune a point probe
    spark.range(0, 200, 2)
      .select(col("id"), concat(lit("w"), col("id")).as("tag"),
        lit("rA").as("region"))
      .repartition(1)
      .writeTo("evocat.s.bl1").using("parquet").createOrReplace()
    spark.range(1, 200, 2)
      .select(col("id"), concat(lit("w"), col("id")).as("tag"),
        lit("rB").as("region"))
      .repartition(1)
      .writeTo("evocat.s.bl1").append()
    evolve("bl1", "region")
    // new layout: the same overlapping evens/odds ids again, both files
    // under region=r1 — every id now lives in one file of EACH group
    spark.range(0, 200, 2)
      .select(col("id"), concat(lit("n"), col("id")).as("tag"),
        lit("r1").as("region"))
      .repartition(1)
      .writeTo("evocat.s.bl1").append()
    spark.range(1, 200, 2)
      .select(col("id"), concat(lit("n"), col("id")).as("tag"),
        lit("r1").as("region"))
      .repartition(1)
      .writeTo("evocat.s.bl1").append()
    spark.catalog.refreshTable("evocat.s.bl1")
    def fileCount(s: org.apache.spark.sql.connector.read.Scan): Int = s match {
      case e: org.apache.spark.sql.graftshim.EqDeleteScan => fileCount(e.delegate)
      case p: ParquetScan => p.fileIndex.inputFiles.length
      case other => fail(s"unexpected group scan: $other")
    }
    def groupFiles(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan
      }.head match {
        case u: org.apache.spark.sql.graftshim.EvolvedUnionScan =>
          u.scans.map(fileCount)
        case other => fail(s"expected the evolved union scan, got $other")
      }
    // before the index: a point probe scans every file of both groups
    assert(groupFiles(spark.table("evocat.s.bl1").filter($"id" === 42L))
      == Seq(2, 2), "overlapping ranges: min/max alone prunes nothing")
    val (fresh, total) = cat.buildBloomIndex(spark, "s.bl1", Seq("id"))
    assert(fresh == 4 && total == 4)
    // present key: ONE bloom-matched file per layout group
    val hit = spark.table("evocat.s.bl1").filter($"id" === 42L)
    assert(groupFiles(hit) == Seq(1, 1),
      s"bloom must prune within EACH layout group, got ${groupFiles(hit)}")
    assert(hit.count() == 2L, "one row per layout")
    val odd = spark.table("evocat.s.bl1").filter($"id" === 43L)
    assert(groupFiles(odd) == Seq(1, 1))
    assert(odd.count() == 2L)
    // absent key: everything pruned (one sentinel file per group so the
    // delegate can build), zero rows
    val miss = spark.table("evocat.s.bl1").filter($"id" === 4242L)
    assert(groupFiles(miss) == Seq(1, 1))
    assert(miss.count() == 0L)
  }

  test("mixed-layout residual filters: a predicate on a dir level of EVERY " +
    "layout needs no post-scan re-evaluation; one any group serves as a " +
    "data filter stays residual") {
    wh
    Seq((1L, "us", "d1", 1.0), (2L, "de", "d1", 2.0), (3L, "us", "d2", 3.0))
      .toDF("id", "region", "day", "v").repartition(1)
      .writeTo("evocat.s.rf1").using("parquet")
      .partitionedBy($"region").createOrReplace()
    evolve("rf1", "region,day")
    Seq((4L, "us", "d2", 4.0), (5L, "fr", "d3", 5.0))
      .toDF("id", "region", "day", "v").writeTo("evocat.s.rf1").append()
    spark.catalog.refreshTable("evocat.s.rf1")
    assert(manifestFiles("rf1").map(GraftCatalog.layoutOf).distinct.size == 2)
    import org.apache.spark.sql.execution.FilterExec
    def filters(df: org.apache.spark.sql.DataFrame): Seq[FilterExec] =
      df.queryExecution.sparkPlan.collect { case f: FilterExec => f }
    // region is a dir level in BOTH layouts: hive pruning is exact per
    // group, so the predicate (and its implied isnotnull) drops from the
    // post-scan filter entirely
    val byRegion = spark.table("evocat.s.rf1").filter($"region" === "us")
    assert(filters(byRegion).isEmpty,
      s"region filter must be absorbed by every group: ${filters(byRegion)}")
    assert(byRegion.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // day is a DATA column in the legacy (region) layout: that group
    // serves it best-effort, so it must stay residual for the union
    val byDay = spark.table("evocat.s.rf1").filter($"day" === "d2")
    assert(filters(byDay).nonEmpty,
      "a filter any group serves as a data filter must stay post-scan")
    assert(byDay.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // a SUBQUERY predicate on the same universal dir column is NOT in
    // the provably-absorbed class: Spark's FileScanBuilder classifies it
    // as a partition filter (absent from the residual) while ALSO
    // excluding it from the stored partition filters — it prunes
    // nothing, so dropping it post-scan would silently un-filter the
    // query. It must survive as a residual and the rows must be exact.
    val bySub = spark.sql(
      "SELECT id FROM evocat.s.rf1 WHERE region = " +
        "(SELECT max(region) FROM evocat.s.rf1)")
    assert(bySub.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L),
      "a subquery partition predicate must keep filtering on a mixed layout")
  }

  test("time travel: a snapshot before the evolution still reads, and an " +
    "incremental range spanning the evolution serves both layouts") {
    wh
    Seq((1L, "us", 1.0), (2L, "de", 2.0)).toDF("id", "region", "v")
      .repartition(1)
      .writeTo("evocat.s.e7").using("parquet").createOrReplace()
    evolve("e7", "region")
    Seq((3L, "fr", 3.0)).toDF("id", "region", "v")
      .writeTo("evocat.s.e7").append()
    spark.catalog.refreshTable("evocat.s.e7")
    assert(spark.sql("SELECT id FROM evocat.s.e7 VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(spark.table("evocat.s.e7").count() == 3L)
    // incremental read across the evolution point (snapshot 1 -> latest)
    val parts = Array("s")
    val incr = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(parts, "e7"),
      "incr:0..2")
    assert(incr != null)
    val incRows = spark.sql("SELECT id FROM evocat.s.e7 VERSION AS OF 2")
      .as[Long].collect().sorted.toSeq
    assert(incRows == Seq(1L, 2L, 3L))
  }
}
