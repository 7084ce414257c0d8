package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Position-delete DML — merge-on-read for KEY-LESS tables
  * (`write.merge.mode=merge-on-read` with NO `merge.key`): rows are
  * addressed by physical identity, the `(_file, _pos)` metadata columns,
  * and SQL MERGE/UPDATE/DELETE commit `prior + new files + _posdel-*
  * sidecar` — nothing rewritten. Completes Iceberg's v2 delete-file
  * model next to the keyed path's equality deletes: reads drop
  * (file, position) matches via the same columnar selection view,
  * manifest entries carry by TARGET LIVENESS (a rewrite of the target
  * retires its entries), compaction folds them into data files, and
  * vacuum reclaims unreferenced sidecars. */
class PositionDeleteSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-poswh").toString
    spark.conf.set("spark.sql.catalog.poscat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.poscat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS poscat.s")
    dir
  }

  private def cat = spark.sessionState.catalogManager.catalog("poscat")
    .asInstanceOf[GraftCatalog]
  private def id(name: String) =
    org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), name)

  /** Key-less merge-on-read table: one data file, rows (id, w). */
  private def createPos(name: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("id", "w").repartition(1).sortWithinPartitions("id")
      .writeTo(s"poscat.s.$name").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()

  private def fsDir(name: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val dir = new Path(s"$wh/s/$name")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def manifestFiles(name: String): Seq[String] = {
    val (fs, dir) = fsDir(name)
    GraftCatalog.manifest(fs, dir,
      GraftCatalog.latestSnapshot(fs, dir)).map(_.files).get
  }

  private def posDels(name: String): Seq[(String, String, Long)] = {
    val (fs, dir) = fsDir(name)
    GraftCatalog.manifest(fs, dir, GraftCatalog.latestSnapshot(fs, dir)).toSeq.flatMap(_.posDels)
  }

  private def collectIdW(name: String): Seq[(Long, String)] =
    spark.table(s"poscat.s.$name").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("MERGE with UPDATE + DELETE + INSERT commits a position delta: " +
    "results and time travel correct, no data file rewritten") {
    wh
    createPos("p1", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val before = manifestFiles("p1").toSet
    Seq((2L, "B", "u"), (3L, "c", "d"), (4L, "D", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("p1_changes")
    spark.sql("""
      MERGE INTO poscat.s.p1 t USING p1_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("poscat.s.p1")
    assert(collectIdW("p1") == Seq((1L, "a"), (2L, "B"), (4L, "D")))
    // the merge-on-read contract: every pre-merge file is still live
    assert(before.subsetOf(manifestFiles("p1").toSet),
      "position-delta commit must not drop or rewrite existing files")
    val dels = posDels("p1")
    assert(dels.nonEmpty, "expected a position-delete sidecar entry")
    // both matched rows (id=2 updated → delete+insert, id=3 deleted)
    // deleted by physical position within the ONE original file
    assert(dels.map(_._2).distinct.size == 1,
      s"expected one delete target (the single original file), got $dels")
    val (fs, dir) = fsDir("p1")
    val pm = GraftCatalog.posDelMap(fs, dir, dels,
      manifestFiles("p1").toSet)
    assert(pm.values.map(_.toSeq).toSeq == Seq(Seq(1L, 2L)),
      s"expected physical positions 1 (id=2) and 2 (id=3) deleted, got " +
        pm.values.map(_.toSeq))
    val hist = cat.history(id("p1")).last
    assert(hist._5 == 0, s"no file removed by the delta commit, got $hist")
    // counts can't be served from footers while position deletes pend
    assert(spark.table("poscat.s.p1").count() == 3L)
    assert(spark.table("poscat.s.p1").filter(col("id") === 3L).count() == 0L)
    // pre-merge snapshot unaffected
    assert(spark.sql("SELECT * FROM poscat.s.p1 VERSION AS OF 1").count() == 3L)
  }

  test("reads with position deletes pending stay COLUMNAR and the scan " +
    "advertises the apply; survivors keep physical _pos") {
    wh
    createPos("p2", Seq.tabulate(8)(i => (i.toLong, s"w$i")))
    Seq(2L, 5L).toDF("id").createOrReplaceTempView("p2_del")
    spark.sql("""MERGE INTO poscat.s.p2 t USING p2_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("poscat.s.p2")
    val df = spark.table("poscat.s.p2")
    val batch = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the delete-applying plan"))
    assert(batch.scan.description().contains("PosDeleteApply"),
      s"expected the position-delete-applying scan, got " +
        batch.scan.description())
    assert(batch.supportsColumnar,
      "position-delete apply must not force the read row-based")
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L))
    // metadata columns compose: survivors keep their PHYSICAL index
    // (gaps at deleted positions), proving the row index is generated
    // before the positional drop, not re-counted after it
    val pos = spark.sql("SELECT id, _pos FROM poscat.s.p2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pos == Seq((0L, 0L), (1L, 1L), (3L, 3L), (4L, 4L),
      (6L, 6L), (7L, 7L)), s"got $pos")
  }

  test("UPDATE is delete + insert: the updated row carries a NEW physical " +
    "identity and the old position is tombstoned") {
    wh
    createPos("p3", Seq((1L, "a"), (2L, "b")))
    val fileBefore = spark.sql(
      "SELECT _file FROM poscat.s.p3 WHERE id = 2").head.getString(0)
    spark.sql("UPDATE poscat.s.p3 SET w = 'B' WHERE id = 2")
    spark.catalog.refreshTable("poscat.s.p3")
    assert(collectIdW("p3") == Seq((1L, "a"), (2L, "B")))
    val fileAfter = spark.sql(
      "SELECT _file FROM poscat.s.p3 WHERE id = 2").head.getString(0)
    assert(fileAfter != fileBefore,
      "an updated row is a new physical row in a new file")
    // the untouched row still serves from the original file
    assert(spark.sql("SELECT _file FROM poscat.s.p3 WHERE id = 1")
      .head.getString(0) == fileBefore)
    assert(posDels("p3").map(_._2) == Seq(fileBefore))
  }

  test("row-level DELETE commits a sidecar-only delta: zero data files " +
    "written, zero rewritten") {
    wh
    createPos("p4", Seq((1L, "ab"), (2L, "c"), (3L, "de")))
    val before = manifestFiles("p4")
    // length(w) > 1 is not translatable to a file-level drop → row-level
    spark.sql("DELETE FROM poscat.s.p4 WHERE length(w) > 1")
    spark.catalog.refreshTable("poscat.s.p4")
    assert(collectIdW("p4") == Seq((2L, "c")))
    assert(manifestFiles("p4") == before,
      "a pure DELETE delta must add no data files and drop none")
    assert(posDels("p4").nonEmpty)
  }

  test("position deletes ACCUMULATE across commits: union of sidecars " +
    "applies; a fresh append is never affected") {
    wh
    createPos("p5", Seq.tabulate(6)(i => (i.toLong, s"w$i")))
    // length(w) is untranslatable to a source filter → row-level path
    spark.sql("DELETE FROM poscat.s.p5 WHERE id IN (1, 4) AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p5")
    spark.sql("DELETE FROM poscat.s.p5 WHERE id IN (2) AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p5")
    assert(posDels("p5").map(_._1).distinct.size == 2,
      s"expected two sidecars pending, got ${posDels("p5")}")
    assert(spark.table("poscat.s.p5").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 3L, 5L))
    // rows re-appended AFTER the deletes land in a new file — position
    // identity is per-file, so they are trivially unaffected
    Seq((1L, "w1b"), (4L, "w4b")).toDF("id", "w")
      .writeTo("poscat.s.p5").append()
    spark.catalog.refreshTable("poscat.s.p5")
    assert(collectIdW("p5") == Seq((0L, "w0"), (1L, "w1b"), (3L, "w3"),
      (4L, "w4b"), (5L, "w5")))
  }

  test("compactDeletes folds position deletes into the TARGETED files " +
    "only; entries retire via target liveness and vacuum reclaims the " +
    "sidecars") {
    wh
    // two data files; delete rows of only the first
    Seq.tabulate(4)(i => (i.toLong, s"a$i")).toDF("id", "w")
      .repartition(1).sortWithinPartitions("id")
      .writeTo("poscat.s.p6").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    Seq.tabulate(4)(i => ((i + 10).toLong, s"b$i")).toDF("id", "w")
      .repartition(1).writeTo("poscat.s.p6").append()
    spark.sql("DELETE FROM poscat.s.p6 WHERE id IN (1, 2) AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p6")
    val delTarget = posDels("p6").map(_._2).distinct
    assert(delTarget.size == 1)
    val untouched = manifestFiles("p6").filterNot(delTarget.contains)
    assert(untouched.nonEmpty)

    val (rewritten, _) = cat.compactDeletes(spark, "s.p6")
    assert(rewritten == 1,
      s"compaction must rewrite exactly the delete target, got $rewritten")
    spark.catalog.refreshTable("poscat.s.p6")
    // posdel entries retired with their target; untargeted files live on
    assert(posDels("p6").isEmpty, "compaction must clear the posdel refs")
    assert(untouched.toSet.subsetOf(manifestFiles("p6").toSet),
      "files without position deletes must survive compaction untouched")
    assert(spark.table("poscat.s.p6").orderBy("id")
      .collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 3L, 10L, 11L, 12L, 13L))

    // vacuum with retention 0 reclaims the now-unreferenced sidecar
    val (fs, dir) = fsDir("p6")
    def sidecarsOnDisk: Seq[String] =
      fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.startsWith("_posdel-") && n.endsWith(".bin")).toSeq
    assert(sidecarsOnDisk.nonEmpty, "sidecar should exist before vacuum")
    cat.vacuum(id("p6"), keepLast = 1)
    assert(sidecarsOnDisk.isEmpty,
      "vacuum must GC position-delete sidecars no retained manifest references")
  }

  test("vacuum KEEPS sidecars referenced by retained manifests: pending " +
    "position deletes survive, and time travel within the window too") {
    wh
    createPos("p7", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    spark.sql("DELETE FROM poscat.s.p7 WHERE id = 2 AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p7")
    val (fs, dir) = fsDir("p7")
    cat.vacuum(id("p7"), keepLast = 2)
    assert(fs.listStatus(dir).map(_.getPath.getName)
      .exists(n => n.startsWith("_posdel-") && n.endsWith(".bin")),
      "a referenced sidecar must survive vacuum")
    assert(spark.table("poscat.s.p7").count() == 2L)
    assert(spark.sql("SELECT * FROM poscat.s.p7 VERSION AS OF 1").count() == 3L)
  }

  test("partitioned key-less table: the delta routes inserts to their " +
    "partitions and position deletes stay partition-local") {
    wh
    Seq((1L, "us", "a"), (2L, "us", "b"), (3L, "eu", "c"), (4L, "eu", "d"))
      .toDF("id", "region", "w")
      .writeTo("poscat.s.p8").using("parquet")
      .partitionedBy(col("region"))
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    val euBefore = manifestFiles("p8").filter(_.startsWith("region=eu"))
    Seq((2L, "us", "B2"), (5L, "eu", "E5"))
      .toDF("id", "region", "w").createOrReplaceTempView("p8_changes")
    spark.sql("""MERGE INTO poscat.s.p8 t USING p8_changes s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, region, w)
        VALUES (s.id, s.region, s.w)""")
    spark.catalog.refreshTable("poscat.s.p8")
    val out = spark.table("poscat.s.p8").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1L, "us", "a"), (2L, "us", "B2"), (3L, "eu", "c"),
      (4L, "eu", "d"), (5L, "eu", "E5")), s"got $out")
    // only us-partition files are delete targets; eu files untouched
    assert(posDels("p8").map(_._2).forall(_.startsWith("region=us")),
      s"deletes must target the us partition only, got ${posDels("p8")}")
    assert(euBefore.toSet.subsetOf(manifestFiles("p8").toSet))
    // inserted row landed in a region=eu file (partition routing)
    assert(manifestFiles("p8").count(_.startsWith("region=eu")) >
      euBefore.size)
  }

  test("deletedRows is the delta-sized CDC feed: the range's tombstoned " +
    "rows come off the sidecars + targeted file reads, and survive a " +
    "later compaction; pendingPositionDeletes prices the cadence") {
    wh
    createPos("p10", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(cat.pendingPositionDeletes("s.p10").isEmpty)
    spark.sql("DELETE FROM poscat.s.p10 WHERE id IN (2, 3) AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p10")
    val pend = cat.pendingPositionDeletes("s.p10")
    assert(pend.size == 1 && pend.head._3 == 2L,
      s"one (sidecar, target) entry stamped at snapshot 2, got $pend")
    // the feed: rows deleted going snapshot 1 → 2
    val fed = cat.deletedRows(spark, "s.p10", 1L, 2L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fed == Seq((2L, "b"), (3L, "c")), s"got $fed")
    // an empty range yields an empty, correctly-typed frame
    assert(cat.deletedRows(spark, "s.p10", 0L, 1L).isEmpty)
    // compaction folds the deletes into new files — the ORIGINAL target
    // still exists on disk until vacuum, so the historical feed is intact
    cat.compactDeletes(spark, "s.p10")
    spark.catalog.refreshTable("poscat.s.p10")
    assert(cat.pendingPositionDeletes("s.p10").isEmpty)
    val fedAfter = cat.deletedRows(spark, "s.p10", 1L, 2L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fedAfter == Seq((2L, "b"), (3L, "c")),
      s"feed must survive compaction within the vacuum window, got $fedAfter")
  }

  test("incremental read across a position-delta commit: added files " +
    "only, in-range deletes suppress in-range rows, out-of-range targets " +
    "are left to the consumer's earlier batches") {
    wh
    createPos("p12", Seq((1L, "a"), (2L, "b")))                 // snap 1: file A
    Seq((10L, "x"), (11L, "y")).toDF("id", "w").repartition(1)
      .writeTo("poscat.s.p12").append()                         // snap 2: file B
    // snap 3: one position delta — deletes rows in A (pre-range) AND B
    // (in-range), inserts a new row (file C)
    Seq((1L, "", "d"), (10L, "", "d"), (20L, "z", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("p12_changes")
    spark.sql("""MERGE INTO poscat.s.p12 t USING p12_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN NOT MATCHED AND s.op != 'd'
        THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("poscat.s.p12")
    // live state: 2, 11, 20
    assert(collectIdW("p12").map(_._1) == Seq(2L, 11L, 20L))
    // incr:1..3 = files added after snap 1 (B + C); B's in-range delete
    // applies (10 gone), A's delete does NOT retract rows this range
    // never served (added-rows semantics — retractions are the CDC feed)
    val incr = spark.sql(
      "SELECT id FROM poscat.s.p12 VERSION AS OF 'incr:1..3'")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(incr == Seq(11L, 20L), s"got $incr")
    // the retraction consumers need IS the position CDC feed
    assert(cat.deletedRows(spark, "s.p12", 1L, 3L)
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 10L))
  }

  test("position delete AFTER an in-range compaction: the delete addresses " +
    "the rewrite's (skipped) output file, so the incremental read serves " +
    "the pre-compaction rows un-retracted — same as per-commit polling") {
    wh
    createPos("p13", Seq((1L, "a"), (2L, "b")))                 // snap 1: file A
    val (before, after) = cat.compact(spark, "s.p13")           // snap 2: rewrite
    assert(before >= 1 && after >= 1)
    spark.catalog.refreshTable("poscat.s.p13")
    Seq(1L).toDF("id").createOrReplaceTempView("p13_del")
    spark.sql("""MERGE INTO poscat.s.p13 t USING p13_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")                              // snap 3: posdel on C
    spark.catalog.refreshTable("poscat.s.p13")
    assert(collectIdW("p13").map(_._1) == Seq(2L), "live table: id 1 deleted")
    // the position delete names a row of the COMPACTED file C, which the
    // rewrite-aware walk skips; the range serves snap 1's original file,
    // and a physical address on C cannot be translated to it. The row is
    // delivered — exactly what per-commit polling yields (batch 0..1
    // delivers it, batch 2..3 cannot retract; added-rows semantics), so
    // the one-shot range agrees with the fine-polled fold. Key-addressed
    // (equality) deletes DO still apply across the fold by the
    // add-sequence rule; retraction consumers use the CDC feed.
    val incr = spark.sql(
      "SELECT id FROM poscat.s.p13 VERSION AS OF 'incr:0..3'")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(incr == Seq(1L, 2L), s"got $incr")
    // and the CDC feed carries the retraction
    assert(cat.deletedRows(spark, "s.p13", 2L, 3L)
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(1L))
  }

  test("snapshot diff across a position-delta commit emits ROW-LEVEL " +
    "changes: the delete and both halves of the update") {
    wh
    createPos("p13", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Seq((2L, "B", "u"), (3L, "", "d"))
      .toDF("id", "w", "op").createOrReplaceTempView("p13_changes")
    spark.sql("""MERGE INTO poscat.s.p13 t USING p13_changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w""")
    spark.catalog.refreshTable("poscat.s.p13")
    val d = Snapshots.diff(spark, "poscat.s.p13", 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(d == Set(
      (2L, "b", "delete"), (2L, "B", "insert"), // update = delete + insert
      (3L, "c", "delete")), s"got $d")
  }

  test("MIXED delete families: a key-less table ALTERed to keyed keeps " +
    "its pending position deletes while new merges emit equality " +
    "deletes — one read applies both; compaction folds both") {
    wh
    createPos("p11", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // position delta while key-less
    spark.sql("DELETE FROM poscat.s.p11 WHERE id = 2 AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p11")
    assert(posDels("p11").nonEmpty)
    // declare a merge key: subsequent row-level DML is equality-based
    spark.sql("ALTER TABLE poscat.s.p11 SET TBLPROPERTIES " +
      s"('${GraftCatalog.MergeKeyProp}' = 'id')")
    Seq((3L, "C3"), (5L, "E5")).toDF("id", "w")
      .createOrReplaceTempView("p11_changes")
    spark.sql("""MERGE INTO poscat.s.p11 t USING p11_changes s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("poscat.s.p11")
    val (fs, dir) = fsDir("p11")
    val latest = GraftCatalog.latestSnapshot(fs, dir)
    assert(GraftCatalog.manifest(fs, dir, latest).toSeq.flatMap(_.eqDels).nonEmpty,
      "the keyed merge must land an equality-delete sidecar")
    assert(GraftCatalog.manifest(fs, dir, latest).toSeq.flatMap(_.posDels).nonEmpty,
      "the older position sidecar must still be pending")
    // one read applies BOTH families
    assert(collectIdW("p11") == Seq((1L, "a"), (3L, "C3"), (4L, "d"),
      (5L, "E5")))
    val batch = spark.table("poscat.s.p11").queryExecution.executedPlan
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    assert(batch.scan.description().contains("PosDeleteApply") &&
      batch.scan.description().contains("EqDeleteApply"),
      s"both applies expected, got ${batch.scan.description()}")
    // compaction folds both families in one pass
    val (rew, _) = cat.compactDeletes(spark, "s.p11")
    assert(rew > 0)
    spark.catalog.refreshTable("poscat.s.p11")
    assert(posDels("p11").isEmpty &&
      GraftCatalog.manifest(fs, dir,
        GraftCatalog.latestSnapshot(fs, dir)).toSeq.flatMap(_.eqDels).isEmpty)
    assert(collectIdW("p11") == Seq((1L, "a"), (3L, "C3"), (4L, "d"),
      (5L, "E5")))
  }

  test("UNPARTITIONED key-less MERGE coalesces its delta: a many-task " +
    "source lands ~one replacement file, not one per task") {
    wh
    createPos("p14", Seq.tabulate(40)(i => (i.toLong, s"w$i")))
    val before = manifestFiles("p14").size
    Seq.tabulate(10)(i => (i.toLong * 4, s"U$i")).toDF("id", "w")
      .repartition(8) // 8 upstream tasks — must NOT mean 8 output files
      .createOrReplaceTempView("p14_changes")
    spark.sql("""MERGE INTO poscat.s.p14 t USING p14_changes s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET w = s.w""")
    spark.catalog.refreshTable("poscat.s.p14")
    val added = manifestFiles("p14").size - before
    assert(added >= 1 && added <= 2,
      s"the clustered distribution must coalesce the delta write, got $added files")
    assert(spark.table("poscat.s.p14").filter(col("id") === 4L)
      .head.getString(1) == "U1")
  }

  test("scheme-qualified warehouse: position deletes still apply on a " +
    "partitioned table, and compaction + the CDC feed resolve the same " +
    "relative paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poswh2").toString
    spark.conf.set("spark.sql.catalog.poscat2", classOf[GraftCatalog].getName)
    // file:-qualified warehouse — partition file paths come back
    // scheme-stripped, so every path-keyed structure (sidecar targets,
    // the reader's rel-path resolution, the CDC feed's substring) must
    // normalize the same way
    spark.conf.set("spark.sql.catalog.poscat2.warehouse", s"file:$dir")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS poscat2.s")
    Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"))
      .toDF("id", "p", "w").repartition(1)
      .writeTo("poscat2.s.psq").using("parquet")
      .partitionedBy(col("p"))
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace() // key-less
    spark.sql("DELETE FROM poscat2.s.psq WHERE id = 2 AND length(w) > 0")
    spark.catalog.refreshTable("poscat2.s.psq")
    val out = spark.table("poscat2.s.psq").orderBy("id")
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L),
      s"position delete must apply under a scheme-qualified warehouse, got $out")
    val cat2 = spark.sessionState.catalogManager.catalog("poscat2")
      .asInstanceOf[GraftCatalog]
    val fed = cat2.deletedRows(spark, "s.psq", 1L, 2L)
      .collect().map(_.getLong(0)).toSeq
    assert(fed == Seq(2L), s"CDC feed under scheme-qualified paths: $fed")
    val (rew, _) = cat2.compactDeletes(spark, "s.psq")
    assert(rew == 1, s"targeted compaction must rewrite 1 file, got $rew")
    spark.catalog.refreshTable("poscat2.s.psq")
    assert(spark.table("poscat2.s.psq").orderBy("id")
      .select("id").as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("narrow projection and pushed filter through the position apply: " +
    "pruning still reaches parquet, results correct") {
    wh
    createPos("p9", Seq.tabulate(20)(i => (i.toLong, s"w$i")))
    spark.sql("DELETE FROM poscat.s.p9 WHERE id IN (3, 15) AND length(w) > 0")
    spark.catalog.refreshTable("poscat.s.p9")
    assert(posDels("p9").nonEmpty)
    val df = spark.table("poscat.s.p9").filter(col("id") >= 10).select("w")
    assert(df.collect().map(_.getString(0)).toSet ==
      (10 to 19).filterNot(_ == 15).map(i => s"w$i").toSet)
    assert(spark.table("poscat.s.p9").agg(sum("id")).head.getLong(0) ==
      (0L until 20L).sum - 3L - 15L)
  }

  test("insert-heavy key-less MERGE does not serialize into one write " +
    "task: the advisory partition size splits the null-_file bucket") {
    wh
    // multi-file seed: rebalance splits at MAP-OUTPUT granularity, so the
    // upstream merge stage needs >1 task for the null bucket to be
    // splittable at all (at scale it always is)
    spark.range(4000).selectExpr("id + 1000000 AS id", "'seed' AS w")
      .repartition(4)
      .writeTo("poscat.s.p11").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    // every inserted row hashes to the null `_file` rowId bucket; with an
    // advisory far below the insert volume, AQE must split that bucket
    // across write tasks (at map-output granularity) instead of funneling
    // ~20k rows through a single task — the at-scale shape of an
    // insert-heavy MERGE into an unpartitioned key-less table
    spark.sql(s"""ALTER TABLE poscat.s.p11 SET TBLPROPERTIES
      ('${GraftCatalog.AdvisoryWriteBytesProp}' = '8192')""")
    spark.range(20000).selectExpr("id", "repeat('w', 20) AS w")
      .createOrReplaceTempView("p11_inserts")
    val before = manifestFiles("p11").size
    // rebalance splits at map-output granularity; at test volume AQE
    // would coalesce the upstream join to ONE task (making the bucket a
    // single unsplittable chunk), which at scale never happens — pin the
    // upstream task count by disabling coalescing for the merge only
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      spark.sql("""
        MERGE INTO poscat.s.p11 t USING p11_inserts s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET w = s.w
        WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    spark.catalog.refreshTable("poscat.s.p11")
    assert(spark.table("poscat.s.p11").count() == 24000L)
    val added = manifestFiles("p11").size - before
    assert(added >= 2,
      s"expected the insert bucket to split across write tasks, got $added file(s)")
  }

  test("posIdentityJoin fails loudly when the table dir does not prefix " +
    "the scanned file path — a normalization miss must not resurrect rows") {
    wh
    createPos("p10", Seq((1L, "a"), (2L, "b")))
    val (_, dir) = fsDir("p10")
    val raw = spark.read.parquet(dir.toString)
    def dirPath(d: Path): String = d.toUri.getPath.stripSuffix("/") + "/"
    // correct dir: the join resolves and drops the targeted position
    val ok = GraftCatalog.posIdentityJoin(spark,
      GraftCatalog.attachPosIdentity(raw, dirPath(dir)),
      Map(manifestFiles("p10").head -> Array(0L)), "left_anti")
    assert(ok.count() == 1L)
    // a dir that can never prefix the metadata path: the old spelling
    // sliced substr(0 + len) garbage and silently kept every deleted row;
    // the guard must abort the scan instead
    val bad = GraftCatalog.posIdentityJoin(spark,
      GraftCatalog.attachPosIdentity(raw,
        dirPath(new Path("/graft-no-such-warehouse/elsewhere"))),
      Map(manifestFiles("p10").head -> Array(0L)), "left_anti")
    val e = intercept[Exception] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("does not contain table dir")),
      s"expected the loud normalization-miss error, got: $e")
  }
}
