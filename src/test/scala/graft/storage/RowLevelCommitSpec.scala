package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The copy-on-write row-level commit's OCC seam, driven directly: the
  * rewrite publishes `prior − scanned + staged` RELATIVE TO the snapshot
  * the scan planned on, so a commit that lands between scan and publish
  * must fail the exclusive create — not be folded into a manifest computed
  * from stale rows (which could, e.g., resurrect rows a concurrent DELETE
  * removed). The end-to-end SQL DML lifecycle runs in FileSkippingSpec;
  * this spec opens the scan→commit window by hand because it lives inside
  * a single command execution.
  */
class RowLevelCommitSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rlwh").toString
    spark.conf.set("spark.sql.catalog.rlcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rlcat.s")
    dir
  }

  test("row-level commit publishes at scan-snapshot + 1: a commit landing " +
    "between scan and publish surfaces as a conflict") {
    val dir = new Path(s"$wh/s/race")
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("rlcat.s.race").using("parquet").createOrReplace()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val op = new GraftRowLevelOperation(dir.toString, meta, "s.race",
      RowLevelOperation.Command.UPDATE)
    // plan the rewrite scan: pins scannedFiles AND the snapshot id
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val scanned = GraftCatalog.latestSnapshot(fs, dir)
    assert(op.scanSnapshot == scanned && op.scannedFiles.nonEmpty)
    // an interloper commits (e.g. a concurrent DELETE) after the scan
    GraftCatalog.writeSnapshotAt(fs, dir, scanned + 1,
      GraftCatalog.manifest(fs, dir, scanned).get, Seq.empty)
    // the row-level commit must LOSE the race loudly, not publish a
    // manifest computed from the pre-delete rows
    val e = intercept[java.io.IOException] {
      new CowBatchWrite(op, dir.toString, meta, "race-q").commit(Array.empty)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the interloper's state stands
    assert(GraftCatalog.latestSnapshot(fs, dir) == scanned + 1)
    assert(GraftCatalog.manifest(fs, dir, scanned + 1).map(_.files).get.isEmpty)
  }

  test("row-level commit without an interloper publishes at scan + 1") {
    val dir = new Path(s"$wh/s/clean")
    Seq((1L, "a")).toDF("id", "w").repartition(1)
      .writeTo("rlcat.s.clean").using("parquet").createOrReplace()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val op = new GraftRowLevelOperation(dir.toString, meta, "s.clean",
      RowLevelOperation.Command.UPDATE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val scanned = GraftCatalog.latestSnapshot(fs, dir)
    // empty staged set: commit replaces the scanned files with nothing —
    // the shape is what matters (publishes at exactly scanned + 1)
    new CowBatchWrite(op, dir.toString, meta, "clean-q").commit(Array.empty)
    assert(GraftCatalog.latestSnapshot(fs, dir) == scanned + 1)
    assert(GraftCatalog.manifest(fs, dir, scanned + 1).map(_.files).get.isEmpty)
  }

  /** Write a per-task position-delete fragment the way a
    * [[GraftPosDeltaWriter]] streams one. */
  private def writeFragment(
      fs: org.apache.hadoop.fs.FileSystem, path: Path,
      recs: Seq[(String, Long)]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(path, false)))
    try {
      out.writeUTF(GraftCatalog.PosDelFragMagic)
      recs.foreach { case (t, p) => out.writeUTF(t); out.writeLong(p) }
    } finally out.close()
  }

  test("position-delta commit loses a scan-to-publish race loudly and " +
    "leaves NO orphan sidecar behind") {
    val dir = new Path(s"$wh/s/prace")
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("rlcat.s.prace").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val target = GraftCatalog.manifest(fs, dir,
      GraftCatalog.latestSnapshot(fs, dir)).map(_.files).get.head
    val op = new GraftPosDeltaOperation(dir.toString, meta, "s.prace",
      RowLevelOperation.Command.MERGE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val scanned = GraftCatalog.latestSnapshot(fs, dir)
    assert(op.scanSnapshot == scanned)
    // a per-task delete fragment, staged exactly as a writer leaves it
    fs.mkdirs(new Path(dir, "_staging-pq"))
    writeFragment(fs, new Path(dir, "_staging-pq/_posdel-frag-0-0.bin"),
      Seq((target, 0L)))
    // interloper lands between scan and publish
    val prev = GraftCatalog.manifest(fs, dir, scanned).get
    GraftCatalog.writeSnapshotAt(fs, dir, scanned + 1, prev, prev.files)
    val e = intercept[java.io.IOException] {
      new GraftPosDeltaBatchWrite(op, dir.toString, meta, "pq").commit(
        Array(GraftPosDeltaCommitMessage(Seq.empty,
          Some("_posdel-frag-0-0.bin"), 1L)))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the consolidated sidecar written before the failed manifest must be
    // rolled back — nothing for vacuum to chase
    assert(!fs.listStatus(dir).map(_.getPath.getName)
      .exists(n => n.startsWith("_posdel-") && n.endsWith(".bin")),
      "a lost race must not leave an orphan position sidecar")
    // the interloper's state stands; the deleted row is NOT deleted
    assert(GraftCatalog.latestSnapshot(fs, dir) == scanned + 1)
    spark.catalog.refreshTable("rlcat.s.prace")
    assert(spark.table("rlcat.s.prace").count() == 2L)
  }

  test("position-delta commit refuses a delete targeting a file outside " +
    "the scanned snapshot") {
    val dir = new Path(s"$wh/s/pstray")
    Seq((1L, "a")).toDF("id", "w").repartition(1)
      .writeTo("rlcat.s.pstray").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .createOrReplace()
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val op = new GraftPosDeltaOperation(dir.toString, meta, "s.pstray",
      RowLevelOperation.Command.MERGE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    fs.mkdirs(new Path(dir, "_staging-sq"))
    writeFragment(fs, new Path(dir, "_staging-sq/_posdel-frag-0-0.bin"),
      Seq(("no-such-file.parquet", 0L)))
    val e = intercept[IllegalArgumentException] {
      new GraftPosDeltaBatchWrite(op, dir.toString, meta, "sq").commit(
        Array(GraftPosDeltaCommitMessage(Seq.empty,
          Some("_posdel-frag-0-0.bin"), 1L)))
    }
    assert(e.getMessage.contains("not in snapshot"), e.getMessage)
  }
}
