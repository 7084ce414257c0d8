package graft.storage

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** Local filesystem under the `graftfault://` scheme with two armed
  * faults: a main-lineage manifest stream that throws on close() after
  * its bytes landed (a failure AFTER the exclusive create succeeded), and
  * a callback run once before the first promotion rename out of a
  * staging dir (a concurrent commit landing inside the promote → commit
  * window). It also counts the opens of each main-lineage manifest. */
class FaultInjectingFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfault:///")
}) {
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!FaultInjectingFs.failManifestClose || !f.getName.startsWith("_snap-")) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = {
        out.close()
        throw new java.io.IOException(s"injected close failure on $f")
      }
    }, null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.startsWith("_snap-"))
      FaultInjectingFs.manifestOpens.computeIfAbsent(f.toUri.getPath,
        _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (src.toString.contains("/_stag"))
      Option(FaultInjectingFs.beforePromote.getAndSet(null)).foreach(_.apply())
    super.rename(src, dst)
  }
}

object FaultInjectingFs {
  @volatile var failManifestClose = false
  val beforePromote = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
  /** Opens per main manifest, keyed by path. */
  val manifestOpens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
}

/** The table log is the one place a table changes: every manifest, ref
  * and tag is created exclusively there, and every staged file is
  * promoted there. A lost race removes what the losing commit promoted;
  * any other failure after the create keeps it, because the manifest may
  * already list it. */
class TableLogSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    // stat-based status loading: the deprecated status path loads
    // permissions through new File(path.toUri), which requires scheme "file"
    RawLocalFileSystem.useStatIfAvailable()
    spark.sparkContext.hadoopConfiguration.set(
      "fs.graftfault.impl", classOf[FaultInjectingFs].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "fs.graftfault.impl.disable.cache", true)
    val dir = java.nio.file.Files.createTempDirectory("graft-tablelog").toString
    spark.conf.set("spark.sql.catalog.tlcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tlcat.warehouse", s"graftfault://$dir")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tlcat.s")
    dir
  }

  private def cat = spark.sessionState.catalogManager.catalog("tlcat")
    .asInstanceOf[GraftCatalog]

  private def tableDir(name: String) = new Path(s"graftfault://$wh/s/$name")

  private def fsOf(dir: Path): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files on disk that no retained manifest lists. */
  private def orphans(fs: FileSystem, dir: Path): Seq[String] = {
    val listed = (1L to GraftCatalog.latestSnapshot(fs, dir))
      .flatMap(GraftCatalog.manifest(fs, dir, _).map(_.files).getOrElse(Seq.empty)).toSet
    GraftCatalog.listDataFiles(fs, dir).filterNot(listed)
  }

  /** `body`'s result, and how often it opened the latest main manifest
    * of `dir` as it stood before `body` ran. */
  private def latestOpens[T](dir: Path)(body: => T): (T, Int) = {
    val latest = new Path(dir,
      s"_snap-${GraftCatalog.latestSnapshot(fsOf(dir), dir)}.manifest").toUri.getPath
    FaultInjectingFs.manifestOpens.clear()
    val out = body
    (out, Option(FaultInjectingFs.manifestOpens.get(latest)).fold(0)(_.get))
  }

  /** Writes `rows` as one parquet file under `dir/rel`, where the
    * catalog's writers stage a file for promotion; returns its name. */
  private def stage(dir: Path, rel: String, rows: Seq[(Long, String)]): String = {
    val src = java.nio.file.Files.createTempDirectory("graft-tl-staged").toString
    rows.toDF("id", "w").repartition(1).write.mode("overwrite").parquet(src)
    val part = new java.io.File(src).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    fsOf(dir).copyFromLocalFile(new Path(part.getAbsolutePath),
      new Path(dir, s"$rel/${part.getName}"))
    part.getName
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a manifest entry whose field is not base64 is skipped, not fatal") {
    val m = Manifest.parse(Seq(
      // the second stats column's max is "|", which no base64 decodes
      "# stats:YS5wYXJxdWV0=aWQ|l|0|NQ|OQ;Yw|r|3|||",
      "# stats:!!=aWQ|l|0|NQ|OQ",
      "# add:!!!=1",
      "# add:YS5wYXJxdWV0=1",
      "# eqdel:!!=2",
      "# posdel:X3Bvc2RlbC0xLmJpbg:!!=1",
      "a.parquet"))
    assert(m.files == Seq("a.parquet"))
    assert(m.stats == Map("a.parquet" -> Map("id" -> GraftCatalog.ColStat("l", 0L, "5", "9"))))
    assert(m.addSeq == Map("a.parquet" -> 1L))
    assert(m.eqDels.isEmpty && m.posDels.isEmpty)
  }

  test("a lost exclusive create is a typed CommitConflict on every lineage " +
    "and for refs and tags") {
    val dir = new Path(java.nio.file.Files.createTempDirectory("graft-tl").toString)
    val fs = fsOf(dir)
    GraftCatalog.writeSnapshotAt(fs, dir, 1L, Manifest.empty, Seq("a.parquet"))
    val main = intercept[GraftCatalog.CommitConflict] {
      GraftCatalog.writeSnapshotAt(fs, dir, 1L, Manifest.empty, Seq("b.parquet"))
    }
    assert(main.getMessage.contains("concurrent commit"))
    GraftCatalog.createRef(fs, dir, "dev", 1L, tag = false)
    GraftCatalog.commitBranch(fs, dir, "dev", 1L, Seq("c.parquet"), Map.empty)
    val branch = intercept[GraftCatalog.CommitConflict] {
      GraftCatalog.commitBranch(fs, dir, "dev", 1L, Seq("d.parquet"), Map.empty)
    }
    assert(branch.getMessage.contains("concurrent commit detected on branch 'dev'"))
    GraftCatalog.createRef(fs, dir, "v1", 1L, tag = true)
    val tag = intercept[GraftCatalog.CommitConflict] {
      GraftCatalog.createRef(fs, dir, "v1", 1L, tag = true)
    }
    assert(tag.getMessage.contains("tag 'v1' already exists"))
    // the winners stand
    assert(GraftCatalog.manifest(fs, dir, 1L).map(_.files).get == Seq("a.parquet"))
    assert(GraftCatalog.branchHeadFiles(fs, dir, "dev").get == Seq("c.parquet"))
    assert(GraftCatalog.listRefs(fs, dir) ==
      Seq(("branch", "dev", 1L), ("tag", "v1", 1L)))
  }

  test("a manifest close failure after the create keeps the files a " +
    "copy-on-write DELETE promoted") {
    wh
    Seq.tabulate(50)(i => (i.toLong, s"w$i")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.closecow").using("parquet").createOrReplace()
    val dir = tableDir("closecow")
    val fs = fsOf(dir)
    val before = GraftCatalog.latestSnapshot(fs, dir)
    FaultInjectingFs.failManifestClose = true
    val e =
      try intercept[java.io.IOException] {
        cat.deleteWhere(spark, "s.closecow", col("id") === 7L)
      } finally FaultInjectingFs.failManifestClose = false
    assert(!e.isInstanceOf[GraftCatalog.CommitConflict], e)
    assert(e.getMessage.contains("injected close failure"), e.getMessage)
    // the create succeeded: the manifest exists and names the promoted file
    assert(GraftCatalog.latestSnapshot(fs, dir) == before + 1)
    val live = GraftCatalog.manifest(fs, dir, before + 1).map(_.files).get
    assert(live.exists(_.startsWith("del-")), live)
    live.foreach(f => assert(fs.exists(new Path(dir, f)), s"$f is listed but gone"))
    spark.catalog.refreshTable("tlcat.s.closecow")
    assert(spark.table("tlcat.s.closecow").count() == 49L)
  }

  test("a manifest close failure after the create keeps a merge-on-read " +
    "MERGE's promoted data file and its delete sidecar") {
    wh
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.closemor").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    Seq((2L, "B"), (4L, "D")).toDF("id", "w").createOrReplaceTempView("tl_changes")
    val dir = tableDir("closemor")
    val fs = fsOf(dir)
    val before = GraftCatalog.latestSnapshot(fs, dir)
    FaultInjectingFs.failManifestClose = true
    val e =
      try intercept[Exception] {
        spark.sql("""
          MERGE INTO tlcat.s.closemor t USING tl_changes s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET w = s.w
          WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
      } finally FaultInjectingFs.failManifestClose = false
    assert(causes(e).exists(c => String.valueOf(c.getMessage)
      .contains("injected close failure")), e)
    assert(!causes(e).exists(_.isInstanceOf[GraftCatalog.CommitConflict]), e)
    val after = GraftCatalog.latestSnapshot(fs, dir)
    assert(after == before + 1)
    val sidecars = GraftCatalog.manifest(fs, dir, after).toSeq.flatMap(_.eqDels).filter(_._2 == after)
    assert(sidecars.size == 1, sidecars)
    sidecars.foreach { case (sc, _) =>
      assert(fs.exists(new Path(dir, sc)), s"sidecar $sc is listed but gone") }
    GraftCatalog.manifest(fs, dir, after).map(_.files).get.foreach(f =>
      assert(fs.exists(new Path(dir, f)), s"$f is listed but gone"))
    spark.catalog.refreshTable("tlcat.s.closemor")
    assert(spark.table("tlcat.s.closemor").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("a DSv2 append that loses the race leaves no orphan data file") {
    wh
    Seq((1L, "a")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.appendrace").using("parquet").createOrReplace()
    val dir = tableDir("appendrace")
    val fs = fsOf(dir)
    val read = GraftCatalog.latestSnapshot(fs, dir)
    // another writer commits read + 1 after the append read the head
    FaultInjectingFs.beforePromote.set { () =>
      val prev = GraftCatalog.manifest(fs, dir, read).get
      GraftCatalog.writeSnapshotAt(fs, dir, read + 1, prev, prev.files)
    }
    val e =
      try intercept[Exception] {
        Seq((2L, "b"), (3L, "c")).toDF("id", "w").repartition(2)
          .writeTo("tlcat.s.appendrace").append()
      } finally FaultInjectingFs.beforePromote.set(null)
    assert(causes(e).exists(_.isInstanceOf[GraftCatalog.CommitConflict]), e)
    assert(GraftCatalog.latestSnapshot(fs, dir) == read + 1)
    assert(orphans(fs, dir).isEmpty, s"orphans: ${orphans(fs, dir)}")
    assert(!fs.listStatus(dir).exists(_.getPath.getName.startsWith("_staging-")))
  }

  test("a copy-on-write row-level commit that loses the race leaves no " +
    "orphan data file") {
    wh
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.cowrace").using("parquet").createOrReplace()
    val dir = tableDir("cowrace")
    val fs = fsOf(dir)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val op = new GraftRowLevelOperation(dir.toString, meta, "s.cowrace",
      RowLevelOperation.Command.UPDATE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val scanned = op.scanSnapshot
    // a replacement file, staged exactly where the catalog writer puts it
    val src = java.nio.file.Files.createTempDirectory("graft-tl-staged").toString
    Seq((1L, "A"), (2L, "b")).toDF("id", "w").repartition(1)
      .write.mode("overwrite").parquet(src)
    val part = new java.io.File(src).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    fs.copyFromLocalFile(new Path(part.getAbsolutePath),
      new Path(dir, s"_staging-cq/${part.getName}"))
    // the interloper commits scan + 1 first
    GraftCatalog.writeSnapshotAt(fs, dir, scanned + 1,
      GraftCatalog.manifest(fs, dir, scanned).get, Seq.empty)
    val e = intercept[GraftCatalog.CommitConflict] {
      new CowBatchWrite(op, dir.toString, meta, "cq")
        .commit(Array(GraftCommitMessage(Seq(("", part.getName)))))
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(GraftCatalog.manifest(fs, dir, scanned + 1).map(_.files).get.isEmpty)
    assert(orphans(fs, dir).isEmpty, s"orphans: ${orphans(fs, dir)}")
    assert(!fs.exists(new Path(dir, part.getName)))
    assert(!fs.exists(new Path(dir, "_staging-cq")))
  }

  test("every manifest, ref and tag write and every promotion sits in the " +
    "table-log section") {
    val dir = new java.io.File("src/main/scala/graft/storage")
    assert(dir.isDirectory, dir)
    val begin = "// ── table log ──"
    val end = "// ── end of table log ──"
    val nameLiteral = "\"[^\"]*_b?snap-".r
    val create = "\\.create\\(".r
    val refName = "(?i)manifest|_ref-|_tag-|refFile|tagFile".r
    val rename = "\\.rename\\(".r
    // renameTable moves the whole table directory, not a file into it
    val renameTable = "fs.rename(tableDir(oldIdent), tableDir(newIdent))"
    var sections = 0
    val inside = scala.collection.mutable.ArrayBuffer.empty[String]
    val hits = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .sortBy(_.getName).flatMap { f =>
        var in = false
        java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            val t = line.trim
            if (t.startsWith(begin)) { in = true; sections += 1; None }
            else if (t.startsWith(end)) { in = false; None }
            else if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) None
            else if (in) { inside += t; None }
            else {
              val bad = nameLiteral.findFirstIn(line).isDefined ||
                (create.findFirstIn(line).isDefined && refName.findFirstIn(line).isDefined) ||
                (rename.findFirstIn(line).isDefined && t != renameTable)
              if (bad) Some(s"${f.getName}:${i + 1}: $t") else None
            }
        }
      }
    assert(sections == 1, s"expected one table-log section, found $sections")
    assert(hits.isEmpty, hits.mkString("\n"))
    // the section is where they went, not nowhere
    assert(inside.exists(l => create.findFirstIn(l).isDefined && l.contains("false")))
    assert(inside.exists(l => rename.findFirstIn(l).isDefined))
    assert(inside.exists(l => nameLiteral.findFirstIn(l).isDefined))
  }

  test("delete compaction, layout migration, a copy-on-write DELETE and a " +
    "merge-on-read MERGE's scan and commit each open the latest manifest once") {
    wh
    // delete compaction folding one pending equality delete
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.opendel").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    spark.sql("DELETE FROM tlcat.s.opendel WHERE id = 2 AND length(w) > 0")
    val (compacted, compactOpens) =
      latestOpens(tableDir("opendel"))(cat.compactDeletes(spark, "s.opendel"))
    assert(compacted == ((1, 0)))
    assert(compactOpens == 1, s"compactDeletes opened it $compactOpens times")

    // layout migration of one legacy flat file
    Seq((1L, "us"), (2L, "de")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.openmig").using("parquet").createOrReplace()
    spark.sql("ALTER TABLE tlcat.s.openmig SET TBLPROPERTIES " +
      s"('${GraftCatalog.PartitionByProp}' = 'w')")
    Seq((3L, "fr")).toDF("id", "w").writeTo("tlcat.s.openmig").append()
    val (migrated, migrateOpens) =
      latestOpens(tableDir("openmig"))(cat.migrateLayout(spark, "s.openmig"))
    assert(migrated == ((1, 1)))
    assert(migrateOpens == 1, s"migrateLayout opened it $migrateOpens times")

    // copy-on-write DELETE rewriting one file
    Seq.tabulate(20)(i => (i.toLong, s"w$i")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.opencow").using("parquet").createOrReplace()
    val (deleted, deleteOpens) = latestOpens(tableDir("opencow"))(
      cat.deleteWhere(spark, "s.opencow", col("id") === 7L))
    assert(deleted == ((1, 0, 1L)))
    assert(deleteOpens == 1, s"deleteWhere opened it $deleteOpens times")

    // merge-on-read MERGE: the rewrite scan with its pushed ON condition,
    // then the delta commit of one replacement row and its delete key
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("tlcat.s.openmor").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    val dir = tableDir("openmor")
    val fs = fsOf(dir)
    val meta = GraftCatalog.readMeta(fs, dir).get
    val on = spark.table("tlcat.s.openmor").filter(col("id") === 2L)
      .queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.get
    val file = stage(dir, "_staging-mq", Seq((2L, "B")))
    val key = UnsafeProjection.create(Array[DataType](LongType))
      .apply(InternalRow(2L)).getBytes
    GraftCatalog.writeEqDelSidecar(fs, new Path(dir, "_staging-mq/_eqdel-frag-0-0.bin"),
      Seq("id"), Iterator(key))
    val (_, mergeOpens) = latestOpens(dir) {
      val op = new GraftDeltaOperation(dir.toString, meta, "s.openmor",
        RowLevelOperation.Command.MERGE, Seq("id"), None)
      val scan = op.newScanBuilder(CaseInsensitiveStringMap.empty())
        .asInstanceOf[CowScanBuilder]
      scan.pushFilters(Seq(on))
      scan.build()
      new GraftDeltaBatchWrite(op, dir.toString, meta, Seq("id"), "mq").commit(
        Array(GraftDeltaCommitMessage(Seq(("", file)), Some("_eqdel-frag-0-0.bin"), 1L)))
    }
    assert(mergeOpens == 1, s"the MERGE's scan and commit opened it $mergeOpens times")
    spark.catalog.refreshTable("tlcat.s.openmor")
    assert(spark.table("tlcat.s.openmor").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "B")))
  }
}
