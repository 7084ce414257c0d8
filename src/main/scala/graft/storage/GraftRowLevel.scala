package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level operations — what makes SQL
  * `UPDATE` and `MERGE INTO` work against the catalog (Spark's
  * `SupportsRowLevelOperations` contract; `DELETE` keeps its faster
  * [[GraftTable]] `SupportsDelete` path whenever the condition translates,
  * via Spark's own metadata-only-delete optimization, and falls back here
  * only for untranslatable predicates).
  *
  * The shape is Iceberg's copy-on-write without runtime filtering:
  *
  *  - the REWRITE SCAN receives the command's condition as pushed filters
  *    and uses them for FILE-set pruning only (manifest stats + the bloom
  *    index — the same machinery every read gets). It claims NOTHING as
  *    exactly pushed, so Spark re-evaluates the condition row-side and
  *    every surviving file is read WHOLE — copy-on-write must see the
  *    non-matching rows of touched files too;
  *  - the scan records the exact file set it planned on the shared
  *    operation instance;
  *  - the WRITE stages replacement files through the catalog's own
  *    [[GraftWriterFactory]] (hive partition routing, bucket routing,
  *    target file sizing — rewritten rows land exactly like written
  *    rows), and its commit publishes `prior − scanned + staged` as one
  *    OCC'd snapshot: the old state stays time-travelable, a conflicting
  *    writer surfaces loudly.
  *
  * An UPDATE with a pushable WHERE therefore rewrites only the files that
  * may hold matches; a MERGE (whose ON condition is not a static filter)
  * rewrites the table's live set — the documented copy-on-write
  * worst case, correct and loud rather than subtly partial. */
private[storage] class GraftRowLevelOperation(
    dir: String,
    meta: GraftTableMeta,
    tableName: String,
    cmd: RowLevelOperation.Command,
    eqDel: Option[org.apache.spark.sql.graftshim.EqDeleteSpec] = None)
  extends RowLevelOperation {

  /** The session that planned this operation, captured at construction
    * (analysis/planning runs on the query's own thread, where the
    * thread-local `SparkSession.active` is reliably the right session).
    * Everything downstream — scan planning, writer-factory Hadoop-conf
    * capture, commit-side filesystem resolution — reads THIS handle
    * instead of re-reading the thread-local later, when physical
    * execution may be on a different thread (AQE pools, broadcast
    * materialization) pointing at a different session. */
  private[storage] val spark: SparkSession = SparkSession.active

  /** Table-dir-relative files the rewrite scan planned — what commit
    * replaces. Set exactly once, when the scan is built. */
  @volatile private[storage] var scannedFiles: Seq[String] = Seq.empty

  /** Snapshot id the rewrite scan planned against. Commit publishes at
    * exactly this+1 so a concurrent commit that lands between scan and
    * commit fails the exclusive create instead of being silently folded
    * into a manifest computed from stale rows (e.g. resurrecting rows a
    * concurrent DELETE removed). -1 until the scan is built. */
  @volatile private[storage] var scanSnapshot: Long = -1L

  /** The manifest of [[scanSnapshot]] as the scan read it (None: a legacy
    * table, whose live set is listed) — the commit's prior state. */
  @volatile private[storage] var scanManifest: Option[Manifest] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftCowOperation($cmd, $tableName)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(this, dir, meta, options, eqDel)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new CowBatchWrite(GraftRowLevelOperation.this, dir, meta,
            info.queryId())
      }
    }
}

/** The rewrite-side scan builder: prunes the FILE set against pushed
  * predicates (stats + blooms) but never lets a predicate reach row or
  * row-group filtering — `pushedFilters()` stays empty, so Spark keeps
  * the whole condition post-scan and touched files are read in full. */
private[storage] final class CowScanBuilder(
    op: GraftRowLevelOperation,
    dir: String,
    meta: GraftTableMeta,
    options: CaseInsensitiveStringMap,
    eqDel: Option[org.apache.spark.sql.graftshim.EqDeleteSpec] = None)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private val spark = op.spark
  private val root = new Path(dir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val (scanSnapshot, scanManifest) = GraftCatalog.head(fs, root, None)
  private val snap = scanManifest.getOrElse(Manifest.empty)
  private val live: Seq[String] = GraftCatalog.liveFiles(fs, root, scanManifest)
  // The pending-delete spec is RE-DERIVED at scanSnapshot rather than
  // taken from table-load time (`eqDel`): a delta commit landing between
  // table resolution and scan planning would otherwise give a
  // mixed-snapshot rewrite — planned over the newer live set but applying
  // the older delete set — and since commit OCC pins to scanSnapshot the
  // in-between deletes would be silently resurrected by the rewrite. The
  // load-time spec only contributes its key columns as a fallback for a
  // table whose merge.key property was since dropped (sidecar headers
  // self-validate the columns either way).
  private val eqDelAtScan: Option[org.apache.spark.sql.graftshim.EqDeleteSpec] = {
    val dels = snap.eqDels
    if (dels.isEmpty) None
    else {
      val keyCols = meta.properties.get(GraftCatalog.MergeKeyProp)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .orElse(eqDel.map(_.keyCols))
        .getOrElse(throw new IllegalStateException(
          s"$dir has pending equality deletes but no ${GraftCatalog.MergeKeyProp}"))
      val entries = dels.flatMap { case (rel, at) =>
        GraftCatalog.readEqDelSidecar(fs, new Path(root, rel), keyCols)
          .map(_ -> at)
      }
      Some(org.apache.spark.sql.graftshim.EqDeleteSpec(
        keyCols, entries, snap.addSeq, dir,
        fileKeyRange = GraftCatalog.eqDelKeyRanges(snap.stats, keyCols)))
    }
  }
  // Pending POSITION deletes at the scan snapshot (key-less merge-on-read
  // tables): the rewrite scan must not serve physically-deleted rows — a
  // stale row would re-match the MERGE source, and a position-delta
  // commit would then stamp the wrong surviving positions.
  private val posAtScan: Map[String, Array[Long]] =
    GraftCatalog.posDelMap(fs, root, snap.posDels, live.toSet)
  private var kept: Seq[String] = live
  private var requiredSchema: Option[StructType] = None

  import org.apache.spark.sql.graftshim.FileMetaCols

  /** `_file`/`_pos` metadata columns Spark resolved into the rewrite
    * read (the rowId of position-delta operations). Synthesized by the
    * wrapper scan, never handed to the parquet delegate. */
  private def metaRequested: Seq[String] =
    org.apache.spark.sql.graftshim.DeleteWrap.metaRequested(requiredSchema)

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = Some(requiredSchema)

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val translated = filters.flatMap(
      org.apache.spark.sql.graftshim.Spj.translateFilter)
    if (translated.nonEmpty) {
      val blooms = GraftCatalog.readBloomIndex(fs, root)
      // prune by the scanned snapshot's stats, the state the commit
      // replaces; virtual partition-column stats from each file's dir
      // path scope an UPDATE on a partition to that partition's files
      kept = live.filter(f => FileStatsPruning.mayMatchAll(
        GraftCatalog.fileStats(f, meta, snap.stats),
        blooms.getOrElse(f, Map.empty), translated))
    }
    filters // nothing claimed: the condition must run row-side, post-scan
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def build(): Scan = {
    op.scannedFiles = kept
    op.scanSnapshot = scanSnapshot
    op.scanManifest = scanManifest
    val prefix = dir.stripSuffix("/") + "/"
    val paths =
      if (kept.nonEmpty) kept.map(f => s"$prefix$f")
      else {
        // empty rewrite set: serve the hidden always-empty dir so the
        // scan can build; commit then replaces nothing
        val empty = new Path(root, "_empty")
        fs.mkdirs(empty)
        Seq(empty.toString)
      }
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("basePath", dir))
    // pending equality deletes: the rewrite scan must not see deleted
    // rows (a stale row would re-match the MERGE source or be copied
    // back by the rewrite) — force the key columns into the read and
    // wrap with the same row-side apply every table read gets. `_file`/
    // `_pos` (the position-delta rowId) and pending position deletes ride
    // the same wrapper ([[org.apache.spark.sql.graftshim.DeleteWrap]] —
    // ONE definition shared with the table read path, so the rewrite
    // scan and the table scan can never disagree about which rows exist).
    val requested = requiredSchema.getOrElse(meta.schema)
    val parquetSchema = org.apache.spark.sql.graftshim.DeleteWrap
      .parquetSchema(requested, meta.schema, eqDelAtScan, posAtScan)
    def groupScan(servedPaths: Seq[String]): Scan = {
      val pt = ParquetTable(s"cow-rewrite", spark, opts, servedPaths,
        Some(meta.schema), classOf[ParquetFileFormat])
      val underlying = ParquetScanBuilder(
        spark, pt.fileIndex, pt.schema, pt.dataSchema, opts)
      underlying.pruneColumns(parquetSchema)
      underlying.build()
    }
    // The INITIAL build fixes the rewrite plan's output attribute order;
    // every runtime-filter rebuild must keep producing rows in exactly
    // that order. A mixed-layout initial build wraps canonically (to
    // `requested`), so once mixed, EVERY rebuild wraps — even one whose
    // pruned file set collapsed back to a single layout, whose bare
    // delegate would move partition columns to the end and silently
    // misalign rows with the already-planned output attributes.
    val canonicalFromStart =
      kept.map(GraftCatalog.layoutOf).distinct.size > 1
    def rebuild(files: Seq[String]): Scan = {
      // a partition-evolved table's rewrite set may span directory
      // layouts — plan one parquet delegate per layout group (a single
      // mixed-depth file index fails hive inference) and union them
      // canonically, exactly like the table read path
      val groups = files.groupBy(GraftCatalog.layoutOf).toSeq
        .sortBy(_._1.mkString("/"))
      if (groups.size > 1 || (canonicalFromStart && files.nonEmpty)) {
        org.apache.spark.sql.graftshim.EvolvedUnionScan(
          groups.map { case (_, fsq) =>
            org.apache.spark.sql.graftshim.DeleteWrap.wrap(
              groupScan(fsq.map(f => s"$prefix$f")),
              requested, eqDelAtScan, posAtScan, dir)
          })
      } else {
        val servedPaths =
          if (files.nonEmpty) files.map(f => s"$prefix$f")
          else {
            // empty (possibly runtime-filtered-to-nothing) rewrite set:
            // serve the hidden always-empty dir so the scan can build
            val empty = new Path(root, "_empty")
            fs.mkdirs(empty)
            Seq(empty.toString)
          }
        val scan = groupScan(servedPaths)
        if (eqDelAtScan.isEmpty && posAtScan.isEmpty && metaRequested.isEmpty &&
            !canonicalFromStart)
          scan
        else
          org.apache.spark.sql.graftshim.DeleteWrap.wrap(
            scan, requested, eqDelAtScan, posAtScan, dir)
      }
    }
    val base = rebuild(kept)
    // RUNTIME GROUP FILTERING (identity-partitioned tables, group-based
    // ops only — delta ops never replace files): Spark's
    // RowLevelOperationRuntimeGroupFiltering injects the DISTINCT
    // partition values of the rows the command actually MATCHES, and the
    // scan narrows its file set — AND the commit's replace set — to the
    // partitions holding them. A MERGE whose source touches one
    // partition stops rewriting the cold ones.
    if (meta.bucket.isEmpty && meta.partitionCols.nonEmpty &&
      !op.isInstanceOf[org.apache.spark.sql.connector.write.SupportsDelta])
      new GroupFilterableScan(op, meta, kept, base, rebuild)
    else base
  }
}

/** The group-based rewrite scan behind Spark's runtime group filtering
  * (`SupportsRuntimeV2Filtering`): `filterAttributes` reports the
  * table's identity partition columns; at runtime Spark hands back
  * `In(partitionCol, <distinct values of the matched rows>)` and the
  * scan re-prunes its planned file set by the virtual partition-path
  * stats — narrowing BOTH the read and, via `op.scannedFiles`, the file
  * set the commit replaces. Conservative by construction: a pruned file
  * provably holds no matching row, so its untouched survival is exactly
  * copy-on-write semantics. */
private[storage] final class GroupFilterableScan(
    op: GraftRowLevelOperation,
    meta: GraftTableMeta,
    initialFiles: Seq[String],
    initialScan: Scan,
    rebuild: Seq[String] => Scan)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var files: Seq[String] = initialFiles
  @volatile private var delegate: Scan = initialScan

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    delegate.toBatch
  override def description(): String =
    s"GroupFilterable(${files.size} files) " + delegate.description()

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // report ONE attribute, not all: Spark builds a single
    // struct(attrs...) IN subquery over everything reported, and its
    // runtime-filter translation rejects struct-IN outright ("Can't
    // translate named_struct(...) IN subquery", DataSourceV2Strategy) —
    // a multi-column report silently disables group filtering on exactly
    // the multi-level-partitioned tables that benefit most. The leading
    // partition column is the coarsest level; its single-column IN
    // translates and prunes whole top-level partitions.
    meta.partitionCols.filter(meta.schema.fieldNames.contains).take(1)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = predicates.toSeq.flatMap(p =>
      org.apache.spark.sql.graftshim.Shims.predicateToV1(p))
    if (v1.nonEmpty) {
      // the handed predicates are LITERAL here (the matched rows' value
      // set), so an empty IN means NO group matches — prune everything.
      // mayMatch's conservative empty-IN reading is for static pushdown,
      // where a degenerate filter must not drop data.
      val noMatches = v1.exists {
        case org.apache.spark.sql.sources.In(_, vs) =>
          vs != null && vs.isEmpty
        case _ => false
      }
      val kept =
        if (noMatches) Seq.empty[String]
        else files.filter(f => FileStatsPruning.mayMatchAll(
          GraftCatalog.fileStats(f, meta, Map.empty), Map.empty, v1))
      if (kept.size < files.size) {
        files = kept
        op.scannedFiles = kept
        delegate = rebuild(kept)
      }
    }
  }
}

/** Aligns the physical rewrite rows with the table schema: Spark's
  * group-based `MergeRows`/update plans PREPEND bookkeeping columns
  * (`__row_operation`) that reach the physical write even though the
  * logical write schema is the bare table schema — verified empirically
  * on 4.1 (rows arrive as `[__row_operation, tableCols…]`). The wrapper
  * measures the arity surplus on the first row and projects the TRAILING
  * table-schema fields; a surplus of zero passes rows through untouched,
  * so the wrapper is future-proof against Spark dropping the column. */
private[storage] final case class CowProjectingFactory(
    inner: DataWriterFactory, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _
      private var passThrough = false
      override def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (proj == null && !passThrough) {
          val surplus = r.numFields - schema.fields.length
          require(surplus >= 0,
            s"row-level write: row has ${r.numFields} fields, table needs " +
              s"${schema.fields.length}")
          if (surplus == 0) passThrough = true
          else {
            import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
            proj = UnsafeProjection.create(schema.fields.zipWithIndex.map {
              case (f, i) => BoundReference(surplus + i, f.dataType, f.nullable)
            }.toIndexedSeq)
          }
        }
        w.write(if (passThrough) r else proj(r))
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** What the row-level commits share: replacement and inserted rows are
  * staged under `_staging-<queryId>` by the catalog's own
  * [[GraftWriterFactory]], and the commit publishes relative to the
  * snapshot the rewrite scan PLANNED on, not the current latest — the
  * new live set is only meaningful against the scanned state, so a
  * commit that landed in between must surface as an exclusive-create
  * conflict rather than be folded into a manifest computed from stale
  * rows. Subclasses keep what differs: the live set and the sidecars. */
private[storage] abstract class RowLevelBatchWrite(
    op: GraftRowLevelOperation,
    dir: String,
    meta: GraftTableMeta,
    queryId: String) extends BatchWrite {

  private val stagingRel = s"_staging-$queryId"
  protected val stagingDir = s"$dir/$stagingRel"
  protected val root = new Path(dir)
  protected def fs: org.apache.hadoop.fs.FileSystem =
    root.getFileSystem(op.spark.sessionState.newHadoopConf())

  protected def dataWriters(hconf: SerializableHadoopConf): GraftWriterFactory =
    GraftWriterFactory(stagingDir, meta.schema, meta.partitionCols,
      GraftCatalog.parquetWriteConfs(op.spark), queryId, hconf,
      meta.properties.get(GraftCatalog.TargetFileRowsProp)
        .flatMap(_.toLongOption).filter(_ > 0).getOrElse(0L),
      meta.bucket)

  protected def staged(frag: String): Path = new Path(root, s"$stagingRel/$frag")

  /** The scanned snapshot as the scan read it: its id, manifest (empty
    * for a legacy table) and live files (a dir listing for legacy tables). */
  protected def scanState(fs: org.apache.hadoop.fs.FileSystem, what: String)
      : (Long, Manifest, Seq[String]) = {
    val scanSnap = op.scanSnapshot
    require(scanSnap >= 0, s"$what without a planned rewrite scan")
    (scanSnap, op.scanManifest.getOrElse(Manifest.empty),
      GraftCatalog.liveFiles(fs, root, op.scanManifest))
  }

  /** Promote `files` and commit `kept + promoted` at scan snapshot + 1
    * as an overwrite (the row set changed), carrying the scanned
    * snapshot's writer txns; a lost race also removes the new delete
    * sidecars, which are written before the commit. */
  protected def publish(
      fs: org.apache.hadoop.fs.FileSystem, scanSnap: Long, scanned: Manifest,
      files: Seq[(String, String)], kept: Seq[String],
      newEqDels: Seq[String] = Seq.empty,
      newPosDels: Seq[(String, String)] = Seq.empty): Unit = {
    val rel = files.map { case (p, f) => if (p.isEmpty) f else s"$p/$f" }
    val sidecars = (newEqDels ++ newPosDels.map(_._1)).distinct
    GraftCatalog.publish(fs, root, stagingRel, rel.map(f => f -> f), sidecars) { promoted =>
      GraftCatalog.writeSnapshotAt(fs, root, scanSnap + 1, scanned,
        (kept ++ promoted).distinct, scanned.txns,
        newEqDels = newEqDels, newPosDels = newPosDels,
        kind = GraftCatalog.KindOverwrite)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    fs.delete(new Path(root, stagingRel), true)
}

/** Publishes the copy-on-write rewrite: `prior − scanned + staged`. */
private[storage] final class CowBatchWrite(
    op: GraftRowLevelOperation,
    dir: String,
    meta: GraftTableMeta,
    queryId: String) extends RowLevelBatchWrite(op, dir, meta, queryId) {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    CowProjectingFactory(dataWriters(SerializableHadoopConf.capture(op.spark)), meta.schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = this.fs
    val (scanSnap, scanned, prior) = scanState(fs, "row-level commit")
    val replaced = op.scannedFiles.toSet
    publish(fs, scanSnap, scanned,
      messages.flatMap(_.asInstanceOf[GraftCommitMessage].files).toSeq,
      prior.filterNot(replaced))
  }
}

// ── merge-on-read (DELTA-based) row-level operations ─────────────────────

/** DELTA-based (merge-on-read) row-level operation — selected by table
  * property `write.merge.mode=merge-on-read` with `merge.key` naming the
  * row identity. Spark plans a `WriteDelta` instead of a full-group
  * rewrite: only MATCHED rows (plus inserts) flow to the writer, which
  * records replaced/deleted rows as key values in an equality-delete
  * sidecar and new rows as ordinary appended data files. Commit publishes
  * `prior + newFiles + sidecar` — nothing is rewritten, so merge cost is
  * proportional to the DELTA (the Iceberg MoR cost model); reads apply
  * the sidecars row-side ([[org.apache.spark.sql.graftshim.EqDeleteScan]])
  * until compaction folds them in. */
private[storage] final class GraftDeltaOperation(
    dir: String,
    meta: GraftTableMeta,
    tableName: String,
    cmd: RowLevelOperation.Command,
    keyCols: Seq[String],
    eqDel: Option[org.apache.spark.sql.graftshim.EqDeleteSpec])
  extends GraftRowLevelOperation(dir, meta, tableName, cmd, eqDel)
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keyCols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def description(): String = s"GraftDeltaOperation($cmd, $tableName)"

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftDeltaBatchWrite(GraftDeltaOperation.this, dir, meta,
              keyCols, info.queryId())
          // Cluster the delta by (partition cols, merge key): without a
          // required distribution every MERGE output task writes its own
          // file, so a sustained sink fragments the table at one small
          // file per task per batch (measured: a 5k-row batch left ~32
          // files). A non-strict clustered distribution plans an AQE
          // REBALANCE, which coalesces the write to the advisory
          // partition size — a small delta lands as one file (per
          // partition value) instead of one per task. The shuffle is
          // delta-sized by definition of the path; a delta whose size
          // estimate fits one advisory partition skips it, written by one
          // task through a narrow Coalesce 1 (OneTaskWrite).
          override def requiredDistribution
              : org.apache.spark.sql.connector.distributions.Distribution = {
            // derived partition levels (__bucket_*) are not query columns —
            // cluster only on real schema columns; the writer re-derives
            // bucket routing from the data either way. A pure DELETE plan
            // carries ONLY (__row_operation, rowId…) — naming partition
            // DATA columns there fails analysis, and a delete-only delta
            // writes no data files anyway, so cluster by the rowId alone
            val parts =
              if (cmd == RowLevelOperation.Command.DELETE) Seq.empty
              else meta.partitionCols.filter(meta.schema.fieldNames.contains)
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              (parts ++ keyCols.filterNot(parts.contains))
                .map(c => org.apache.spark.sql.connector.expressions.Expressions
                  .identity(c))
                .toArray)
          }
          override def requiredOrdering
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def distributionStrictlyRequired(): Boolean = false
          // per-table advisory for the pre-write REBALANCE: bounds the
          // bytes any one write task receives (AQE splits over-advisory
          // buckets, e.g. a skewed merge-key value), independent of the
          // session-wide advisory
          override def advisoryPartitionSizeInBytes(): Long =
            meta.properties.get(GraftCatalog.AdvisoryWriteBytesProp)
              .flatMap(_.toLongOption).filter(_ > 0).getOrElse(0L)
        }
    }
}

private[storage] final case class GraftDeltaCommitMessage(
    files: Seq[(String, String)],
    deleteFragment: Option[String],
    numDeletes: Long) extends WriterCommitMessage

/** Publishes a delta commit: promote the appended data files like any
  * write, consolidate the per-task delete-key fragments into ONE
  * `_eqdel-*` sidecar at the table root, and write the next manifest as
  * `prior + staged` with the sidecar recorded in an `# eqdel:` header —
  * at (scan snapshot + 1), so a concurrent commit fails the exclusive
  * create exactly like the copy-on-write path. */
private[storage] final class GraftDeltaBatchWrite(
    op: GraftRowLevelOperation,
    dir: String,
    meta: GraftTableMeta,
    keyCols: Seq[String],
    queryId: String)
  extends RowLevelBatchWrite(op, dir, meta, queryId)
  with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val hconf = SerializableHadoopConf.capture(op.spark)
    val keyTypes = keyCols.map(c =>
      meta.schema(meta.schema.fieldIndex(c)).dataType)
    GraftDeltaWriterFactory(dataWriters(hconf), stagingDir, keyCols,
      keyTypes, hconf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = this.fs
    val (scanSnap, scanned, prior) = scanState(fs, "delta commit")
    val msgs = messages.map(_.asInstanceOf[GraftDeltaCommitMessage])
    // consolidate the per-task delete fragments (delta-sized) into one
    // sidecar, written root-side BEFORE the manifest
    val fragKeys: Seq[Array[Byte]] = msgs.toSeq.flatMap(_.deleteFragment).flatMap { frag =>
      GraftCatalog.readEqDelSidecar(fs, staged(frag), keyCols)
    }
    val sidecar: Option[String] =
      if (fragKeys.isEmpty) None
      else {
        val name = s"_eqdel-${java.util.UUID.randomUUID().toString.take(12)}.bin"
        GraftCatalog.writeEqDelSidecar(fs, new Path(root, name), keyCols,
          fragKeys.iterator)
        Some(name)
      }
    publish(fs, scanSnap, scanned, msgs.toSeq.flatMap(_.files), prior,
      newEqDels = sidecar.toSeq)
  }
}

private[storage] final case class GraftDeltaWriterFactory(
    inner: DataWriterFactory,
    stagingDir: String,
    keyCols: Seq[String],
    keyTypes: Seq[org.apache.spark.sql.types.DataType],
    // driver-captured (from the operation's OWN session, not the
    // thread-local) Hadoop conf: the delete-fragment writer opens its own
    // stream and must resolve the staging filesystem the same way the
    // data writer does (s3a, kerberized HDFS, custom fs.<scheme>.impl)
    hconf: SerializableHadoopConf)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftDeltaWriter(inner.createWriter(partitionId, taskId),
      stagingDir, keyCols, keyTypes, partitionId, taskId, hconf)
}

/** Per-task delta writer: inserts (and the new halves of updates) go to
  * the ordinary partition-routing data writer; deleted / replaced rows'
  * key values stream to a per-task fragment in the staging dir as
  * length-prefixed UnsafeRow bytes (byte-stable for the validated atomic
  * key types — the exact representation the read side probes). */
private[storage] final class GraftDeltaWriter(
    inner: org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow],
    stagingDir: String,
    keyCols: Seq[String],
    keyTypes: Seq[org.apache.spark.sql.types.DataType],
    partitionId: Int,
    taskId: Long,
    hconf: SerializableHadoopConf)
  extends org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  private val fragRel = s"_eqdel-frag-$partitionId-$taskId.bin"
  private var out: java.io.DataOutputStream = _
  private var nDel = 0L
  // the id row is Spark's rowId projection: fields in rowId() order
  private val keyProj = UnsafeProjection.create(
    keyTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true)
    }.toIndexedSeq)

  private def delOut(): java.io.DataOutputStream = {
    if (out == null) {
      val p = new Path(s"$stagingDir/$fragRel")
      val fs = p.getFileSystem(hconf.value)
      out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(p, false)))
      out.writeUTF(GraftCatalog.EqDelMagic)
      out.writeUTF(keyCols.mkString(","))
    }
    out
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val k = keyProj(id)
    val bytes = k.getBytes
    val o = delOut()
    o.writeInt(bytes.length)
    o.write(bytes)
    nDel += 1
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    val files = inner.commit().asInstanceOf[GraftCommitMessage].files
    GraftDeltaCommitMessage(files,
      if (nDel > 0) Some(fragRel) else None, nDel)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Throwable => () } }
    inner.abort()
  }

  override def close(): Unit = inner.close()
}

// ── merge-on-read POSITION-delete operations (key-less tables) ───────────

/** DELTA-based row-level operation for merge-on-read tables WITHOUT a
  * declared merge key: rows are addressed by PHYSICAL identity — the
  * `(_file, _pos)` metadata columns every catalog read synthesizes — and
  * deletes land as POSITION-delete sidecars (target data file → row
  * positions), completing Iceberg's v2 delete-file model (equality
  * deletes for keyed tables, position deletes for key-less ones).
  *
  * UPDATE is represented as DELETE + INSERT ([[representUpdateAsDeleteAndInsert]]):
  * a rewritten row is a NEW physical row, so its identity cannot survive
  * an in-place update — exactly Iceberg's position-delta semantics.
  * Commit publishes `prior + newFiles + posdel sidecar`; nothing is
  * rewritten, so a MERGE into a 100 TB key-less table is priced by its
  * delta. Reads drop (file, pos) matches via the same columnar
  * selection-view apply equality deletes use; compaction rewrites exactly
  * the targeted files and the manifest's target-liveness carry rule
  * retires the entries. */
private[storage] final class GraftPosDeltaOperation(
    dir: String,
    meta: GraftTableMeta,
    tableName: String,
    cmd: RowLevelOperation.Command)
  extends GraftRowLevelOperation(dir, meta, tableName, cmd, None)
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        org.apache.spark.sql.graftshim.FileMetaCols.File),
      org.apache.spark.sql.connector.expressions.Expressions.column(
        org.apache.spark.sql.graftshim.FileMetaCols.Pos))

  // a physical row identity cannot be carried onto a rewritten row
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"GraftPosDeltaOperation($cmd, $tableName)"

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new GraftPosDeltaBatchWrite(GraftPosDeltaOperation.this, dir,
              meta, info.queryId())
          // cluster replacement/inserted rows by the table's partition
          // columns (same motivation as the keyed path: one file per
          // partition value per commit, not one per task). A pure DELETE
          // plan carries only (__row_operation, _file, _pos) — partition
          // DATA columns are unresolvable there, and a delete-only delta
          // writes no data files: leave it unspecified. An UNPARTITIONED
          // MERGE/UPDATE clusters by the `_file` rowId instead (present
          // in every delta plan; null for inserted rows, so they share a
          // shuffle partition): without SOME clustering no AQE rebalance
          // is planned and every output task writes its own small file —
          // the sink-fragmentation problem the keyed path solves by
          // clustering on the merge key
          override def requiredDistribution
              : org.apache.spark.sql.connector.distributions.Distribution = {
            if (cmd == RowLevelOperation.Command.DELETE)
              org.apache.spark.sql.connector.distributions.Distributions
                .unspecified()
            else {
              val parts = meta.partitionCols
                .filter(meta.schema.fieldNames.contains)
              val keys =
                if (parts.nonEmpty) parts
                else Seq(org.apache.spark.sql.graftshim.FileMetaCols.File)
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(keys.map(c =>
                  org.apache.spark.sql.connector.expressions.Expressions
                    .identity(c)).toArray)
            }
          }
          override def requiredOrdering
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def distributionStrictlyRequired(): Boolean = false
          // the REBALANCE this non-strict distribution plans lets AQE
          // split any over-advisory partition — in particular the null
          // `_file` bucket every inserted row of an unpartitioned
          // key-less MERGE hashes to, which would otherwise serialize
          // into a single write task (split granularity is the map-output
          // chunk, so parallelism recovers up to the upstream task count).
          // A delta whose size estimate fits one advisory partition is
          // written by one task with no rebalance (OneTaskWrite).
          override def advisoryPartitionSizeInBytes(): Long =
            meta.properties.get(GraftCatalog.AdvisoryWriteBytesProp)
              .flatMap(_.toLongOption).filter(_ > 0).getOrElse(0L)
        }
    }
}

private[storage] final case class GraftPosDeltaCommitMessage(
    files: Seq[(String, String)],
    deleteFragment: Option[String],
    numDeletes: Long) extends WriterCommitMessage

/** Publishes a position-delta commit: promote appended files, consolidate
  * the per-task (file, position) fragments into ONE `_posdel-*` sidecar
  * (positions sorted and deduped per target file — the read side's merge
  * walk and the columnar retain pass both require ascending positions),
  * and write the next manifest with one `# posdel:` entry per (sidecar,
  * target) at scan snapshot + 1 — same OCC as every row-level commit. */
private[storage] final class GraftPosDeltaBatchWrite(
    op: GraftRowLevelOperation,
    dir: String,
    meta: GraftTableMeta,
    queryId: String)
  extends RowLevelBatchWrite(op, dir, meta, queryId)
  with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val hconf = SerializableHadoopConf.capture(op.spark)
    GraftPosDeltaWriterFactory(dataWriters(hconf), stagingDir, hconf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = this.fs
    val (scanSnap, scanned, prior) = scanState(fs, "position-delta commit")
    val msgs = messages.map(_.asInstanceOf[GraftPosDeltaCommitMessage])
    // consolidate per-task fragments (delta-sized) into one sidecar,
    // positions sorted+deduped per target; deletes against files not in
    // the scanned snapshot's manifest are a scan/commit bug — fail loudly
    val priorSet = prior.toSet
    val byTarget = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    msgs.toSeq.flatMap(_.deleteFragment).foreach { frag =>
      GraftCatalog.readPosDelFragment(fs, staged(frag)).foreach { case (t, p) =>
        require(priorSet.contains(t),
          s"position delete targets '$t', which is not in snapshot $scanSnap")
        byTarget.getOrElseUpdate(t,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += p
      }
    }
    val sidecar: Option[(String, Seq[String])] =
      if (byTarget.isEmpty) None
      else {
        val name = s"_posdel-${java.util.UUID.randomUUID().toString.take(12)}.bin"
        val dels = byTarget.toSeq.sortBy(_._1).map { case (t, ps) =>
          t -> ps.toArray.sorted.distinct
        }
        GraftCatalog.writePosDelSidecar(fs, new Path(root, name), dels)
        Some((name, dels.map(_._1)))
      }
    publish(fs, scanSnap, scanned, msgs.toSeq.flatMap(_.files), prior,
      newPosDels = sidecar.toSeq.flatMap { case (sc, ts) => ts.map(sc -> _) })
  }
}

private[storage] final case class GraftPosDeltaWriterFactory(
    inner: DataWriterFactory,
    stagingDir: String,
    // driver-captured from the operation's session (see GraftDeltaWriterFactory)
    hconf: SerializableHadoopConf)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftPosDeltaWriter(inner.createWriter(partitionId, taskId),
      stagingDir, partitionId, taskId, hconf)
}

/** Per-task position-delta writer: inserts go to the ordinary
  * partition-routing data writer; deleted rows' physical identities —
  * the `(_file, _pos)` rowId Spark projects from the rewrite read —
  * stream to a per-task fragment as (UTF file, long position) records. */
private[storage] final class GraftPosDeltaWriter(
    inner: org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow],
    stagingDir: String,
    partitionId: Int,
    taskId: Long,
    hconf: SerializableHadoopConf)
  extends org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {

  import org.apache.spark.sql.catalyst.InternalRow

  private val fragRel = s"_posdel-frag-$partitionId-$taskId.bin"
  private var out: java.io.DataOutputStream = _
  private var nDel = 0L

  private def delOut(): java.io.DataOutputStream = {
    if (out == null) {
      val p = new Path(s"$stagingDir/$fragRel")
      val fs = p.getFileSystem(hconf.value)
      out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(p, false)))
      out.writeUTF(GraftCatalog.PosDelFragMagic)
    }
    out
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    // id fields in rowId() order: (_file string, _pos long)
    val o = delOut()
    o.writeUTF(id.getUTF8String(0).toString)
    o.writeLong(id.getLong(1))
    nDel += 1
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // unreachable under representUpdateAsDeleteAndInsert, kept as the
    // semantically-equivalent fallback
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    val files = inner.commit().asInstanceOf[GraftCommitMessage].files
    GraftPosDeltaCommitMessage(files,
      if (nDel > 0) Some(fragRel) else None, nDel)
  }

  override def abort(): Unit = {
    if (out != null) { try out.close() catch { case _: Throwable => () } }
    inner.abort()
  }

  override def close(): Unit = inner.close()
}
