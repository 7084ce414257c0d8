package graft

import org.apache.spark.sql.functions._

import graft.storage.{GraftCatalog, V2CatalogWarehouse}

/** The reference's full V2 table lifecycle on [[graft.storage.GraftCatalog]]:
  * createOrReplace with partitioning + table properties, dynamic partition
  * overwrite, append, replace, rename/drop, partition pruning on read —
  * the surface `setup/create_tables_script.py` + the processors exercise
  * against Iceberg, run offline against the parquet-backed catalog.
  */
class CatalogSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-v2wh").toString
    spark.conf.set("spark.sql.catalog.graftv2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftv2.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftv2.bronze")
    dir
  }

  private def t(rows: (Long, String, String)*) =
    rows.toSeq.toDF("id", "name", "extraction_date")

  test("createOrReplace with partitioning and table properties") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-16"))
      .writeTo("graftv2.bronze.breweries")
      .using("parquet")
      .partitionedBy(col("extraction_date"))
      .tableProperty("write.format.default", "parquet")
      .tableProperty("graft.owner", "pipeline")
      .createOrReplace()
    val back = spark.table("graftv2.bronze.breweries")
    assert(back.count() == 2)
    assert(back.schema.fieldNames.toSet == Set("id", "name", "extraction_date"))
    // hive-style partition layout on disk
    assert(new java.io.File(s"$wh/bronze/breweries/extraction_date=2024-01-15").isDirectory)
    // properties survive the catalog round-trip
    val props = spark.sql("SHOW TBLPROPERTIES graftv2.bronze.breweries")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.owner") == "pipeline")
    assert(props("write.format.default") == "parquet")
  }

  test("overwritePartitions replaces only the partitions present in the frame") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-16"))
      .writeTo("graftv2.bronze.dyn").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    // re-run for the 16th only: the 15th must survive untouched
    t((3L, "c", "2024-01-16"))
      .writeTo("graftv2.bronze.dyn").overwritePartitions()
    val rows = spark.table("graftv2.bronze.dyn")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("extraction_date"))).toSet
    assert(rows == Set((1L, "2024-01-15"), (3L, "2024-01-16")))
  }

  test("append adds rows; createOrReplace drops the old table wholesale") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.lcy").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((2L, "b", "2024-01-16")).writeTo("graftv2.bronze.lcy").append()
    assert(spark.table("graftv2.bronze.lcy").count() == 2)
    t((9L, "z", "2024-02-01"))
      .writeTo("graftv2.bronze.lcy").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    val out = spark.table("graftv2.bronze.lcy").collect()
    assert(out.length == 1 && out.head.getAs[Long]("id") == 9L)
  }

  test("reads prune partitions and push filters like a native parquet scan") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-16"), (3L, "c", "2024-01-17"))
      .writeTo("graftv2.bronze.pruned").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    val q = spark.table("graftv2.bronze.pruned")
      .filter(col("extraction_date") === "2024-01-16" && col("id") > 0)
      .select("id", "name")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters:.*extraction_date#\\d+ = 2024-01-16".r
      .findFirstIn(plan).isDefined, s"partition filter not pruned:\n$plan")
    assert(plan.contains("GreaterThan(id,0)"), "data filter not pushed")
    // the partition column is never read from data files
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("extraction_date"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("driver contract: entry() flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every query name has oracle SQL and vice versa — the driver's
    // correctness surface is total
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"mismatch: ${SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)} / " +
        s"${SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)}")
  }

  test("catalog discovery: SHOW NAMESPACES / SHOW TABLES resolve") {
    wh
    spark.sql("CREATE TABLE IF NOT EXISTS graftv2.bronze.disco (id BIGINT) USING parquet")
    val ns = spark.sql("SHOW NAMESPACES IN graftv2").collect().map(_.getString(0))
    assert(ns.contains("bronze"))
    val tbls = spark.sql("SHOW TABLES IN graftv2.bronze").collect()
      .map(_.getAs[String]("tableName"))
    assert(tbls.contains("disco"))
    spark.sql("DROP TABLE graftv2.bronze.disco")
  }

  test("sql ddl surface: insert, rename, drop") {
    wh
    spark.sql("CREATE TABLE graftv2.bronze.sqlt (id BIGINT, name STRING) USING parquet")
    spark.sql("INSERT INTO graftv2.bronze.sqlt VALUES (1, 'x'), (2, 'y')")
    assert(spark.sql("SELECT sum(id) FROM graftv2.bronze.sqlt").collect().head.getLong(0) == 3L)
    // V2 RENAME resolves the target inside the source's catalog
    spark.sql("ALTER TABLE graftv2.bronze.sqlt RENAME TO bronze.sqlt2")
    assert(spark.table("graftv2.bronze.sqlt2").count() == 2)
    spark.sql("DROP TABLE graftv2.bronze.sqlt2")
    assert(!spark.catalog.tableExists("graftv2.bronze.sqlt2"))
  }

  test("incremental read: 'incr:a..b' serves only files added in the range") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.incr").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((2L, "b", "2024-01-15")).writeTo("graftv2.bronze.incr").append()
    t((3L, "c", "2024-01-16")).writeTo("graftv2.bronze.incr").append()
    def ids(v: String) =
      spark.sql(s"SELECT id FROM graftv2.bronze.incr VERSION AS OF '$v'")
        .collect().map(_.getLong(0)).sorted.toSeq
    // a consumer that checkpointed at snapshot 1 sees only later appends
    assert(ids("incr:1..3") == Seq(2L, 3L))
    assert(ids("incr:2..3") == Seq(3L))
    // empty range is empty, not an error; from=0 means "everything up to b"
    assert(ids("incr:2..2") == Seq.empty)
    assert(ids("incr:0..2") == Seq(1L, 2L))
    // added-files semantics under overwrite: the rewritten partition's new
    // files surface in full (file diffs cannot express row deletes)
    t((9L, "z", "2024-01-15")).writeTo("graftv2.bronze.incr").overwritePartitions()
    assert(ids("incr:3..4") == Seq(9L))
    // bad ranges and unknown snapshots fail loudly
    intercept[Exception] { ids("incr:3..1") }
    intercept[Exception] { ids("incr:1..99") }
  }

  test("incremental ETL loop: per-range consumption folds to the full recompute") {
    wh
    // the checkpoint-and-resume pattern incremental reads exist for: a
    // consumer maintains a per-key aggregate by folding ONLY each new
    // range, and the folded state must equal recomputing over the table
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.loop").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((2L, "a", "2024-01-15"), (3L, "b", "2024-01-16"))
      .writeTo("graftv2.bronze.loop").append()
    t((4L, "b", "2024-01-16"), (5L, "c", "2024-01-16"))
      .writeTo("graftv2.bronze.loop").append()
    var state = Map.empty[String, Long]
    for (snap <- 1 to 3) {
      val delta = spark.sql(
        s"SELECT name, count(*) AS n FROM graftv2.bronze.loop " +
          s"VERSION AS OF 'incr:${snap - 1}..$snap' GROUP BY name")
        .collect().map(r => r.getString(0) -> r.getLong(1))
      for ((k, n) <- delta) state = state.updated(k, state.getOrElse(k, 0L) + n)
    }
    val full = spark.table("graftv2.bronze.loop")
      .groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == full, s"incrementally folded state $state != full $full")
  }

  test("incremental reads are rewrite-aware: compaction and clustering in " +
    "range re-emit nothing; rows appended then compacted away still " +
    "surface from their original files") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.incrw").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()          // snap 1
    t((2L, "b", "2024-01-15")).writeTo("graftv2.bronze.incrw").append() // snap 2
    cat.compact(spark, "bronze.incrw")                             // snap 3: rewrite
    t((3L, "c", "2024-01-16")).writeTo("graftv2.bronze.incrw").append() // snap 4
    def ids(v: String) =
      spark.sql(s"SELECT id FROM graftv2.bronze.incrw VERSION AS OF '$v'")
        .collect().map(_.getLong(0)).sorted.toSeq
    // a consumer checkpointed before the compact sees ONLY real appends —
    // the rewritten files (which hold ids 1 and 2 again) are skipped
    assert(ids("incr:2..4") == Seq(3L), "compact in range must re-emit nothing")
    assert(ids("incr:2..3") == Seq.empty)
    // a range containing append-then-compact serves the appended rows from
    // their ORIGINAL (pre-compaction, still-on-disk) files, exactly once
    assert(ids("incr:0..3") == Seq(1L, 2L))
    assert(ids("incr:0..4") == Seq(1L, 2L, 3L))
    // Z-order maintenance is equally invisible to incremental consumers
    cat.clusterTable(spark, "bronze.incrw", Seq("id"))             // snap 5: rewrite
    assert(ids("incr:4..5") == Seq.empty, "cluster in range must re-emit nothing")
    assert(ids("incr:2..5") == Seq(3L))
    // the ETL fold across maintenance still equals the full recompute
    val total = (1 to 5).map(snap =>
      spark.sql(s"SELECT count(*) AS n FROM graftv2.bronze.incrw " +
        s"VERSION AS OF 'incr:${snap - 1}..$snap'").collect().head.getLong(0)).sum
    assert(total == spark.table("graftv2.bronze.incrw").count())
  }

  test("incremental reads across delete compaction: an in-range MoR delete " +
    "still applies after the compaction that folded and cleared it") {
    wh
    Seq((1L, "a"), (2L, "b")).toDF("id", "w").repartition(1)
      .writeTo("graftv2.bronze.incrdc").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()                                             // snap 1
    Seq((3L, "c")).toDF("id", "w")
      .writeTo("graftv2.bronze.incrdc").append()                     // snap 2
    Seq(1L).toDF("id").createOrReplaceTempView("incrdc_del")
    spark.sql("""MERGE INTO graftv2.bronze.incrdc t USING incrdc_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")                    // snap 3: eqdel
    cat.compactDeletes(spark, "bronze.incrdc")                // snap 4: folds + clears
    def ids(v: String) =
      spark.sql(s"SELECT id FROM graftv2.bronze.incrdc VERSION AS OF '$v'")
        .collect().map(_.getLong(0)).sorted.toSeq
    // snap 4's manifest no longer carries the eqdel (folded and cleared);
    // the range walk collects it from snap 3's manifest and applies it to
    // snap 1's original file by the sequence rule
    assert(ids("incr:0..4") == Seq(2L, 3L),
      "a row deleted inside the range must not surface, even after the fold")
    assert(ids("incr:3..4") == Seq.empty,
      "delete compaction itself must re-emit nothing")
  }

  test("time travel: VERSION AS OF serves old snapshots; vacuum expires them") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.tt").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((2L, "b", "2024-01-15")).writeTo("graftv2.bronze.tt").append()
    t((9L, "z", "2024-01-15")).writeTo("graftv2.bronze.tt").overwritePartitions()
    // live view = latest snapshot
    assert(spark.table("graftv2.bronze.tt").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // snapshots 1 and 2 remain readable: overwrite superseded files only
    // logically
    assert(spark.sql("SELECT id FROM graftv2.bronze.tt VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql("SELECT id FROM graftv2.bronze.tt VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // vacuum: physically deletes superseded files, keeps the live view
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val deleted = cat.vacuum(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("bronze"), "tt"))
    assert(deleted == 2, s"expected 2 superseded files deleted, got $deleted")
    assert(spark.table("graftv2.bronze.tt").collect().map(_.getLong(0)).toSeq == Seq(9L))
    val gone = intercept[Exception](
      spark.sql("SELECT id FROM graftv2.bronze.tt VERSION AS OF 1").collect())
    assert(gone.getMessage.contains("no snapshot"))
  }

  test("schema evolution: add column reads old files as null, drop removes") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.evo").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    spark.sql("ALTER TABLE graftv2.bronze.evo ADD COLUMN score DOUBLE")
    // old files lack the column -> null; new writes carry it
    val after = spark.table("graftv2.bronze.evo")
    assert(after.schema.fieldNames.contains("score"))
    assert(after.collect().head.isNullAt(after.schema.fieldIndex("score")))
    Seq((2L, "b", 0.5, "2024-01-16")).toDF("id", "name", "score", "extraction_date")
      .writeTo("graftv2.bronze.evo").append()
    val rows = spark.table("graftv2.bronze.evo")
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("score"))).toMap
    assert(rows(1L).isEmpty && rows(2L).contains(0.5))
    spark.sql("ALTER TABLE graftv2.bronze.evo DROP COLUMN score")
    assert(!spark.table("graftv2.bronze.evo").schema.fieldNames.contains("score"))
  }

  test("schema evolution: SAFE type widening — old narrow files read " +
    "under the widened schema; stats pruning and the bloom index built " +
    "BEFORE the widening still answer probes after it") {
    wh
    // int ids + float score, two range-clustered files
    Seq.tabulate(100)(i => (i, i / 2.0f))
      .toDF("id", "score")
      .repartitionByRange(2, col("id"))
      .writeTo("graftv2.bronze.widen").using("parquet").createOrReplace()
    cat.buildBloomIndex(spark, "bronze.widen", Seq("id"))
    spark.sql("ALTER TABLE graftv2.bronze.widen ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graftv2.bronze.widen ALTER COLUMN score TYPE DOUBLE")
    val df = spark.table("graftv2.bronze.widen")
    assert(df.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // old INT32/FLOAT files widen at read time
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0 until 100).sum.toLong)
    assert(df.filter(col("id") === 7L).head.getDouble(1) == 3.5)
    // new files write the widened types; a mixed read is seamless
    Seq((1000000000000L, 1.5e300)).toDF("id", "score")
      .writeTo("graftv2.bronze.widen").append()
    assert(spark.table("graftv2.bronze.widen").count() == 101)
    assert(spark.table("graftv2.bronze.widen")
      .filter(col("id") === 1000000000000L).head.getDouble(1) == 1.5e300)
    // the PRE-widening bloom index + file stats still prune and still
    // hit: integrals canonicalize to INT64 before hashing, stats compare
    // in the value domain — a point probe on a long literal plans one
    // file and returns the row
    // min/max/count over MIXED-width files (pushdown or metadata path
    // must widen old INT32 footer values, not misparse them)
    val mm = spark.table("graftv2.bronze.widen")
      .agg(org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("id"),
        org.apache.spark.sql.functions.count("*")).head
    assert((mm.getLong(0), mm.getLong(1), mm.getLong(2)) ==
      (0L, 1000000000000L, 101L), s"got $mm")
    val probe = spark.table("graftv2.bronze.widen").filter(col("id") === 7L)
    assert(probe.count() == 1)
    val planned = probe.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }
    assert(planned.exists(_ <= 1), s"expected <=1 planned split, got $planned")
  }

  test("schema evolution: unsafe type changes are rejected; widening a " +
    "merge-key column with pending equality deletes is rejected") {
    wh
    Seq((1, "a")).toDF("id", "w")
      .writeTo("graftv2.bronze.widen2").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    // narrowing dies in Spark's analyzer (canUpCast gate) before the
    // catalog is consulted
    val down = intercept[Exception](spark.sql(
      "ALTER TABLE graftv2.bronze.widen2 ALTER COLUMN id TYPE SHORT"))
    assert(down.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      down.getMessage)
    // int -> string IS a Spark up-cast, but parquet files cannot serve it
    // without a rewrite — the catalog's own widening gate rejects it
    val toStr = intercept[Exception](spark.sql(
      "ALTER TABLE graftv2.bronze.widen2 ALTER COLUMN id TYPE STRING"))
    assert(toStr.getMessage.contains("unsafe type change"), toStr.getMessage)
    // pending eqdels encode int key bytes: widening must demand compaction
    Seq((1, "x")).toDF("id", "w").createOrReplaceTempView("widen2_del")
    spark.sql("""MERGE INTO graftv2.bronze.widen2 t USING widen2_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("graftv2.bronze.widen2")
    val pend = intercept[Exception](spark.sql(
      "ALTER TABLE graftv2.bronze.widen2 ALTER COLUMN id TYPE BIGINT"))
    assert(pend.getMessage.contains("rewrite_deletes"), pend.getMessage)
    // after folding the deletes the widening is licensed, and the
    // delete survives it
    cat.compactDeletes(spark, "bronze.widen2")
    spark.catalog.refreshTable("graftv2.bronze.widen2")
    spark.sql("ALTER TABLE graftv2.bronze.widen2 ALTER COLUMN id TYPE BIGINT")
    assert(spark.table("graftv2.bronze.widen2").count() == 0)
    // keyed DML keeps working under the widened key type
    Seq((5L, "e")).toDF("id", "w").writeTo("graftv2.bronze.widen2").append()
    Seq((5L, "E")).toDF("id", "w").createOrReplaceTempView("widen2_upd")
    spark.sql("""MERGE INTO graftv2.bronze.widen2 t USING widen2_upd s
      ON t.id = s.id WHEN MATCHED THEN UPDATE SET w = s.w""")
    spark.catalog.refreshTable("graftv2.bronze.widen2")
    assert(spark.table("graftv2.bronze.widen2").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((5L, "E")))
  }

  test("_file and _pos are RESERVED column names: rejected at create and " +
    "ADD COLUMN (a data column would be shadowed by the synthesized " +
    "metadata column)") {
    wh
    val atCreate = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "_file")
        .writeTo("graftv2.bronze.resv").using("parquet").createOrReplace()
    }
    assert(atCreate.getMessage.contains("reserved"), atCreate.getMessage)
    Seq((1L, "x")).toDF("id", "w")
      .writeTo("graftv2.bronze.resv2").using("parquet").createOrReplace()
    val atAdd = intercept[Exception](spark.sql(
      "ALTER TABLE graftv2.bronze.resv2 ADD COLUMN _pos BIGINT"))
    assert(atAdd.getMessage.contains("reserved"), atAdd.getMessage)
  }

  test("schema evolution: nullability relaxes (never tightens) and " +
    "column comments persist through the meta round-trip") {
    wh
    Seq((1, "a")).toDF("id", "w")
      .writeTo("graftv2.bronze.nully").using("parquet").createOrReplace()
    spark.sql("ALTER TABLE graftv2.bronze.nully ALTER COLUMN id DROP NOT NULL")
    assert(spark.table("graftv2.bronze.nully").schema("id").nullable)
    // Spark's analyzer itself refuses nullable -> NOT NULL for v2 tables
    // that can't prove it; whichever layer fires, the change must fail
    val tighten = intercept[Exception](spark.sql(
      "ALTER TABLE graftv2.bronze.nully ALTER COLUMN w SET NOT NULL"))
    assert(tighten.getMessage.contains("NOT NULL") ||
      tighten.getMessage.contains("nullable"), tighten.getMessage)
    spark.sql("ALTER TABLE graftv2.bronze.nully ALTER COLUMN w " +
      "COMMENT 'the payload'")
    assert(spark.table("graftv2.bronze.nully").schema("w")
      .getComment().contains("the payload"))
    // survives a fresh catalog load (meta file round-trip)
    spark.catalog.refreshTable("graftv2.bronze.nully")
    assert(spark.table("graftv2.bronze.nully").schema("w")
      .getComment().contains("the payload"))
  }

  test("null partition values round-trip via the default partition dir") {
    wh
    Seq((1L, "a", Option("2024-01-15")), (2L, "b", Option.empty[String]))
      .toDF("id", "name", "extraction_date")
      .writeTo("graftv2.bronze.nulls").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    val rows = spark.table("graftv2.bronze.nulls")
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("extraction_date"))).toMap
    assert(rows(1L).contains("2024-01-15") && rows(2L).isEmpty)
    assert(new java.io.File(
      s"$wh/bronze/nulls/extraction_date=__HIVE_DEFAULT_PARTITION__").isDirectory)
  }

  test("prepared corpus lands in the V2 catalog partitioned by split") {
    wh
    val d = queries.Parity.t(spark, "/root/testdata/sf0.001", "documents")
    val prepared = graft.ops.TrainPrep.prepareCorpus(d, "doc_id", "text", "lang")
    prepared.writeTo("graftv2.bronze.corpus").using("parquet")
      .partitionedBy(col("split")).createOrReplace()
    val back = spark.table("graftv2.bronze.corpus")
    assert(back.count() == prepared.count() && back.count() > 0)
    // reading one split prunes the other partitions at plan time
    val plan = back.filter(col("split") === "train")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters:.*split#\\d+ = train".r.findFirstIn(plan).isDefined, plan)
  }

  test("compaction collapses accumulated small files, data unchanged") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.cmp").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    for (i <- 2L to 5L)
      t((i, s"r$i", "2024-01-15")).writeTo("graftv2.bronze.cmp").append()
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val beforeRows = spark.table("graftv2.bronze.cmp").collect().map(_.toString).sorted
    val (before, after) = cat.compact(spark, "bronze.cmp")
    assert(before >= 5, s"expected >=5 small files, got $before")
    assert(after == 1, s"expected 1 compacted file, got $after")
    val afterRows = spark.table("graftv2.bronze.cmp").collect().map(_.toString).sorted
    assert(afterRows.toSeq == beforeRows.toSeq)
    // the pre-compaction snapshot is still readable
    assert(spark.sql("SELECT count(*) FROM graftv2.bronze.cmp VERSION AS OF 5")
      .collect().head.getLong(0) == 5L)
  }

  test("upsert merges by key and keeps the pre-image time-travelable") {
    wh
    val storage = new graft.storage.V2CatalogWarehouse(spark)
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-15"))
      .writeTo("graftv2.bronze.ups").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    storage.upsert("ups",
      t((2L, "b2", "2024-01-15"), (3L, "c", "2024-01-16")), "id")
    val rows = spark.table("graftv2.bronze.ups")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // pre-image survives as the prior snapshot
    assert(spark.sql("SELECT name FROM graftv2.bronze.ups VERSION AS OF 1")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("snapshot diff emits the CDC changelog between versions") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-15"))
      .writeTo("graftv2.bronze.cdc").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((9L, "z", "2024-01-15")).writeTo("graftv2.bronze.cdc").overwritePartitions()
    val changes = graft.storage.Snapshots.diff(spark, "graftv2.bronze.cdc", 1L, 2L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change"))).toSet
    assert(changes == Set((9L, "insert"), (1L, "delete"), (2L, "delete")))
  }

  test("writer transaction makes foreachBatch-style appends idempotent") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.txn").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    def appendBatch(id: Long, version: Long): Unit =
      t((id, s"r$id", "2024-01-15"))
        .writeTo("graftv2.bronze.txn")
        .option(GraftCatalog.TxnAppIdOption, "ckpt-A")
        .option(GraftCatalog.TxnVersionOption, version.toString)
        .append()
    appendBatch(2L, 0L)
    appendBatch(2L, 0L) // replayed micro-batch: must be a no-op
    assert(spark.table("graftv2.bronze.txn").count() == 2)
    appendBatch(3L, 1L) // next batch commits normally
    assert(spark.table("graftv2.bronze.txn").count() == 3)
    // an older version replayed after a newer one is also skipped
    appendBatch(4L, 0L)
    assert(spark.table("graftv2.bronze.txn").count() == 3)
    // a different app-id (another stream) is tracked independently
    t((5L, "r5", "2024-01-15")).writeTo("graftv2.bronze.txn")
      .option(GraftCatalog.TxnAppIdOption, "ckpt-B")
      .option(GraftCatalog.TxnVersionOption, "0").append()
    assert(spark.table("graftv2.bronze.txn").count() == 4)
  }

  test("vacuum on a pre-manifest (legacy) table deletes nothing") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-16"))
      .writeTo("graftv2.bronze.legacy").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    // simulate a table created before snapshot manifests existed
    val dir = new java.io.File(s"$wh/bronze/legacy")
    dir.listFiles().filter(_.getName.startsWith("_snap-")).foreach(_.delete())
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val deleted = cat.vacuum(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("bronze"), "legacy"))
    assert(deleted == 0, s"legacy vacuum must be a no-op, deleted $deleted files")
    spark.catalog.refreshTable("graftv2.bronze.legacy")
    assert(spark.table("graftv2.bronze.legacy").count() == 2)
  }

  test("data file names carry the per-write token (unique across writes)") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.names").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((2L, "b", "2024-01-15")).writeTo("graftv2.bronze.names").append()
    val files = new java.io.File(s"$wh/bronze/names/extraction_date=2024-01-15")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length == 2)
    assert(files.distinct.length == 2)
    // part-<partition>-<task>-<queryId-uuid>.parquet: the trailing token is
    // what keeps names unique across application runs where taskId resets
    files.foreach(f => assert(
      f.matches("part-\\d{5}-\\d+-[0-9a-fA-F-]{36}\\.parquet"), f))
  }

  test("compaction bounds files per partition without collapsing parallelism") {
    wh
    val many = (1L to 40L).map(i => (i, s"r$i", if (i % 2 == 0) "2024-01-15" else "2024-01-16"))
    many.take(4).map(Seq(_)).foreach { batch =>
      val df = batch.toDF("id", "name", "extraction_date")
      if (batch.head._1 == 1L)
        df.writeTo("graftv2.bronze.cmp2").using("parquet")
          .partitionedBy(col("extraction_date")).createOrReplace()
      else df.writeTo("graftv2.bronze.cmp2").append()
    }
    many.drop(4).toDF("id", "name", "extraction_date")
      .writeTo("graftv2.bronze.cmp2").append()
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val (_, after) = cat.compact(spark, "bronze.cmp2", targetFilesPerPartition = 2)
    // ≤ target files per partition VALUE (2 values × target 2 = ≤ 4 total)
    assert(after <= 4 && after >= 2, s"got $after files")
    for (d <- Seq("2024-01-15", "2024-01-16")) {
      spark.catalog.refreshTable("graftv2.bronze.cmp2")
      val live = spark.table("graftv2.bronze.cmp2")
        .filter(col("extraction_date") === d)
      assert(live.count() == 20)
      val nFiles = live.select(org.apache.spark.sql.functions
        .input_file_name()).distinct().count()
      assert(nFiles <= 2, s"partition $d has $nFiles files after compact to 2")
    }
  }

  test("incremental aggregate maintained from snapshot diff equals full recompute") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-15"), (3L, "c", "2024-01-16"))
      .writeTo("graftv2.bronze.inc").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    // pin the v1 aggregate BEFORE the table changes (it reads the live table)
    val agg1 = graft.ops.Incremental.aggregate(
      spark.table("graftv2.bronze.inc"), Seq("extraction_date"), Seq("id"))
      .localCheckpoint(true)
    // day-2 re-run of the 15th: row 1 gone, row 2 rewritten, row 4 new
    t((2L, "b", "2024-01-15"), (4L, "d", "2024-01-15"))
      .writeTo("graftv2.bronze.inc").overwritePartitions()
    val diff = graft.storage.Snapshots.diff(spark, "graftv2.bronze.inc", 1L, 2L)
    val refreshed = graft.ops.Incremental.refreshAgg(
      agg1, diff, Seq("extraction_date"), Seq("id"))
    val full = graft.ops.Incremental.aggregate(
      spark.table("graftv2.bronze.inc"), Seq("extraction_date"), Seq("id"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("extraction_date"), r.getAs[Long]("cnt"), r.getAs[Long]("sum_id"))
    assert(refreshed.collect().map(key).toSet == full.collect().map(key).toSet)
    assert(full.count() == 2)
  }

  test("a writer that lost the race rebases on the winner's snapshot") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.occ").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    // a "winner" snapshot 2 appears before our commit starts: our append
    // must read it as the base (its manifest content included), not clobber
    val snap1 = new java.io.File(s"$wh/bronze/occ/_snap-1.manifest")
    val winner = new java.io.File(s"$wh/bronze/occ/_snap-2.manifest")
    java.nio.file.Files.copy(snap1.toPath, winner.toPath)
    t((2L, "b", "2024-01-15")).writeTo("graftv2.bronze.occ").append()
    // our commit landed as snapshot 3, carrying the winner's files forward
    assert(new java.io.File(s"$wh/bronze/occ/_snap-3.manifest").exists())
    spark.catalog.refreshTable("graftv2.bronze.occ")
    assert(spark.table("graftv2.bronze.occ").count() == 2)
  }

  test("history: per-snapshot file/row counts and add/remove diffs, " +
    "metadata-only; vacuumed snapshots drop out") {
    wh
    spark.range(0, 10).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.hist").using("parquet").createOrReplace()
    spark.range(10, 15).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.hist").append()
    spark.range(100, 103).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.hist").overwrite(lit(true))
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("bronze"), "hist")
    val h = cat.history(ident)
    assert(h.map(e => (e._1, e._2, e._3, e._4, e._5)) == Seq(
      (1L, 1, 10L, 1, 0),   // create: one file, ten rows
      (2L, 2, 15L, 1, 0),   // append: +1 file, 15 rows total
      (3L, 1, 3L, 1, 2)))   // truncate overwrite: 1 new file, both old gone
    // the recorded commit kinds surface per snapshot — the operational
    // audit trail for what incremental/streaming consumers skip or serve
    // (createOrReplace plans a truncate write, so it records overwrite)
    assert(h.map(_._6) == Seq("overwrite", "append", "overwrite"),
      s"unexpected commit kinds: ${h.map(_._6)}")
    cat.compact(spark, "bronze.hist")
    assert(cat.history(ident).last._6 == "rewrite",
      "a compaction snapshot must record kind=rewrite")
    // the rewrite assertion is for OVERWRITES only: stamping an APPEND
    // row-set-invariant would hide its new rows from every incremental
    // and streaming consumer — rejected before anything commits
    val bad = intercept[Exception] {
      spark.range(50, 51).select(col("id"))
        .writeTo("graftv2.bronze.hist")
        .option(GraftCatalog.CommitKindOption, GraftCatalog.KindRewrite)
        .append()
    }
    assert(bad.getMessage.contains("not legal on an append"),
      s"got: ${bad.getMessage}")
    // vacuum drops the earlier snapshots; history reflects what remains
    // (snapshot 4 is the compact commit — same 3 rows, rewritten file)
    cat.vacuum(ident, keepLast = 1)
    val h2 = cat.history(ident)
    assert(h2.map(_._1) == Seq(4L))
    assert(h2.head._3 == 3L)
  }

  test("SQL CALL procedures: history, build_bloom_index, and vacuum run " +
    "from SQL and return their reports as result sets") {
    wh
    spark.range(0, 50, 2).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.proc").using("parquet").createOrReplace()
    spark.range(1, 50, 2).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.proc").append()
    val hist = spark.sql("CALL graftv2.system.history('bronze.proc')").collect()
    assert(hist.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1L, 1, 25L), (2L, 2, 50L)))
    val built = spark.sql(
      "CALL graftv2.system.build_bloom_index('bronze.proc', 'id')").collect()
    assert(built.head.getInt(0) === 2 && built.head.getInt(1) === 2)
    // the SQL-built index prunes like the API-built one
    spark.catalog.refreshTable("graftv2.bronze.proc")
    assert(spark.table("graftv2.bronze.proc").filter(col("id") === 43L).count() === 1)
    // truncate-overwrite then vacuum via SQL: old files reclaimed
    spark.range(100, 110).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.proc").overwrite(lit(true))
    val vac = spark.sql("CALL graftv2.system.vacuum('bronze.proc', 1)").collect()
    assert(vac.head.getInt(0) === 2, s"both pre-overwrite files reclaimed: ${vac.toSeq}")
    spark.catalog.refreshTable("graftv2.bronze.proc")
    assert(spark.table("graftv2.bronze.proc").count() === 10)
    // small-file compaction from SQL
    spark.range(200, 205).select(col("id")).repartition(1)
      .writeTo("graftv2.bronze.proc").append()
    val cmp = spark.sql("CALL graftv2.system.compact('bronze.proc', 1)").collect()
    assert(cmp.head.getInt(0) === 2 && cmp.head.getInt(1) === 1, s"${cmp.toSeq}")
    spark.catalog.refreshTable("graftv2.bronze.proc")
    assert(spark.table("graftv2.bronze.proc").count() === 15)
  }

  test("vacuum retention: keepLast preserves a time-travel window") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.ret").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((9L, "b", "2024-01-15")).writeTo("graftv2.bronze.ret").overwritePartitions() // snap 2
    t((10L, "c", "2024-01-15")).writeTo("graftv2.bronze.ret").overwritePartitions() // snap 3
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("bronze"), "ret")
    // keep the last 2: snapshot 2 must stay readable, snapshot 1's file goes
    val deleted = cat.vacuum(ident, keepLast = 2)
    assert(deleted == 1, s"expected only snap-1's file deleted, got $deleted")
    assert(spark.sql("SELECT id FROM graftv2.bronze.ret VERSION AS OF 2")
      .collect().head.getLong(0) == 9L)
    intercept[Exception] {
      spark.sql("SELECT * FROM graftv2.bronze.ret VERSION AS OF 1").collect()
    }
    assert(spark.table("graftv2.bronze.ret").collect().head.getAs[Long]("id") == 10L)
  }

  test("write.target-file-rows bounds rows per data file (writer rolls)") {
    wh
    spark.range(1000).select(col("id"), lit("2024-01-15").alias("extraction_date"))
      .coalesce(1) // single task: rolling is what bounds the file, not tasks
      .writeTo("graftv2.bronze.roll").using("parquet")
      .partitionedBy(col("extraction_date"))
      .tableProperty(GraftCatalog.TargetFileRowsProp, "100")
      .createOrReplace()
    val files = new java.io.File(s"$wh/bronze/roll/extraction_date=2024-01-15")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 10, s"expected 10 rolled files, got ${files.length}")
    spark.catalog.refreshTable("graftv2.bronze.roll")
    val perFile = spark.table("graftv2.bronze.roll")
      .groupBy(org.apache.spark.sql.functions.input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 100L) && perFile.sum == 1000L)
  }

  test("clusterTable z-orders stored files: tight per-file bounding boxes") {
    wh
    // 4096 grid points written in a scrambled order (worst-case layout)
    spark.range(4096).select(
        (col("id") / 64).cast("long").alias("x"), pmod(col("id"), lit(64)).alias("y"))
      .withColumn("r", pmod(xxhash64(col("x"), col("y")), lit(101)))
      .orderBy("r").drop("r")
      .repartition(8)
      .writeTo("graftv2.bronze.zt").using("parquet").createOrReplace()
    val cat = new GraftCatalog
    cat.initialize("graftv2", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    def maxFileExtent(): (Long, Long) = {
      spark.catalog.refreshTable("graftv2.bronze.zt")
      val r = spark.table("graftv2.bronze.zt")
        .groupBy(org.apache.spark.sql.functions.input_file_name())
        .agg((max("x") - min("x")).alias("ex"), (max("y") - min("y")).alias("ey"))
        .agg(max("ex"), max("ey")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (bx, by) = maxFileExtent()
    assert(bx == 63L && by == 63L, s"scrambled layout should span the grid: $bx,$by")
    val (before, after) = cat.clusterTable(spark, "bronze.zt", Seq("x", "y"),
      bits = 6, numFiles = 16)
    assert(before == 8 && after == 16, s"files $before -> $after")
    val (ax, ay) = maxFileExtent()
    // each file now covers a compact box (~16x16 on a 64-grid): min/max
    // stats can skip most files for a predicate on either column
    assert(ax <= 31L && ay <= 31L, s"clustered extents $ax,$ay")
    assert(spark.table("graftv2.bronze.zt").count() == 4096)
    // pre-rewrite snapshot still time-travels
    assert(spark.sql("SELECT count(*) FROM graftv2.bronze.zt VERSION AS OF 1")
      .collect().head.getLong(0) == 4096L)
  }

  test("V2CatalogWarehouse: idempotent same-date re-run via the V2 lifecycle") {
    wh
    val storage = new V2CatalogWarehouse(spark)
    val day = (id: Long, d: String) => t((id, s"r$id", d))
    storage.writePartitioned(day(1L, "2024-01-15"), "idem")
    storage.writePartitioned(day(2L, "2024-01-16"), "idem")
    // same-date re-run: replaces the 16th, keeps the 15th — and does not
    // duplicate on repeat
    storage.writePartitioned(day(3L, "2024-01-16"), "idem")
    storage.writePartitioned(day(3L, "2024-01-16"), "idem")
    val rows = storage.read("idem")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("extraction_date"))).toSet
    assert(rows == Set((1L, "2024-01-15"), (3L, "2024-01-16")))
    // table properties from the profile reached the catalog
    val props = spark.sql("SHOW TBLPROPERTIES graftv2.bronze.idem")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.format.default") == "parquet")
  }

  // ── Branches and tags (the reference's Nessie model, offline) ──────────

  private def cat = spark.sessionState.catalogManager.catalog("graftv2")
    .asInstanceOf[GraftCatalog]
  private def id(name: String) =
    org.apache.spark.sql.connector.catalog.Identifier.of(Array("bronze"), name)

  test("branch writes are isolated from main until merge") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-15"))
      .writeTo("graftv2.bronze.br1").using("parquet").createOrReplace()
    cat.createBranch(id("br1"), "dev")
    t((3L, "c", "2024-01-16")).writeTo("graftv2.bronze.br1")
      .option(GraftCatalog.BranchOption, "dev").append()
    // main untouched; branch sees base + its commit
    assert(spark.table("graftv2.bronze.br1").count() == 2)
    assert(spark.sql("SELECT count(*) FROM graftv2.bronze.br1 VERSION AS OF 'dev'")
      .collect().head.getLong(0) == 3L)
    // fast-forward merge: main's next snapshot is the branch head
    cat.mergeBranch(id("br1"), "dev")
    assert(spark.table("graftv2.bronze.br1").count() == 3)
    // an append-only branch merges as kind=append (every base file kept)
    assert(cat.history(id("br1")).last._6 == "append",
      s"append-only merge must record append, got ${cat.history(id("br1"))}")
    // ...while a branch that OVERWROTE must merge as kind=overwrite: its
    // added files carry a changed row set, and an appends-only stream
    // must not serve them as pure appends
    cat.createBranch(id("br1"), "rewr")
    t((9L, "z", "2024-01-17")).writeTo("graftv2.bronze.br1")
      .option(GraftCatalog.BranchOption, "rewr").overwrite(lit(true))
    cat.mergeBranch(id("br1"), "rewr")
    assert(cat.history(id("br1")).last._6 == "overwrite",
      s"a truncating branch must merge as overwrite, got ${cat.history(id("br1"))}")
    assert(spark.table("graftv2.bronze.br1").count() == 1)
  }

  test("merge conflicts when main advanced past the fork base") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.br2").using("parquet").createOrReplace()
    cat.createBranch(id("br2"), "feat")
    t((2L, "b", "2024-01-16")).writeTo("graftv2.bronze.br2")
      .option(GraftCatalog.BranchOption, "feat").append()
    // main moves after the fork -> the branch's state is stale
    t((9L, "m", "2024-01-17")).writeTo("graftv2.bronze.br2").append()
    val e = intercept[IllegalStateException] { cat.mergeBranch(id("br2"), "feat") }
    assert(e.getMessage.contains("merge conflict"))
    // writes to an unknown branch fail loudly
    val e2 = intercept[Exception] {
      t((5L, "x", "2024-01-18")).writeTo("graftv2.bronze.br2")
        .option(GraftCatalog.BranchOption, "nope").append()
    }
    assert(e2.getMessage.contains("unknown branch")
      || Option(e2.getCause).exists(_.getMessage.contains("unknown branch")))
  }

  test("tags pin a snapshot immutably and survive vacuum") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.tg").using("parquet").createOrReplace()
    cat.createTag(id("tg"), "v1")
    t((2L, "b", "2024-01-16")).writeTo("graftv2.bronze.tg").append()
    t((3L, "c", "2024-01-17")).writeTo("graftv2.bronze.tg").append()
    assert(spark.sql("SELECT count(*) FROM graftv2.bronze.tg VERSION AS OF 'v1'")
      .collect().head.getLong(0) == 1L)
    // tags never move
    intercept[java.io.IOException] { cat.createTag(id("tg"), "v1") }
    // vacuum keeps only the latest snapshot's files — EXCEPT tag-pinned ones
    cat.vacuum(id("tg"), keepLast = 1)
    assert(spark.sql("SELECT count(*) FROM graftv2.bronze.tg VERSION AS OF 'v1'")
      .collect().head.getLong(0) == 1L)
    assert(spark.table("graftv2.bronze.tg").count() == 3)
    val refs = cat.listRefs(id("tg"))
    assert(refs.exists { case (kind, name, _) => kind == "tag" && name == "v1" })
  }

  test("vacuum preserves a commit-less branch's fork base") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.brvac").using("parquet").createOrReplace()
    cat.createBranch(id("brvac"), "frozen")
    // main advances past the fork; the branch never commits
    t((2L, "b", "2024-01-16")).writeTo("graftv2.bronze.brvac").append()
    t((3L, "c", "2024-01-17")).writeTo("graftv2.bronze.brvac").append()
    cat.vacuum(id("brvac"), keepLast = 1)
    // the branch head IS its fork-base manifest: it must survive vacuum,
    // or the branch read silently widens to a directory listing holding
    // post-fork main data (isolation break)
    assert(spark.sql(
      "SELECT count(*) FROM graftv2.bronze.brvac VERSION AS OF 'frozen'")
      .collect().head.getLong(0) == 1L)
    assert(spark.table("graftv2.bronze.brvac").count() == 3)
  }

  test("write-audit-publish: failing batch never reaches main, passing one does") {
    wh
    import graft.quality.Expectations.{NotNull, InSet}
    import graft.storage.Wap
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.wap").using("parquet").createOrReplace()
    val rules = Seq(NotNull("name"), InSet("extraction_date",
      Seq("2024-01-15", "2024-01-16")))
    // bad batch: out-of-set date -> audit fails, main untouched
    val bad = Wap.writeAuditPublish(spark, cat, id("wap"), "graftv2.bronze.wap",
      t((2L, "b", "1999-12-31")), rules)
    assert(!bad.published)
    assert(spark.table("graftv2.bronze.wap").count() == 1)
    assert(cat.listRefs(id("wap")).isEmpty) // quarantine branch cleaned up
    // good batch: audit passes -> fast-forward publish
    val good = Wap.writeAuditPublish(spark, cat, id("wap"), "graftv2.bronze.wap",
      t((3L, "c", "2024-01-16")), rules)
    assert(good.published)
    assert(spark.table("graftv2.bronze.wap").count() == 2)
    assert(good.report.forall(_._4))
    // a leftover branch from a crashed prior cycle must not wedge retries
    cat.createBranch(id("wap"), "wap_audit")
    val retry = Wap.writeAuditPublish(spark, cat, id("wap"), "graftv2.bronze.wap",
      t((4L, "d", "2024-01-15")), rules)
    assert(retry.published)
    assert(spark.table("graftv2.bronze.wap").count() == 3)
  }

  test("dropBranch removes the ref and its commits; branch reads then fail") {
    wh
    t((1L, "a", "2024-01-15"))
      .writeTo("graftv2.bronze.br3").using("parquet").createOrReplace()
    cat.createBranch(id("br3"), "tmp")
    t((2L, "b", "2024-01-16")).writeTo("graftv2.bronze.br3")
      .option(GraftCatalog.BranchOption, "tmp").append()
    assert(cat.dropBranch(id("br3"), "tmp"))
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM graftv2.bronze.br3 VERSION AS OF 'tmp'").collect()
    }
    assert(!cat.dropBranch(id("br3"), "tmp")) // already gone
    assert(spark.table("graftv2.bronze.br3").count() == 1) // main intact
  }

  // 40 rows over 5 run-dates from 8 range tasks: a ~2 KB estimate
  private def fiveDays = spark.range(0, 40, 1, 8).select(col("id"),
    concat(lit("n"), col("id").cast("string")).as("name"),
    concat(lit("2024-01-1"), pmod(col("id"), lit(5)).cast("string")).as("extraction_date"))

  private def filesPerDay(table: String): Map[String, Int] =
    new java.io.File(s"$wh/bronze/$table").listFiles().toSeq
      .filter(_.getName.startsWith("extraction_date="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  test("an append that fits one advisory partition plans one task with no " +
      "exchange and writes one file per partition value") {
    wh
    fiveDays.limit(0).writeTo("graftv2.bronze.onetask").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    val Seq(plan) = executedPlans(fiveDays.writeTo("graftv2.bronze.onetask").append())
    assert(plan.contains("Coalesce 1") && !plan.contains("Exchange"), plan)
    assert(filesPerDay("onetask") == (0 until 5).map(i => s"extraction_date=2024-01-1$i" -> 1).toMap)
    assert(spark.table("graftv2.bronze.onetask").count() == 40)
  }

  test("an append above the table's advisory partition size keeps its rebalance") {
    wh
    fiveDays.limit(0).writeTo("graftv2.bronze.rebal").using("parquet")
      .tableProperty(GraftCatalog.AdvisoryWriteBytesProp, "1024")
      .partitionedBy(col("extraction_date")).createOrReplace()
    val Seq(plan) = executedPlans(fiveDays.writeTo("graftv2.bronze.rebal").append())
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL") && !plan.contains("Coalesce 1"), plan)
    assert(spark.table("graftv2.bronze.rebal").count() == 40)
  }

  test("a partition filter's scan estimates the kept partitions' bytes, not the table's") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", "2024-01-15"))
      .writeTo("graftv2.bronze.twoday").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((3L, "c", "2024-01-16")).writeTo("graftv2.bronze.twoday").append()
    def bytes(day: String) = new java.io.File(s"$wh/bronze/twoday/extraction_date=$day")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val all = spark.table("graftv2.bronze.twoday")
    def estimate(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate(all) == bytes("2024-01-15") + bytes("2024-01-16"))
    assert(estimate(all.filter(col("extraction_date") === "2024-01-15")) == bytes("2024-01-15"))
  }

  test("metadata-only aggregates over a null partition value equal the full scan's") {
    wh
    t((1L, "a", "2024-01-15"), (2L, "b", null), (3L, "c", null), (4L, "d", "2024-01-16"))
      .writeTo("graftv2.bronze.nullday").using("parquet")
      .partitionedBy(col("extraction_date")).createOrReplace()
    t((5L, "e", null)).writeTo("graftv2.bronze.nullday").append()
    val aggs = "count(extraction_date) AS cd, count(*) AS c, " +
      "min(extraction_date) AS mn, max(extraction_date) AS mx FROM graftv2.bronze.nullday"
    val qs = Seq(s"SELECT $aggs", s"SELECT extraction_date, $aggs GROUP BY extraction_date")
    def rows(q: String) = spark.sql(q).collect().map(_.toString).sorted.toSeq
    // the partition values ride the file paths: answered without a file scan
    assert(spark.sql(qs.head).queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }.isEmpty)
    val answered = qs.map(rows)
    spark.conf.set("spark.sql.graft.manifestAggregates", "false")
    val scanned = try qs.map(rows) finally
      spark.conf.set("spark.sql.graft.manifestAggregates", "true")
    assert(answered == scanned)
    assert(answered.head == Seq("[2,5,2024-01-15,2024-01-16]"))
  }
}
