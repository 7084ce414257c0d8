package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.KeyedScan

import graft.storage.GraftCatalog

/** Manifest-stats file skipping: the catalog records per-file column
  * min/max/null stats at commit time (parquet footers, once per file,
  * carried forward in manifests) and the scan drops provably-non-matching
  * files at filter-pushdown time — before any footer is opened. These
  * specs pin the pruning (scan file counts), the conservatism (files
  * without stats survive), and the composition with the Z-order rewrite.
  */
class FileSkippingSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh = {
    val dir = java.nio.file.Files.createTempDirectory("graft-skipwh").toString
    spark.conf.set("spark.sql.catalog.skipcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.skipcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS skipcat.s")
    dir
  }

  /** Files the (pre-AQE) physical scan would read. */
  private def scannedFiles(df: DataFrame): Int = {
    def count(s: org.apache.spark.sql.connector.read.Scan): Int = s match {
      case k: KeyedScan => k.delegate.fileIndex.inputFiles.length
      case p: ParquetScan => p.fileIndex.inputFiles.length
      case e: org.apache.spark.sql.graftshim.EqDeleteScan => count(e.delegate)
      case other => fail(s"unexpected scan: $other")
    }
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }.map(count).head
  }

  test("disjoint-range appends: a range predicate scans only matching files") {
    wh
    spark.range(0, 100).select(col("id"), concat(lit("low"), col("id")).as("tag"))
      .writeTo("skipcat.s.ranges").using("parquet").createOrReplace()
    spark.range(1000, 1100).select(col("id"), concat(lit("high"), col("id")).as("tag"))
      .writeTo("skipcat.s.ranges").append()
    val all = spark.table("skipcat.s.ranges")
    val total = scannedFiles(all)
    assert(total >= 2, s"expected at least two data files, got $total")
    val low = all.filter(col("id") < 50)
    assert(scannedFiles(low) < total,
      "id < 50 must drop every file of the 1000-1100 append")
    assert(low.count() == 50)
    val high = all.filter(col("id") >= 1000)
    assert(scannedFiles(high) < total)
    assert(high.count() == 100)
    // equality outside every range: everything pruned (one sentinel file
    // kept so the scan can build; footer stats reject its rows)
    val none = all.filter(col("id") === 500L)
    assert(scannedFiles(none) === 1)
    assert(none.count() === 0)
  }

  test("string stats prune; correctness equals the unpruned result") {
    wh
    Seq((1L, "apple"), (2L, "banana")).toDF("id", "w")
      .writeTo("skipcat.s.words").using("parquet").createOrReplace()
    Seq((3L, "melon"), (4L, "zebra")).toDF("id", "w")
      .writeTo("skipcat.s.words").append()
    val all = spark.table("skipcat.s.words")
    val total = scannedFiles(all)
    assert(total >= 2)
    val q = all.filter(col("w") === "zebra")
    assert(scannedFiles(q) < total, "w = 'zebra' must skip the apple/banana file")
    assert(q.select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    // prefix predicate
    val pre = all.filter(col("w").startsWith("ap"))
    assert(scannedFiles(pre) < total)
    assert(pre.count() == 1)
  }

  test("stats are carried forward across commits and survive more appends") {
    wh
    spark.range(0, 10).select(col("id"), lit("x").as("p")).repartition(1)
      .writeTo("skipcat.s.carry").using("parquet").createOrReplace()
    spark.range(100, 110).select(col("id"), lit("x").as("p")).repartition(1)
      .writeTo("skipcat.s.carry").append()
    spark.range(200, 210).select(col("id"), lit("x").as("p")).repartition(1)
      .writeTo("skipcat.s.carry").append()
    val all = spark.table("skipcat.s.carry")
    assert(scannedFiles(all) === 3)
    // predicate touching only the FIRST commit's range: both later files
    // pruned via stats carried into the latest manifest
    val q = all.filter(col("id") < 5)
    assert(scannedFiles(q) === 1)
    assert(q.count() == 5)
  }

  test("time travel prunes with the snapshot's own stats") {
    wh
    spark.range(0, 10).select(col("id")).writeTo("skipcat.s.tt")
      .using("parquet").createOrReplace()
    spark.range(100, 110).select(col("id")).writeTo("skipcat.s.tt").append()
    val v2 = spark.sql("SELECT * FROM skipcat.s.tt VERSION AS OF 2")
    assert(scannedFiles(v2.filter(col("id") >= 100)) <
      scannedFiles(v2))
    assert(v2.filter(col("id") >= 100).count() == 10)
  }

  test("Z-order rewrite composes: clustered files prune on range predicates") {
    wh
    // x ∈ [0, 256): unclustered single-commit files have full-range stats;
    // after clusterTable the Morton layout gives each file a compact x span
    spark.range(0, 4096)
      .select((col("id") % 256).as("x"), (col("id") / 16 % 256).as("y"),
        col("id").as("payload"))
      .writeTo("skipcat.s.zorder").using("parquet").createOrReplace()
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    cat.clusterTable(spark, "s.zorder", Seq("x", "y"), bits = 8, numFiles = 8)
    val all = spark.table("skipcat.s.zorder")
    val total = scannedFiles(all)
    assert(total >= 4, s"cluster rewrite should emit several files, got $total")
    val q = all.filter(col("x") < 16 && col("y") < 16)
    assert(scannedFiles(q) < total,
      "a compact (x, y) box must not scan every z-ordered file")
    assert(q.count() == all.filter(col("x") < 16 && col("y") < 16)
      .collect().length.toLong)
  }

  test("string pruning uses UTF-8 byte order (supplementary plane vs U+E000)") {
    wh
    // Spark's UTF8String and parquet footers order strings by UTF-8 bytes;
    // UTF-16 code units disagree above U+E000: the emoji's surrogates
    // (0xD83D...) sort BELOW U+E000 in code units but its UTF-8 lead byte
    // (0xF0) sorts ABOVE U+E000's (0xEE). A code-unit comparison prunes the
    // U+E000 file for `w < '😀'` even though every row in it matches.
    Seq((1L, ""), (2L, "x")).toDF("id", "w")
      .writeTo("skipcat.s.utf8ord").using("parquet").createOrReplace()
    Seq((3L, "😀")).toDF("id", "w")
      .writeTo("skipcat.s.utf8ord").append()
    val all = spark.table("skipcat.s.utf8ord")
    assert(all.filter(col("w") < "😀").count() === 2,
      "U+E000 rows sort below the emoji in Spark's UTF-8 order — file must not be pruned")
    assert(all.filter(col("w") > "x").count() === 1,
      "the emoji row sorts above U+E000x in UTF-8 order — file must not be pruned")
    assert(all.filter(col("w") === "😀").count() === 1)
  }

  test("mayMatch: unsigned UTF-8 byte order and unknown null counts") {
    import org.apache.spark.sql.sources._
    import graft.storage.{FileStatsPruning => P}
    import graft.storage.GraftCatalog.ColStat
    val e000 = Map("w" -> ColStat("s", 0L, "", ""))
    assert(P.mayMatch(e000, LessThan("w", "😀")),
      "U+E000 < U+1F600 in UTF-8 bytes (UTF-16 code units say otherwise)")
    assert(!P.mayMatch(e000, GreaterThan("w", "😀")))
    // prefix truncation happens in byte space, never mid-surrogate-pair
    val emoji = Map("w" -> ColStat("s", 0L, "😀a", "😀z"))
    assert(P.mayMatch(emoji, StringStartsWith("w", "😀")))
    assert(!P.mayMatch(emoji, StringStartsWith("w", "")))
    // nulls == -1 (writer omitted the count) must keep the file; only a
    // recorded 0 proves absence
    val unknownNulls = Map("c" -> ColStat("l", -1L, "0", "9"))
    assert(P.mayMatch(unknownNulls, IsNull("c")))
    assert(P.mayMatch(unknownNulls, EqualNullSafe("c", null)))
    assert(!P.mayMatch(Map("c" -> ColStat("l", 0L, "0", "9")), IsNull("c")))
  }

  test("metadata-only aggregates: min/max/count answered from manifest " +
    "stats, zero files scanned, values equal the full scan") {
    wh
    Seq((1L, Some(5.5), "apple"), (2L, None, "banana"))
      .toDF("id", "v", "w")
      .writeTo("skipcat.s.magg").using("parquet").createOrReplace()
    Seq((30L, Some(-2.25), "zebra"), (40L, None, "melon"))
      .toDF("id", "v", "w")
      .writeTo("skipcat.s.magg").append()
    val sql = "SELECT min(id) AS mn, max(id) AS mx, count(*) AS c, " +
      "count(v) AS cv, min(w) AS wmn, max(w) AS wmx, min(v) AS vmn " +
      "FROM skipcat.s.magg"
    val agg = spark.sql(sql)
    // the scan IS the answer: LocalTableScan of one pre-aggregated row,
    // no BatchScan, hence no parquet file (or footer) ever opened
    assert(agg.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty,
      "a manifest-answered aggregate must not plan a file scan")
    assert(agg.queryExecution.sparkPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.nonEmpty,
      "expected the pre-aggregated LocalTableScan")
    val got = agg.collect().head
    // correctness vs the real scan (manifest answering disabled)
    spark.conf.set("spark.sql.graft.manifestAggregates", "false")
    try {
      val full = spark.sql(sql)
      assert(full.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b }.nonEmpty, "conf off must plan a real scan")
      assert(got == full.collect().head,
        s"manifest answer $got != full-scan answer ${full.collect().head}")
    } finally spark.conf.set("spark.sql.graft.manifestAggregates", "true")
    assert(got.getLong(0) == 1L && got.getLong(1) == 40L &&
      got.getLong(2) == 4L && got.getLong(3) == 2L &&
      got.getString(4) == "apple" && got.getString(5) == "zebra" &&
      got.getDouble(6) == -2.25)
  }

  test("metadata-only aggregates stay conservative: filters, grouping, " +
    "distinct, and unsupported functions fall back to a real scan") {
    wh
    Seq((1L, "a"), (2L, "b")).toDF("id", "w")
      .writeTo("skipcat.s.maggfb").using("parquet").createOrReplace()
    def scans(q: String): Boolean =
      spark.sql(q).queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b }.nonEmpty
    // a filter makes per-file stats insufficient — must scan (and stay right)
    assert(scans("SELECT max(id) FROM skipcat.s.maggfb WHERE w = 'a'"))
    assert(spark.sql("SELECT max(id) AS m FROM skipcat.s.maggfb WHERE w = 'a'")
      .collect().head.getLong(0) == 1L)
    // grouping, distinct counts, sums: not stats-answerable
    assert(scans("SELECT w, max(id) FROM skipcat.s.maggfb GROUP BY w"))
    assert(scans("SELECT count(DISTINCT id) FROM skipcat.s.maggfb"))
    assert(scans("SELECT sum(id) FROM skipcat.s.maggfb"))
    // answers update with the table: an append moves max and count
    Seq((9L, "z")).toDF("id", "w").writeTo("skipcat.s.maggfb").append()
    val r = spark.sql("SELECT max(id) AS m, count(*) AS c FROM skipcat.s.maggfb")
    assert(r.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty)
    assert(r.collect().head == org.apache.spark.sql.Row(9L, 3L))
  }

  test("metadata-only aggregates: GROUP BY partition columns answered " +
    "from stats + the file index's partition values, zero files scanned") {
    wh
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "part")
      .writeTo("skipcat.s.maggp").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    Seq((10L, "b"), (11L, "c")).toDF("id", "part")
      .writeTo("skipcat.s.maggp").append()
    val q = "SELECT part, count(*) AS c, max(id) AS m, min(id) AS mn " +
      "FROM skipcat.s.maggp GROUP BY part"
    val df = spark.sql(q)
    assert(df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty,
      "a partition-grouped stats aggregate must not plan a file scan")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 2L, 2L, 1L), ("b", 2L, 10L, 3L), ("c", 1L, 11L, 11L)))
    // equality with the real scan
    spark.conf.set("spark.sql.graft.manifestAggregates", "false")
    try {
      val full = spark.sql(q)
      assert(full.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b }.nonEmpty)
      assert(full.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == got)
    } finally spark.conf.set("spark.sql.graft.manifestAggregates", "true")
    // grouping by a NON-partition column is not stats-answerable
    assert(spark.sql("SELECT id, count(*) FROM skipcat.s.maggp GROUP BY id")
      .queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.nonEmpty)
  }

  test("tag, branch, and incremental reads carry stats: refs prune files " +
    "and answer metadata aggregates like snapshot reads") {
    wh
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.range(0, 10).select(col("id")).writeTo("skipcat.s.refs")
      .using("parquet").createOrReplace()
    spark.range(100, 110).select(col("id")).writeTo("skipcat.s.refs").append()
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array("s"), "refs")
    cat.createTag(ident, "v1")
    cat.createBranch(ident, "dev")
    // tag read: stats from the pinned snapshot — pruning works
    val tagged = spark.sql("SELECT * FROM skipcat.s.refs VERSION AS OF 'v1'")
    assert(scannedFiles(tagged.filter(col("id") >= 100)) < scannedFiles(tagged))
    // ...and a filter-free aggregate answers from metadata (zero files)
    val tagAgg = spark.sql(
      "SELECT max(id) AS m, count(*) AS c FROM skipcat.s.refs VERSION AS OF 'v1'")
    assert(tagAgg.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty, "tag metadata aggregate must not scan")
    assert(tagAgg.collect().head == org.apache.spark.sql.Row(109L, 20L))
    // incremental read (files new in snap 2): b-snapshot stats prune
    val incr = spark.sql("SELECT * FROM skipcat.s.refs VERSION AS OF 'incr:1..2'")
    assert(incr.count() == 10)
    assert(scannedFiles(incr.filter(col("id") < 50)) < scannedFiles(
      spark.sql("SELECT * FROM skipcat.s.refs")))
    // branch read: fork-base stats prune inherited files; branch-new files
    // (no stats anywhere) are conservatively kept
    spark.range(1000, 1010).select(col("id"))
      .writeTo("skipcat.s.refs").option("graft.branch", "dev").append()
    val dev = spark.sql("SELECT * FROM skipcat.s.refs VERSION AS OF 'dev'")
    assert(dev.count() == 30)
    val devTotal = scannedFiles(dev)
    assert(scannedFiles(dev.filter(col("id") >= 1000)) < devTotal,
      "base-file stats must prune the base files for a branch-only range")
    assert(dev.filter(col("id") >= 1000).count() == 10)
    // branch-new files lack stats → a base-range query still reads them
    // (conservative) but drops the other base file
    assert(dev.filter(col("id") < 50).count() == 10)
  }

  test("NaN double stats degrade conservatively: no false all-null, no " +
    "metadata max, IsNotNull and range predicates keep the file") {
    wh
    // file(s) 1: clean doubles; file(s) 2: NaN + the true max + a null.
    // Spark's parquet writer records a raw NaN max for the second group
    // (verified on this JVM); older parquet-java readers scrub such stats
    // to "no bounds" instead. Either way the manifest must NOT (a) call
    // the file all-null — IsNotNull pruning would drop real rows — or
    // (b) answer max() from the surviving clean bounds (too narrow).
    Seq((1L, Some(1.5)), (2L, Some(2.5))).toDF("id", "v").coalesce(1)
      .writeTo("skipcat.s.nans").using("parquet").createOrReplace()
    Seq((3L, Some(Double.NaN)), (4L, Some(99.5)), (5L, None)).toDF("id", "v")
      .coalesce(1)
      .writeTo("skipcat.s.nans").append()
    val all = spark.table("skipcat.s.nans")
    val total = scannedFiles(all)
    assert(total == 2)
    // max(v) must fall back to a real scan (a manifest answer would be
    // 2.5 — or NaN-poisoned); the scan's answer is Spark's NaN-greatest
    val agg = spark.sql("SELECT max(v) AS m FROM skipcat.s.nans")
    assert(agg.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.nonEmpty,
      "max() over a NaN-polluted column must plan a real scan")
    assert(agg.collect().head.getDouble(0).isNaN)
    // null counts survive the degradation: count(*)/count(v) still answer
    // from the manifest with zero files opened
    val cnt = spark.sql("SELECT count(*) AS c, count(v) AS cv FROM skipcat.s.nans")
    assert(cnt.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty,
      "counts stay metadata-answerable (null count is exact)")
    assert(cnt.collect().head == org.apache.spark.sql.Row(5L, 4L))
    // IsNotNull must keep the NaN file (it holds 3 real rows — the
    // pre-fix code called a bounds-scrubbed file "all-null" and dropped it)
    val nn = all.filter(col("v").isNotNull)
    assert(scannedFiles(nn) == total, "IsNotNull must not drop the NaN file")
    assert(nn.count() == 4)
    // range predicate: the clean file prunes on its max (2.5 < 50), the
    // bounds-unknown file survives (NaN and 99.5 qualify — Spark orders
    // NaN greater than every double)
    val hi = all.filter(col("v") > 50.0)
    assert(scannedFiles(hi) == 1, "clean file prunes; bounds-unknown file stays")
    assert(hi.count() == 2)
    // IsNull still prunes the clean file (its recorded null count is 0)
    // and keeps the NaN file (its null count, 1, survived degradation)
    assert(all.filter(col("v").isNull).count() == 1)
  }

  test("finite parquet.statistics.truncate.length: string bounds still " +
    "prune (valid bounds) but metadata min/max refuses them (not values)") {
    wh
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.statistics.truncate.length", 2)
    try {
      Seq((1L, "apple"), (2L, "banana")).toDF("id", "w").coalesce(1)
        .writeTo("skipcat.s.trunc").using("parquet").createOrReplace()
      Seq((3L, "melon"), (4L, "zebra")).toDF("id", "w").coalesce(1)
        .writeTo("skipcat.s.trunc").append()
      val all = spark.table("skipcat.s.trunc")
      val total = scannedFiles(all)
      assert(total == 2)
      // min(w)/max(w) must NOT answer from the manifest: the recorded max
      // is an incremented 2-byte prefix ("zebra" → "zf"-ish), an upper
      // BOUND but not a value any row holds
      val agg = spark.sql("SELECT min(w) AS mn, max(w) AS mx FROM skipcat.s.trunc")
      assert(agg.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b }.nonEmpty,
        "truncated string bounds must fall back to a real scan for min/max")
      assert(agg.collect().head == org.apache.spark.sql.Row("apple", "zebra"))
      // ...while range pruning with the same truncated bounds stays valid:
      // the apple/banana file's truncated max bounds every value below "x"
      val hi = all.filter(col("w") >= "x")
      assert(scannedFiles(hi) < total, "truncated bounds must still prune")
      assert(hi.count() == 1)
      // numeric metadata aggregates are unaffected by string truncation
      val ids = spark.sql("SELECT min(id) AS mn, max(id) AS mx FROM skipcat.s.trunc")
      assert(ids.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b }.isEmpty)
      assert(ids.collect().head == org.apache.spark.sql.Row(1L, 4L))
    } finally hc.unset("parquet.statistics.truncate.length")
  }

  test("a foreign file written under truncation, adopted by a session " +
    "WITHOUT the conf, still classifies 't': metadata min/max refuses it") {
    wh
    // a foreign writer (Spark's own, no graft stamp) writes under a finite
    // truncation conf...
    val dir = s"$wh/s/adopt"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.statistics.truncate.length", 2)
    try {
      Seq((1L, "apple"), (2L, "zebra")).toDF("id", "w").coalesce(1)
        .write.mode("overwrite").parquet(dir)
    } finally hc.unset("parquet.statistics.truncate.length")
    // ...and the file is adopted into the catalog in a session where the
    // conf is UNSET — the recording session can't witness how the file's
    // bounds were produced, so sniffing ITS conf would classify "s" and
    // serve a truncated prefix as a metadata-only min()/max(). The stamp
    // (absent on a foreign file) must classify "t" instead.
    spark.sql("CREATE TABLE skipcat.s.adopt (id BIGINT, w STRING) USING parquet")
    Seq((3L, "melon")).toDF("id", "w").writeTo("skipcat.s.adopt").append()
    val agg = spark.sql("SELECT min(w) AS mn, max(w) AS mx FROM skipcat.s.adopt")
    assert(agg.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.nonEmpty,
      "adopted foreign string bounds must fall back to a real scan")
    assert(agg.collect().head == org.apache.spark.sql.Row("apple", "zebra"))
    // numeric bounds are truncation-immune: still metadata-only
    val ids = spark.sql("SELECT min(id) AS mn, max(id) AS mx FROM skipcat.s.adopt")
    assert(ids.collect().head == org.apache.spark.sql.Row(1L, 3L))
  }

  test("maintenance staging writes carry the truncation stamp: string " +
    "min()/max() stays metadata-only on files promoted by migrate_layout " +
    "and CoW rewrites") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    Seq((1L, "us", "apple"), (2L, "de", "zebra"), (3L, "us", "melon"))
      .toDF("id", "region", "w").repartition(1)
      .writeTo("skipcat.s.stamp").using("parquet").createOrReplace()
    // evolve to a partitioned spec, then migrate the legacy tail: the
    // promoted files go through the STAGED (plain-parquet) write path,
    // which must stamp the truncation setting like the V2 writer does
    spark.sql(s"""ALTER TABLE skipcat.s.stamp SET TBLPROPERTIES
      ('${GraftCatalog.PartitionByProp}' = 'region')""")
    val (migrated, _) = cat.migrateLayout(spark, "s.stamp")
    assert(migrated > 0)
    spark.catalog.refreshTable("skipcat.s.stamp")
    def strAgg() = spark.sql(
      "SELECT min(w) AS mn, max(w) AS mx FROM skipcat.s.stamp")
    assert(strAgg().queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty,
      "post-migration string bounds must classify exact (stamped) and " +
        "keep answering metadata-only — the capability the migration " +
        "exists to restore")
    assert(strAgg().collect().head == org.apache.spark.sql.Row("apple", "zebra"))
    // a CoW DELETE rewrite promotes through the same staged path
    val (rw, _, n) = cat.deleteWhere(spark, "s.stamp", col("id") === 2L)
    assert(rw >= 1 && n == 1L)
    spark.catalog.refreshTable("skipcat.s.stamp")
    assert(strAgg().queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b }.isEmpty,
      "post-CoW-rewrite string bounds must stay metadata-only")
    assert(strAgg().collect().head == org.apache.spark.sql.Row("apple", "melon"))
  }

  test("file bloom index: point lookups prune files min/max can't") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    // two files with fully OVERLAPPING id ranges (evens vs odds over
    // [0, 200)): every point probe passes both files' min/max, so range
    // stats prune nothing — exactly the shape the bloom index exists for
    spark.range(0, 200, 2)
      .select(col("id").cast("int").as("id"), concat(lit("w"), col("id")).as("tag"))
      .repartition(1)
      .writeTo("skipcat.s.blm").using("parquet").createOrReplace()
    spark.range(1, 200, 2)
      .select(col("id").cast("int").as("id"), concat(lit("w"), col("id")).as("tag"))
      .repartition(1)
      .writeTo("skipcat.s.blm").append()
    val all = spark.table("skipcat.s.blm")
    assert(scannedFiles(all) === 2)
    assert(scannedFiles(all.filter(col("id") === 42)) === 2,
      "overlapping ranges: min/max alone cannot prune a point lookup")
    val (fresh, total) = cat.buildBloomIndex(spark, "s.blm", Seq("id", "tag"))
    assert(fresh === 2 && total === 2)
    // int equality: present value → only its file; absent → everything
    // pruned (one sentinel file kept so the scan can build)
    val hit = spark.table("skipcat.s.blm").filter(col("id") === 42)
    assert(scannedFiles(hit) === 1)
    assert(hit.count() === 1)
    val miss = spark.table("skipcat.s.blm").filter(col("id") === 1000)
    assert(scannedFiles(miss) === 1)
    assert(miss.count() === 0)
    // string equality and IN-lists probe the same way
    val stag = spark.table("skipcat.s.blm").filter(col("tag") === "w43")
    assert(scannedFiles(stag) === 1)
    assert(stag.select("id").collect().map(_.getInt(0)).toSeq == Seq(43))
    val inq = spark.table("skipcat.s.blm")
      .filter(col("id").isin(2, 4, 6))
    assert(scannedFiles(inq) === 1)
    assert(inq.count() === 3)
    // a range predicate ignores blooms (and stays correct)
    assert(spark.table("skipcat.s.blm").filter(col("id") < 10).count() === 10)
  }

  test("merge-on-read × bloom index: point lookups prune through pending " +
    "deletes, deleted keys return nothing, and delete compaction " +
    "re-indexes its replacement files") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    // the overlapping evens/odds shape (min/max can't prune a point
    // probe), on a MERGE-ON-READ table
    spark.range(0, 200, 2)
      .select(col("id"), concat(lit("w"), col("id")).as("tag"))
      .repartition(1)
      .writeTo("skipcat.s.blmor").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "id")
      .createOrReplace()
    spark.range(1, 200, 2)
      .select(col("id"), concat(lit("w"), col("id")).as("tag"))
      .repartition(1)
      .writeTo("skipcat.s.blmor").append()
    assert(cat.buildBloomIndex(spark, "s.blmor", Seq("id")) === ((2, 2)))
    // pending equality delete of one key in the evens file
    Seq(42L).toDF("id").createOrReplaceTempView("blmor_del")
    spark.sql("""MERGE INTO skipcat.s.blmor t USING blmor_del s
      ON t.id = s.id WHEN MATCHED THEN DELETE""")
    spark.catalog.refreshTable("skipcat.s.blmor")
    // the bloom index keeps pruning THROUGH the delete-applying scan: the
    // deleted key's probe plans only its (bloom-matched) file, and the
    // delete applies on what it scans — zero rows, no resurrect
    val hit = spark.table("skipcat.s.blmor").filter(col("id") === 42)
    assert(scannedFiles(hit) === 1,
      "bloom pruning must reach the delete-applying read")
    assert(hit.count() === 0, "the pending delete must apply")
    val live = spark.table("skipcat.s.blmor").filter(col("id") === 43)
    assert(scannedFiles(live) === 1)
    assert(live.count() === 1)
    // delete compaction rewrites the evens file; the wired refresh gives
    // the REPLACEMENT file a bloom entry, so point pruning survives the
    // rewrite without a manual re-index
    val (rewritten, _) = cat.compactDeletes(spark, "s.blmor")
    assert(rewritten === 1)
    spark.catalog.refreshTable("skipcat.s.blmor")
    // replacement file indexed (else this probe would keep BOTH files —
    // missing entries are never skipped)
    val post = spark.table("skipcat.s.blmor").filter(col("id") === 44)
    assert(scannedFiles(post) === 1,
      "the compacted replacement file must prune by its refreshed bloom")
    assert(post.count() === 1)
    assert(spark.table("skipcat.s.blmor").filter(col("id") === 42).count() === 0)
    assert(spark.table("skipcat.s.blmor").count() === 199)
  }

  test("file bloom index: unindexed files are kept; re-index is incremental") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 100, 2).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmi").using("parquet").createOrReplace()
    spark.range(1, 100, 2).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmi").append()
    assert(cat.buildBloomIndex(spark, "s.blmi", Seq("id")) === ((2, 2)))
    // append AFTER the index build, with a RANGE-OVERLAPPING file (0,4,…,96
    // — min/max can't prune it either): no bloom entry — every probe keeps
    // it (conservative), correctness never at risk
    spark.range(0, 100, 4).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmi").append()
    val probe = spark.table("skipcat.s.blmi").filter(col("id") === 43)
    assert(scannedFiles(probe) === 2,
      "indexed even-file pruned; unindexed append kept conservatively")
    assert(probe.count() === 1)
    // second invocation indexes exactly the missing file
    assert(cat.buildBloomIndex(spark, "s.blmi", Seq("id")) === ((1, 3)))
    assert(scannedFiles(spark.table("skipcat.s.blmi")
      .filter(col("id") === 43)) === 1)
    // and a fully-indexed table re-invokes as a no-op
    assert(cat.buildBloomIndex(spark, "s.blmi", Seq("id")) === ((0, 3)))
  }

  test("file bloom index: a budget-chunked build appends per-chunk " +
    "sidecars and resumes; pruning equals the one-shot build") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 100).select((col("id") * 4).as("id")).repartition(1)
      .writeTo("skipcat.s.blmc").using("parquet").createOrReplace()
    (1 to 3).foreach { k =>
      spark.range(0, 100).select((col("id") * 4 + k).as("id")).repartition(1)
        .writeTo("skipcat.s.blmc").append()
    }
    // a one-file budget: 4 files -> 4 chunks, each its own sidecar
    assert(cat.buildBloomIndex(spark, "s.blmc", Seq("id"),
      chunkBudgetBytes = 1L) === ((4, 4)))
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/blmc")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fsys.listStatus(dir).map(_.getPath.getName)
      .count(_.startsWith("_bloomidx-"))
    assert(sidecars === 4, s"one sidecar per chunk, got $sidecars")
    // all four files indexed: a point probe plans exactly its holder
    val q = spark.table("skipcat.s.blmc").filter(col("id") === 43L)
    assert(scannedFiles(q) === 1)
    assert(q.count() === 1)
    assert(cat.buildBloomIndex(spark, "s.blmc", Seq("id")) === ((0, 4)))
  }

  test("file bloom index: date columns canonicalize to epoch days on both sides") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    // interleaved days of one month: overlapping date ranges in both files
    spark.range(1, 28, 2)
      .select(expr("date_add(DATE'2020-01-01', CAST(id AS INT))").as("d"))
      .repartition(1)
      .writeTo("skipcat.s.blmd").using("parquet").createOrReplace()
    spark.range(2, 28, 2)
      .select(expr("date_add(DATE'2020-01-01', CAST(id AS INT))").as("d"))
      .repartition(1)
      .writeTo("skipcat.s.blmd").append()
    cat.buildBloomIndex(spark, "s.blmd", Seq("d"))
    val q = spark.table("skipcat.s.blmd").filter(col("d") === lit("2020-01-16").cast("date"))
    assert(scannedFiles(q) === 1)
    assert(q.count() === 1)
  }

  test("file bloom index: dropping a column purges its sidecar entries — " +
    "a re-added same-name column starts unindexed, never mis-probed") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, s"w$i")).toDF("id", "tag").repartition(1)
      .writeTo("skipcat.s.blmdrop").using("parquet").createOrReplace()
    (50 until 100).map(i => (i.toLong, s"w$i")).toDF("id", "tag").repartition(1)
      .writeTo("skipcat.s.blmdrop").append()
    cat.buildBloomIndex(spark, "s.blmdrop", Seq("id", "tag"))
    spark.sql("ALTER TABLE skipcat.s.blmdrop DROP COLUMN tag")
    // the id entries survive; the tag entries are gone
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/blmdrop")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxFiles = fsys.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_bloomidx-"))
    assert(idxFiles.length === 1, s"consolidated to one sidecar: ${idxFiles.toSeq}")
    val in = fsys.open(new org.apache.hadoop.fs.Path(dir, idxFiles.head))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    assert(lines.count(_.nonEmpty) === 2, "one id entry per file, no tag entries")
    // id pruning still works after the purge
    spark.catalog.refreshTable("skipcat.s.blmdrop")
    assert(spark.table("skipcat.s.blmdrop").filter(col("id") === 7L).count() === 1)
    // re-indexing the re-added column starts from scratch
    spark.sql("ALTER TABLE skipcat.s.blmdrop ADD COLUMN tag STRING")
    assert(cat.buildBloomIndex(spark, "s.blmdrop", Seq("tag")) === ((2, 2)))
  }

  test("file bloom index: vacuum consolidates sidecars and drops dead entries") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 50).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmv").using("parquet").createOrReplace()
    cat.buildBloomIndex(spark, "s.blmv", Seq("id"))
    spark.range(50, 100).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmv").append()
    cat.buildBloomIndex(spark, "s.blmv", Seq("id")) // second sidecar generation
    // truncate overwrite: the old files leave the live set, then vacuum
    spark.range(1000, 1050).select(col("id")).repartition(1)
      .writeTo("skipcat.s.blmv").overwrite(lit(true))
    cat.buildBloomIndex(spark, "s.blmv", Seq("id"))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "blmv")
    assert(cat.vacuum(ident, keepLast = 1) > 0)
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/blmv")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxFiles = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_bloomidx-"))
    assert(idxFiles.length === 1, s"expected one consolidated sidecar, got ${idxFiles.toSeq}")
    // one line per (file, column): only the live file's entry survives
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, idxFiles.head))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    assert(lines.count(_.nonEmpty) === 1,
      s"only the live file's entry survives consolidation, got $lines")
    // the consolidated index still prunes
    val q = spark.table("skipcat.s.blmv").filter(col("id") === 5L)
    assert(scannedFiles(q) === 1) // all pruned -> sentinel
    assert(q.count() === 0)
    assert(spark.table("skipcat.s.blmv").filter(col("id") === 1005L).count() === 1)
  }

  test("deleteWhere: copy-on-write rewrites only bloom-pruned candidates; " +
    "time travel keeps the old rows; no-match is a no-op") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    // four files with interleaved ids (k, k+4, k+8, …): every file's range
    // spans the domain, so only the bloom index narrows the rewrite set
    spark.range(0, 100).select((col("id") * 4).as("id")).repartition(1)
      .writeTo("skipcat.s.del").using("parquet").createOrReplace()
    (1 to 3).foreach { k =>
      spark.range(0, 100).select((col("id") * 4 + k).as("id")).repartition(1)
        .writeTo("skipcat.s.del").append()
    }
    cat.buildBloomIndex(spark, "s.del", Seq("id"))
    assert(scannedFiles(spark.table("skipcat.s.del")) === 4)
    val (rw, kept, n) = cat.deleteWhere(spark, "s.del", col("id") === 42L)
    assert(rw === 1, "bloom narrows the rewrite to the one file holding 42")
    assert(kept === 3 && n === 1L)
    spark.catalog.refreshTable("skipcat.s.del")
    assert(spark.table("skipcat.s.del").count() === 399)
    assert(spark.table("skipcat.s.del").filter(col("id") === 42L).count() === 0)
    // every other row of the rewritten file survives
    assert(spark.table("skipcat.s.del").filter(col("id") % 4 === 2).count() === 99)
    // the pre-delete snapshot still serves the row (copy-on-write)
    val old = spark.sql("SELECT * FROM skipcat.s.del VERSION AS OF 4")
    assert(old.filter(col("id") === 42L).count() === 1)
    // no-match predicate: nothing rewritten, nothing committed
    val latestBefore = spark.sql("SELECT * FROM skipcat.s.del VERSION AS OF 5").count()
    val (rw2, _, n2) = cat.deleteWhere(spark, "s.del", col("id") === -5L)
    assert(rw2 === 0 && n2 === 0L)
    assert(latestBefore === 399)
    intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM skipcat.s.del VERSION AS OF 6").count()
    }
  }

  test("updateWhere: copy-on-write assignment over the bloom-pruned " +
    "rewrite set; self-referencing expressions; schema types held") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 100).select((col("id") * 2).as("id"),
        (col("id") % 7).cast("int").as("v")).repartition(1)
      .writeTo("skipcat.s.upd").using("parquet").createOrReplace()
    spark.range(0, 100).select((col("id") * 2 + 1).as("id"),
        (col("id") % 7).cast("int").as("v")).repartition(1)
      .writeTo("skipcat.s.upd").append()
    cat.buildBloomIndex(spark, "s.upd", Seq("id"))
    val (rw, kept, n) = cat.updateWhere(spark, "s.upd",
      col("id") === 42L, Map("v" -> (col("v") + 1000L)))
    assert(rw === 1 && kept === 1 && n === 1L,
      "bloom narrows the rewrite to the even file")
    spark.catalog.refreshTable("skipcat.s.upd")
    val updated = spark.table("skipcat.s.upd").filter(col("id") === 42L)
      .select("v").head().getInt(0)
    assert(updated === (21 % 7) + 1000, "self-referencing increment applied")
    // neighbors in the SAME rewritten file untouched; schema type held INT
    assert(spark.table("skipcat.s.upd").filter(col("id") === 44L)
      .select("v").head().getInt(0) === 22 % 7)
    assert(spark.table("skipcat.s.upd").schema("v").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(spark.table("skipcat.s.upd").count() === 200)
    // time travel shows the pre-update value
    assert(spark.sql("SELECT v FROM skipcat.s.upd VERSION AS OF 2")
      .where(col("v") >= 1000).count() === 0)
  }

  test("deleteWhere under a concurrent commit: conflict surfaces loudly, " +
    "promoted files are dropped, the table is untouched") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 50).select(col("id")).repartition(1)
      .writeTo("skipcat.s.delocc").using("parquet").createOrReplace()
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/delocc")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // another writer claims snapshot 2 BETWEEN our read and our commit:
    // a side-effecting predicate term (unpushable, so it also exercises
    // the prune-nothing degrade) creates the competing manifest the first
    // time the condition is evaluated — i.e. mid-deleteWhere
    val conflictFile = new java.io.File(s"$wh/s/delocc/_snap-2.manifest")
    val mkConflict = udf { (id: Long) =>
      if (!conflictFile.exists())
        java.nio.file.Files.write(conflictFile.toPath, "\n".getBytes("UTF-8"))
      false
    }
    val e = intercept[java.io.IOException] {
      cat.deleteWhere(spark, "s.delocc",
        col("id") === 7L || mkConflict(col("id")))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // no orphaned promoted files, no stage dir left behind
    val leftovers = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("del-") || n.startsWith("_stage_del"))
    assert(leftovers.isEmpty, s"orphans: ${leftovers.toSeq}")
    // snapshot 1's data is intact
    assert(spark.sql("SELECT * FROM skipcat.s.delocc VERSION AS OF 1").count() === 50)
  }

  test("row-level DML on hive-partitioned tables: rewritten rows return " +
    "to their partition dirs; a partition-column update moves the row") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    spark.sql("CREATE TABLE skipcat.s.pdel (id BIGINT, p STRING) " +
      "USING parquet PARTITIONED BY (p)")
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("id", "p").repartition(1)
      .writeTo("skipcat.s.pdel").append()
    val (rwD, _, nD) = cat.deleteWhere(spark, "s.pdel", col("id") === 3L)
    assert(nD === 1L)
    assert(rwD >= 1)
    spark.catalog.refreshTable("skipcat.s.pdel")
    assert(spark.table("skipcat.s.pdel").count() === 3)
    // partition pruning still serves the layout after the rewrite
    assert(spark.table("skipcat.s.pdel").filter(col("p") === "b")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    // updating the PARTITION column moves the row to its new directory
    val (_, _, nU) = cat.updateWhere(spark, "s.pdel",
      col("id") === 2L, Map("p" -> lit("c")))
    assert(nU === 1L)
    spark.catalog.refreshTable("skipcat.s.pdel")
    assert(spark.table("skipcat.s.pdel").filter(col("p") === "c")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.table("skipcat.s.pdel").filter(col("p") === "a")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.table("skipcat.s.pdel").count() === 3)
  }

  test("SQL DELETE FROM routes through the copy-on-write path: bloom-" +
    "narrowed rewrite, time travel intact, history shows the file diff") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 100).select((col("id") * 2).as("id")).repartition(1)
      .writeTo("skipcat.s.sqldel").using("parquet").createOrReplace()
    spark.range(0, 100).select((col("id") * 2 + 1).as("id")).repartition(1)
      .writeTo("skipcat.s.sqldel").append()
    cat.buildBloomIndex(spark, "s.sqldel", Seq("id"))
    spark.sql("DELETE FROM skipcat.s.sqldel WHERE id = 42")
    spark.catalog.refreshTable("skipcat.s.sqldel")
    assert(spark.table("skipcat.s.sqldel").count() === 199)
    assert(spark.table("skipcat.s.sqldel").filter(col("id") === 42L).count() === 0)
    assert(spark.sql("SELECT * FROM skipcat.s.sqldel VERSION AS OF 2")
      .filter(col("id") === 42L).count() === 1)
    // history: the delete snapshot swapped exactly the even file
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "sqldel")
    val last = cat.history(ident).last
    assert(last._1 === 3L && last._4 === 1 && last._5 === 1,
      s"expected +1/-1 files at snapshot 3, got $last")
    assert(last._3 === 199L)
    // compound conditions translate too
    spark.sql("DELETE FROM skipcat.s.sqldel WHERE id >= 10 AND id < 14")
    spark.catalog.refreshTable("skipcat.s.sqldel")
    assert(spark.table("skipcat.s.sqldel").count() === 195)
  }

  test("metadata-only delete: files whose stats prove full containment " +
    "drop without a read; partial files rewrite; untouched files carry") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    // three files with DISJOINT ranges — the retention-expiry layout
    spark.range(0, 100).select(col("id")).repartition(1)
      .writeTo("skipcat.s.mdel").using("parquet").createOrReplace()
    spark.range(100, 200).select(col("id")).repartition(1)
      .writeTo("skipcat.s.mdel").append()
    spark.range(200, 300).select(col("id")).repartition(1)
      .writeTo("skipcat.s.mdel").append()
    // id < 150: file1 provably all-match (max 99 < 150) -> metadata drop;
    // file2 partial -> rewritten; file3 pruned outright (min 200)
    val (removed, carried, rows) =
      cat.deleteWhere(spark, "s.mdel", col("id") < 150L)
    assert(removed === 2 && carried === 1 && rows === 150L)
    spark.catalog.refreshTable("skipcat.s.mdel")
    assert(spark.table("skipcat.s.mdel").count() === 150)
    assert(spark.table("skipcat.s.mdel").agg(min(col("id"))).head.getLong(0) === 150L)
    // exactly ONE rewritten file was produced (file2's remainder); the
    // proven file left no del- artifact beyond it
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/mdel")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(dir).map(_.getPath.getName)
      .count(_.startsWith("del-")) === 1)
    // PURE metadata delete: every candidate proven -> no rewrite at all
    val (r2, c2, n2) = cat.deleteWhere(spark, "s.mdel", col("id") < 200L)
    assert(r2 === 1 && n2 === 50L)
    spark.catalog.refreshTable("skipcat.s.mdel")
    assert(spark.table("skipcat.s.mdel").count() === 100)
    assert(fsys.listStatus(dir).map(_.getPath.getName)
      .count(_.startsWith("del-")) === 1, "no new rewrite artifact")
    // both prior snapshots stay time-travelable
    assert(spark.sql("SELECT count(*) FROM skipcat.s.mdel VERSION AS OF 3")
      .head.getLong(0) === 300)
  }

  test("SQL UPDATE: group-based copy-on-write rewrites only the " +
    "stats/bloom-pruned files; results and time travel correct") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    spark.range(0, 100).select((col("id") * 2).as("id"),
        lit(0L).as("v")).repartition(1)
      .writeTo("skipcat.s.squpd").using("parquet").createOrReplace()
    spark.range(0, 100).select((col("id") * 2 + 1).as("id"),
        lit(0L).as("v")).repartition(1)
      .writeTo("skipcat.s.squpd").append()
    cat.buildBloomIndex(spark, "s.squpd", Seq("id"))
    spark.sql("UPDATE skipcat.s.squpd SET v = v + 7 WHERE id = 42")
    spark.catalog.refreshTable("skipcat.s.squpd")
    assert(spark.table("skipcat.s.squpd").filter(col("id") === 42L)
      .head.getLong(1) === 7L)
    assert(spark.table("skipcat.s.squpd").filter(col("v") =!= 0L).count() === 1)
    assert(spark.table("skipcat.s.squpd").count() === 200)
    // the rewrite replaced only the bloom-pruned even file: the odd file
    // survives in the new manifest untouched
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "squpd")
    val last = cat.history(ident).last
    assert(last._5 === 1, s"exactly one file replaced, got $last")
    assert(last._3 === 200L)
    // time travel: pre-update value intact
    assert(spark.sql("SELECT v FROM skipcat.s.squpd VERSION AS OF 2")
      .filter(col("v") =!= 0L).count() === 0)
  }

  test("SQL MERGE INTO: upserts and deletes against the live table") {
    wh
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "w").repartition(1)
      .writeTo("skipcat.s.sqmrg").using("parquet").createOrReplace()
    Seq((2L, "B", "u"), (3L, "c", "d"), (4L, "D", "u"))
      .toDF("id", "w", "op").createOrReplaceTempView("changes")
    spark.sql("""
      MERGE INTO skipcat.s.sqmrg t USING changes s ON t.id = s.id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET w = s.w
      WHEN NOT MATCHED THEN INSERT (id, w) VALUES (s.id, s.w)""")
    spark.catalog.refreshTable("skipcat.s.sqmrg")
    val out = spark.table("skipcat.s.sqmrg").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (4L, "D")), s"got $out")
    // prior snapshot intact
    assert(spark.sql("SELECT * FROM skipcat.s.sqmrg VERSION AS OF 1").count() === 3)
  }

  test("SQL MERGE INTO a hive-partitioned table: rewritten rows return " +
    "to partition dirs, inserts land in theirs") {
    wh
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b")).toDF("id", "v", "p")
      .repartition(1)
      .writeTo("skipcat.s.pmrg").using("parquet")
      .partitionedBy(col("p")).createOrReplace()
    Seq((2L, 200L, "a"), (9L, 900L, "c")).toDF("id", "v", "p")
      .createOrReplaceTempView("pchanges")
    spark.sql("""
      MERGE INTO skipcat.s.pmrg t USING pchanges s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    spark.catalog.refreshTable("skipcat.s.pmrg")
    val out = spark.table("skipcat.s.pmrg").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq((1L, 10L, "a"), (2L, 200L, "a"), (3L, 30L, "b"),
      (9L, 900L, "c")), s"got $out")
    // partition pruning still serves the layout post-merge
    assert(spark.table("skipcat.s.pmrg").filter(col("p") === "c")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("SQL MERGE INTO a bucketed table: rewritten rows re-route to " +
    "their buckets; the layout survives the rewrite") {
    wh
    import spark.implicits._
    import org.apache.spark.sql.functions.bucket
    (1 to 40).map(i => (i.toLong, i * 10L)).toDF("id", "v")
      .writeTo("skipcat.s.bmrg").using("parquet")
      .partitionedBy(bucket(4, col("id"))).createOrReplace()
    Seq((7L, 7000L), (100L, 1L)).toDF("id", "v")
      .createOrReplaceTempView("bchanges")
    spark.sql("""
      MERGE INTO skipcat.s.bmrg t USING bchanges s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    spark.catalog.refreshTable("skipcat.s.bmrg")
    assert(spark.table("skipcat.s.bmrg").count() === 41)
    assert(spark.table("skipcat.s.bmrg").filter(col("id") === 7L)
      .head.getLong(1) === 7000L)
    assert(spark.table("skipcat.s.bmrg").filter(col("id") === 100L).count() === 1)
    // rewritten files landed under __bucket_id=N dirs (the writer's
    // routing), not at the table root
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/bmrg")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName).forall(n => n.startsWith("_") || n.startsWith(".")),
      "no data file may sit at the table root of a bucketed layout")
  }

  test("runtime group filtering: a MERGE whose source touches ONE " +
    "partition stops rewriting the cold partitions") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    // three partitions, two files each
    (1 to 60).map(i => (i.toLong, i * 10L, s"p${i % 3}"))
      .toDF("id", "v", "p").repartition(2)
      .writeTo("skipcat.s.rgfm").using("parquet")
      // two files per partition: opt out of the hash write distribution
      // (which would consolidate each partition to one file)
      .tableProperty(graft.storage.GraftCatalog.WriteDistributionProp, "none")
      .partitionedBy(col("p")).createOrReplace()
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/rgfm")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = GraftCatalog.liveDataFiles(fsys, dir)
    val coldBefore = before.filterNot(_.startsWith("p=p1/")).toSet
    assert(before.count(_.startsWith("p=p1/")) == 2)
    // source rows only match ids whose partition is p1 (id % 3 == 1);
    // the ON condition itself says nothing about partitions — the
    // runtime filter must discover that from the MATCHED rows
    Seq((1L, -1L), (4L, -4L), (7L, -7L)).toDF("id", "v")
      .createOrReplaceTempView("rgfm_src")
    spark.sql("""MERGE INTO skipcat.s.rgfm t USING rgfm_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    spark.catalog.refreshTable("skipcat.s.rgfm")
    // correctness: exactly the three matched rows updated
    assert(spark.table("skipcat.s.rgfm").filter(col("v") < 0).count() === 3)
    assert(spark.table("skipcat.s.rgfm").count() === 60)
    // the commit replaced only p1's files — the cold partitions' files
    // are byte-identical survivors
    val after = GraftCatalog.liveDataFiles(fsys, dir).toSet
    assert(coldBefore.subsetOf(after),
      s"cold partitions must not be rewritten:\n lost ${coldBefore -- after}")
    assert(before.toSet.intersect(after)
      .forall(!_.startsWith("p=p1/")),
      "the hot partition's files must have been replaced")
  }

  test("runtime group filtering on a MULTI-LEVEL partitioned table: the " +
    "leading partition column still prunes (a multi-attribute report " +
    "becomes an untranslatable struct-IN and disables filtering)") {
    wh
    import spark.implicits._
    // (p, q) two-level layout; matches live only under p=p1
    (1 to 60).map(i => (i.toLong, i * 10L, s"p${i % 3}", s"q${i % 2}"))
      .toDF("id", "v", "p", "q").repartition(2)
      .writeTo("skipcat.s.rgfm2").using("parquet")
      .partitionedBy(col("p"), col("q")).createOrReplace()
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/rgfm2")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = GraftCatalog.liveDataFiles(fsys, dir)
    val coldBefore = before.filterNot(_.startsWith("p=p1/")).toSet
    assert(coldBefore.nonEmpty)
    Seq((1L, -1L), (4L, -4L), (7L, -7L)).toDF("id", "v")
      .createOrReplaceTempView("rgfm2_src")
    spark.sql("""MERGE INTO skipcat.s.rgfm2 t USING rgfm2_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    spark.catalog.refreshTable("skipcat.s.rgfm2")
    assert(spark.table("skipcat.s.rgfm2").filter(col("v") < 0).count() === 3)
    assert(spark.table("skipcat.s.rgfm2").count() === 60)
    val after = GraftCatalog.liveDataFiles(fsys, dir).toSet
    assert(coldBefore.subsetOf(after),
      s"p!=p1 files must survive byte-identical:\n lost ${coldBefore -- after}")
  }

  test("runtime group filtering: an insert-only MERGE (source matches " +
    "nothing) filters the scan to zero files and rewrites nothing") {
    wh
    import spark.implicits._
    (1 to 30).map(i => (i.toLong, i * 10L, s"p${i % 3}"))
      .toDF("id", "v", "p").repartition(2)
      .writeTo("skipcat.s.rgfi").using("parquet")
      .partitionedBy(col("p")).createOrReplace()
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/rgfi")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = GraftCatalog.liveDataFiles(fsys, dir).toSet
    // ids far outside the table: zero matches -> the runtime filter's
    // matched-partition set is empty, the rewrite scan collapses to the
    // empty set, and the commit replaces nothing while inserts land
    Seq((1000L, -1L, "p9"), (1001L, -2L, "p9")).toDF("id", "v", "p")
      .createOrReplaceTempView("rgfi_src")
    spark.sql("""MERGE INTO skipcat.s.rgfi t USING rgfi_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id, s.v, s.p)""")
    spark.catalog.refreshTable("skipcat.s.rgfi")
    assert(spark.table("skipcat.s.rgfi").count() === 32)
    assert(spark.table("skipcat.s.rgfi").filter(col("p") === "p9").count() === 2)
    val after = GraftCatalog.liveDataFiles(fsys, dir).toSet
    assert(before.subsetOf(after),
      s"an insert-only merge must rewrite nothing: lost ${before -- after}")
  }

  test("SQL DELETE with an untranslatable condition falls back to the " +
    "group-based rewrite (it used to refuse) and stays correct") {
    wh
    spark.range(0, 100).select(col("id")).repartition(1)
      .writeTo("skipcat.s.udel").using("parquet").createOrReplace()
    // id % 7 = 3 does not translate to a source filter -> the
    // SupportsDelete fast path declines and the row-level rewrite runs
    spark.sql("DELETE FROM skipcat.s.udel WHERE id % 7 = 3")
    spark.catalog.refreshTable("skipcat.s.udel")
    assert(spark.table("skipcat.s.udel").count() ===
      (0L until 100L).count(_ % 7 != 3))
    assert(spark.table("skipcat.s.udel").filter(col("id") % 7 === 3).count() === 0)
    assert(spark.sql("SELECT * FROM skipcat.s.udel VERSION AS OF 1").count() === 100)
  }

  test("SQL TRUNCATE TABLE empties the live table via the delete path; " +
    "the pre-truncate snapshot stays readable") {
    wh
    spark.range(0, 30).select(col("id")).repartition(1)
      .writeTo("skipcat.s.trunc").using("parquet").createOrReplace()
    spark.sql("TRUNCATE TABLE skipcat.s.trunc")
    spark.catalog.refreshTable("skipcat.s.trunc")
    assert(spark.table("skipcat.s.trunc").count() === 0)
    assert(spark.sql("SELECT * FROM skipcat.s.trunc VERSION AS OF 1").count() === 30)
    // and it took the metadata path: no rewrite artifact exists
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/trunc")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(dir).map(_.getPath.getName)
      .count(_.startsWith("del-")) === 0)
  }

  test("row-level DML on bucketed tables: rewritten rows re-route to " +
    "their hash buckets") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    import org.apache.spark.sql.functions.bucket
    (1 to 40).map(i => (i.toLong, i * 10L)).toDF("id", "v")
      .writeTo("skipcat.s.bdml").using("parquet")
      .partitionedBy(bucket(4, col("id"))).createOrReplace()
    val (_, _, nDel) = cat.deleteWhere(spark, "s.bdml", col("id") === 7L)
    assert(nDel === 1L)
    spark.catalog.refreshTable("skipcat.s.bdml")
    assert(spark.table("skipcat.s.bdml").count() === 39)
    val (_, _, nUpd) = cat.updateWhere(spark, "s.bdml",
      col("id") === 8L, Map("v" -> lit(8000L)))
    assert(nUpd === 1L)
    spark.catalog.refreshTable("skipcat.s.bdml")
    assert(spark.table("skipcat.s.bdml").filter(col("id") === 8L)
      .head.getLong(1) === 8000L)
    // the rewritten rows live under __bucket_id=N dirs, none at the root
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/bdml")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .forall(n => n.startsWith("_") || n.startsWith(".")))
    // and the bucket layout still answers a bucketed read correctly
    assert(spark.table("skipcat.s.bdml").agg(sum(col("v"))).head.getLong(0)
      === (1 to 40).map(_ * 10L).sum - 70L - 80L + 8000L)
    // vacuum reclaims the superseded bucketed files (they live under
    // __bucket_* dirs, which the dead-file listing must not skip)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("s"), "bdml")
    assert(cat.vacuum(ident, keepLast = 1) >= 2,
      "the delete- and update-superseded bucket files must be reclaimed")
    spark.catalog.refreshTable("skipcat.s.bdml")
    assert(spark.table("skipcat.s.bdml").count() === 39)
  }

  test("partition-value DML: virtual path stats scope the rewrite; a " +
    "whole-partition DELETE is a pure metadata drop") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"), (4L, 40L, "c"))
      .toDF("id", "v", "p").repartition(1)
      .writeTo("skipcat.s.pv").using("parquet")
      .partitionedBy(col("p")).createOrReplace()
    // drop-partition: every file of p='b' provably all-match via the
    // path-derived stats -> metadata-only, zero rewrite artifacts
    val (rm, _, n) = cat.deleteWhere(spark, "s.pv", col("p") === "b")
    assert(n === 1L && rm === 1)
    spark.catalog.refreshTable("skipcat.s.pv")
    assert(spark.table("skipcat.s.pv").count() === 3)
    val dir = new org.apache.hadoop.fs.Path(s"$wh/s/pv")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rewrites(prefix: String): Int = {
      val it = fsys.listFiles(dir, true)
      var c = 0
      while (it.hasNext) { if (it.next().getPath.getName.startsWith(prefix)) c += 1 }
      c
    }
    assert(rewrites("del-") === 0, "drop-partition must not stage a rewrite")
    // partition-scoped UPDATE through SQL: only p='a' files rewrite
    spark.sql("UPDATE skipcat.s.pv SET v = v + 100 WHERE p = 'a'")
    spark.catalog.refreshTable("skipcat.s.pv")
    assert(spark.table("skipcat.s.pv").filter(col("p") === "a")
      .agg(sum(col("v"))).head.getLong(0) === 230L)
    assert(spark.table("skipcat.s.pv").filter(col("p") === "c")
      .head.getLong(1) === 40L)
    // the c partition's file was carried, not rewritten: still exactly
    // one data file under p=c
    val cfiles = fsys.listStatus(new org.apache.hadoop.fs.Path(dir, "p=c"))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    assert(cfiles === 1)
  }

  test("deleteWhere: NULL-condition rows are kept (SQL DELETE semantics)") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    Seq((1L, "drop"), (2L, "keep"), (3L, null.asInstanceOf[String]))
      .toDF("id", "tag").repartition(1)
      .writeTo("skipcat.s.delnull").using("parquet").createOrReplace()
    val (_, _, n) = cat.deleteWhere(spark, "s.delnull", col("tag") === "drop")
    assert(n === 1L)
    spark.catalog.refreshTable("skipcat.s.delnull")
    val left = spark.table("skipcat.s.delnull").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(left == Seq(2L, 3L), "the NULL-tag row must survive")
  }

  test("partitioned tables keep SPJ keys AND prune data files by stats") {
    wh
    Seq((1L, 5L, "a"), (2L, 6L, "a")).toDF("id", "v", "part")
      .writeTo("skipcat.s.parted").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    Seq((3L, 500L, "a"), (4L, 600L, "a")).toDF("id", "v", "part")
      .writeTo("skipcat.s.parted").append()
    val all = spark.table("skipcat.s.parted")
    val total = scannedFiles(all)
    assert(total >= 2)
    val q = all.filter(col("v") > 100)
    assert(scannedFiles(q) < total,
      "stats pruning must drop the low-v file inside the same partition")
    assert(q.count() == 2)
  }

  test("partitioned tables compose with the bloom index: a data-column " +
    "point probe prunes inside partitions, partition pruning unaffected") {
    wh
    val cat = spark.sessionState.catalogManager.catalog("skipcat")
      .asInstanceOf[GraftCatalog]
    import spark.implicits._
    // two partitions, two files each, ranges overlapping within a
    // partition (evens vs odds) — only the bloom can prune inside one
    (0 until 100 by 2).map(i => (i.toLong, "a")).toDF("id", "part").repartition(1)
      .writeTo("skipcat.s.pblm").using("parquet")
      .partitionedBy(col("part")).createOrReplace()
    (1 until 100 by 2).map(i => (i.toLong, "a")).toDF("id", "part").repartition(1)
      .writeTo("skipcat.s.pblm").append()
    (0 until 100 by 2).map(i => (i.toLong, "b")).toDF("id", "part").repartition(1)
      .writeTo("skipcat.s.pblm").append()
    (1 until 100 by 2).map(i => (i.toLong, "b")).toDF("id", "part").repartition(1)
      .writeTo("skipcat.s.pblm").append()
    assert(cat.buildBloomIndex(spark, "s.pblm", Seq("id")) === ((4, 4)))
    val all = spark.table("skipcat.s.pblm")
    assert(scannedFiles(all) === 4)
    // partition filter + point probe: the bloom drops both EVEN files
    // and the partition value drops b's odd file from the served set
    // (scannedFiles counts the served file set; a file's partition value
    // from its path prunes it there like a column stat), so one file is
    // served, and the result is partition-correct
    val q = all.filter(col("part") === "a" && col("id") === 43L)
    assert(scannedFiles(q) === 1)
    assert(q.count() === 1)
    // point probe alone: one file per partition survives (the odd ones)
    val q2 = all.filter(col("id") === 43L)
    assert(scannedFiles(q2) === 2)
    assert(q2.count() === 2)
  }

  test("hash write distribution splits a hot partition value; uniform " +
      "partitions keep one file each") {
    wh
    // 90% of rows share one partition value; the advisory is set small
    // enough (64 KiB) that the hot value's shuffle bytes exceed it, so
    // the write's non-strict clustered distribution (AQE REBALANCE)
    // must SPLIT the hot partition across tasks — multiple files for
    // the hot value instead of one straggler task — while each cold
    // value still commits exactly one file (coalesced tasks write one
    // file per value: the writer splits by partition dir within a task)
    val n = 20000L
    val df = spark.range(n).select(
      col("id"),
      when(pmod(col("id"), lit(10)) === 0,
        concat(lit("cold"), pmod(floor(col("id") / 10), lit(5)).cast("string")))
        .otherwise(lit("hot")).as("part"),
      concat(lit("x"), lpad(col("id").cast("string"), 96, "0")).as("payload"))
    // create empty, then APPEND: Spark applies a write's required
    // distribution to AppendData/Overwrite plans (CTAS plans its own
    // query unrepartitioned), and the append is the path the evolution/
    // DML surface exercises
    df.limit(0).writeTo("skipcat.s.skewed").using("parquet")
      .tableProperty(GraftCatalog.AdvisoryWriteBytesProp, (64 * 1024).toString)
      .partitionedBy(col("part"))
      .createOrReplace()
    // the rebalance hashes values into shuffle.partitions buckets; at the
    // suite's 4 partitions a cold value can share the hot value's bucket
    // and be mapper-range-split along with it — give the hash room so the
    // per-value assertions are about clustering, not bucket collisions
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      df.writeTo("skipcat.s.skewed").append()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    def filesIn(part: String): Int = {
      val d = new java.io.File(s"$wh/s/skewed/part=$part")
      Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
    assert(spark.table("skipcat.s.skewed").count() === n)
    val hotFiles = filesIn("hot")
    assert(hotFiles >= 2,
      s"hot partition value must split across write tasks, got $hotFiles file(s)")
    Seq("cold0", "cold1", "cold2", "cold3", "cold4").foreach { p =>
      assert(filesIn(p) === 1, s"uniform partition $p must stay one file")
    }
  }
}
