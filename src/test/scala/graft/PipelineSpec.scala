package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

import graft.ingest.RecordFetcher
import graft.layers.{Bronze, Gold, Silver}
import graft.pipeline.Runner
import graft.storage.{CatalogWarehouse, ParquetWarehouse, Storage, V2CatalogWarehouse}

/** Medallion-pipeline parity tests: golden values distilled from the
  * reference's unit/integration suites (FIXTURES.md §1/§3 — the reference's
  * own tests cannot run as shipped; these implement their asserted intent).
  */
class PipelineSpec extends SparkSpec with TimeLimits {

  // interrupt a run whose Observation.get never returns, so a write path
  // that stops publishing its metrics fails instead of hanging the suite
  private implicit val signaler: Signaler = ThreadSignaler

  private def rec(
      id: String, name: String, btype: String, city: String, state: String,
      country: String, phone: String, lon: String = "-122.5", lat: String = "45.5"): String = {
    def f(v: String) = if (v == null) "null" else "\"" + v + "\""
    s"""{"id": ${f(id)}, "name": ${f(name)}, "brewery_type": ${f(btype)},
        "address_1": "123 Test St", "city": ${f(city)}, "state_province": ${f(state)},
        "postal_code": "12345", "country": ${f(country)},
        "longitude": ${f(lon)}, "latitude": ${f(lat)},
        "phone": ${f(phone)}, "website_url": "http://test.com"}"""
  }

  // The 3-record sample fixture pinned by tests/unit/test_silver.py
  private val sample = Seq(
    rec("b-1", "Brewery One", "Micro", "Portland", "oregon", "United States", "(503) 555-0001"),
    rec("b-2", "Brewery Two", "brewpub", "Portland", "Oregon", "united states", "503.555.0002"),
    rec("b-3", "Brewery Three", "LARGE", "Seattle", "Washington", "United States", "no-phone", null, null))

  private val d = LocalDate.of(2024, 1, 15)

  test("bronze wraps records with schema (raw_json, extraction_date)") {
    val df = Bronze.build(spark, sample, d)
    assert(df.schema.fieldNames.toSeq == Seq("raw_json", "extraction_date"))
    assert(df.count() == 3)
  }

  test("silver normalizes: lowercase type, uppercase state, digits-only phone") {
    val silver = Silver.transform(Bronze.build(spark, sample, d), d)
    val one = silver.filter(col("id") === "b-1").collect().head
    assert(one.getAs[String]("brewery_type") == "micro")
    assert(one.getAs[String]("state") == "OREGON")
    assert(one.getAs[String]("country") == "UNITED STATES")
    assert(one.getAs[String]("phone") == "5035550001")
    assert(one.getAs[Double]("longitude") == -122.5)
    // digit-free phone -> "" not null (tests/unit/test_silver.py:77)
    val three = silver.filter(col("id") === "b-3").collect().head
    assert(three.getAs[String]("phone") == "")
    assert(three.isNullAt(three.fieldIndex("longitude")))
  }

  test("silver filters null ids but keeps empty-string ids (SURVEY §7.4-2)") {
    val records = sample ++ Seq(
      rec(null, "No Id", "micro", "X", "Y", "Z", "1"),
      rec("", "Empty Id", "micro", "X", "Y", "Z", "1"))
    val silver = Silver.transform(Bronze.build(spark, records, d), d)
    assert(silver.count() == 4) // null-id dropped, empty-id kept
  }

  test("gold counts duplicates: brewery_count=2, unique_brewery_count=1") {
    val dup = Seq(
      rec("dup-1", "Dup A", "micro", "Portland", "Oregon", "US", "1"),
      rec("dup-1", "Dup A again", "micro", "Portland", "Oregon", "US", "1"))
    val gold = Gold.aggregate(Silver.transform(Bronze.build(spark, dup, d), d), d)
    val row = gold.collect().head
    assert(row.getAs[Long]("brewery_count") == 2L)
    assert(row.getAs[Long]("unique_brewery_count") == 1L)
    // exact (collect_set) variant agrees
    val exact = Gold.aggregateExact(Silver.transform(Bronze.build(spark, dup, d), d), d)
    assert(exact.collect().head.getAs[Long]("unique_brewery_count") == 1L)
  }

  test("gold Portland/micro golden values + conservation law") {
    val gold = Gold.aggregate(Silver.transform(Bronze.build(spark, sample, d), d), d)
    val portlandMicro = gold
      .filter(col("city") === "Portland" && col("brewery_type") === "micro")
      .collect()
    assert(portlandMicro.length == 1)
    assert(portlandMicro.head.getAs[Long]("brewery_count") == 1L)
    // conservation: sum(brewery_count) == silver rows (integration:99-100)
    assert(Gold.total(gold) == 3L)
  }

  test("runner is idempotent per run-date (dynamic partition overwrite)") {
    val dir = Files.createTempDirectory("graft-wh").toString
    val wh = new ParquetWarehouse(spark, dir)
    val fetcher = new RecordFetcher { def fetch(): Seq[String] = sample }
    val runner = new Runner(spark, wh, fetcher)
    val r1 = runner.run(d)
    assert(r1.bronzeRows == 3 && r1.silverRows == 3 && r1.totalCount == 3)
    // same-date re-run replaces, doesn't append (test_bronze.py:89-109)
    val r2 = runner.run(d)
    assert(r2.bronzeRows == 3 && r2.silverRows == 3 && r2.totalCount == 3)
    // second date: partitions isolated, totals additive (integration:144-190)
    val r3 = runner.run(d.plusDays(1))
    assert(r3.bronzeRows == 3)
    assert(wh.read("bronze").count() == 6)
    assert(wh.read("silver").filter(col("extraction_date") === lit(java.sql.Date.valueOf(d))).count() == 3)
  }

  test("catalog warehouse: V2 createOrReplace + dynamic partition overwrite") {
    val wh = new graft.storage.CatalogWarehouse(spark, "graft_test")
    val fetcher = new RecordFetcher { def fetch(): Seq[String] = sample }
    val runner = new Runner(spark, wh, fetcher)
    val r1 = runner.run(d)
    assert(r1.bronzeRows == 3 && r1.totalCount == 3)
    // same-date re-run replaces the partition, doesn't append
    val r2 = runner.run(d)
    assert(r2.bronzeRows == 3 && r2.totalCount == 3)
    // a second date adds a partition without touching the first
    val r3 = runner.run(d.plusDays(1))
    assert(r3.bronzeRows == 3)
    assert(spark.table("graft_test.bronze").count() == 6)
    assert(spark.table("graft_test.silver")
      .filter(col("extraction_date") === lit(java.sql.Date.valueOf(d))).count() == 3)
  }

  test("catalog warehouse: a re-run write on an untuned session fails " +
      "instead of overwriting every partition") {
    val s = spark.newSession()
    val wh = new CatalogWarehouse(s, "graft_untuned")
    wh.writePartitioned(Bronze.build(s, sample, d), "bronze")
    val e = intercept[IllegalArgumentException](
      wh.writePartitioned(Bronze.build(s, sample, d.plusDays(1)), "bronze"))
    assert(e.getMessage.contains("Engine.tune"), e.getMessage)
    assert(wh.read("bronze").filter(col("extraction_date") === lit(java.sql.Date.valueOf(d)))
      .count() == 3)
  }

  private def v2Warehouse(catalog: String): V2CatalogWarehouse = {
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.storage.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse",
      Files.createTempDirectory(s"graft-$catalog").toString)
    new V2CatalogWarehouse(spark, catalog = catalog, namespace = "med")
  }

  test("full medallion run through the V2 GraftCatalog (snapshots included)") {
    val wh = v2Warehouse("g2run")
    val fetcher = new RecordFetcher { def fetch(): Seq[String] = sample }
    val runner = new Runner(spark, wh, fetcher)
    val r1 = runner.run(d)
    assert(r1.bronzeRows == 3 && r1.totalCount == 3)
    // idempotent same-date re-run via overwritePartitions
    val r2 = runner.run(d)
    assert(r2.bronzeRows == 3 && r2.totalCount == 3)
    // second date: additive partitions
    val r3 = runner.run(d.plusDays(1))
    assert(r3.bronzeRows == 3)
    assert(spark.table("g2run.med.bronze").count() == 6)
    // every layer write was a snapshot: the first bronze version is intact
    assert(spark.sql("SELECT count(*) FROM g2run.med.bronze VERSION AS OF 1")
      .collect().head.getLong(0) == 3L)
  }

  // A day on which every layer has fewer rows than the one before: the
  // null id stops at bronze, the empty-string id survives silver, and the
  // duplicate of b-1 joins b-1's gold group. bronze 6 > silver 5 > gold 4.
  private val shrinking = sample ++ Seq(
    rec(null, "No Id", "micro", "X", "Y", "Z", "1"),
    rec("", "Empty Id", "micro", "X", "Y", "Z", "1"),
    rec("b-1", "Brewery One again", "Micro", "Portland", "oregon", "United States", "1"))

  // Every write path the Runner can reach: the create path on the first
  // run, the overwrite path on every later one.
  Seq[(String, () => Storage)](
    "parquet" -> (() => new ParquetWarehouse(spark, Files.createTempDirectory("graft-obs").toString)),
    "session catalog" -> (() => new CatalogWarehouse(spark, "graft_obs")),
    "V2 GraftCatalog" -> (() => v2Warehouse("g2obs"))
  ).foreach { case (path, storage) =>
    test(s"run report equals the run-date's partitions on every write ($path)") {
      val wh = storage()
      var records: Seq[String] = Nil
      val runner = new Runner(spark, wh, new RecordFetcher { def fetch(): Seq[String] = records })
      def partition(t: String, day: LocalDate) =
        wh.read(t).filter(col("extraction_date") === lit(java.sql.Date.valueOf(day)))
      def runChecked(day: LocalDate, recs: Seq[String], expected: (Long, Long, Long, Long)) = {
        records = recs
        val r = failAfter(Span(2, Minutes))(runner.run(day))
        assert((r.bronzeRows, r.silverRows, r.goldRows, r.totalCount) == expected)
        val gold = partition("gold", day)
        assert((partition("bronze", day).count(), partition("silver", day).count(),
          gold.count(), Gold.total(gold)) == expected)
      }
      runChecked(d, shrinking, (6, 5, 4, 5))
      runChecked(d, shrinking, (6, 5, 4, 5)) // same-date re-run
      runChecked(d.plusDays(1), shrinking, (6, 5, 4, 5))
      runChecked(d.plusDays(2), Nil, (0, 0, 0, 0)) // empty day: total 0, not null
      assert(wh.read("bronze").count() == 12)
    }
  }

  test("a medallion day runs 3 jobs: each layer write in one task, one file per date") {
    val runner = new Runner(spark, v2Warehouse("g2jobs"),
      new RecordFetcher { def fetch(): Seq[String] = shrinking })
    runner.run(d) // the create path; count a later day's overwrite path
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val written = try executedPlans {
      runner.run(d.plusDays(1))
      // the listener bus is async; settle on a stable count
      var last = -1
      var cur = n.get()
      while (cur != last) { Thread.sleep(200); last = cur; cur = n.get() }
    } finally spark.sparkContext.removeSparkListener(l)
    assert(n.get() == 3)
    assert(written.size == 3, written.mkString("\n"))
    written.foreach { p =>
      assert(p.contains("Coalesce 1") && !p.contains("Exchange"), p)
    }
    for (layer <- Seq("bronze", "silver", "gold")) {
      val files = Option(new java.io.File(spark.conf.get("spark.sql.catalog.g2jobs.warehouse"),
        s"med/$layer/extraction_date=${d.plusDays(1)}").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      assert(files.size == 1, s"$layer: ${files.mkString(", ")}")
    }
  }

  test("table setup creates layered namespaces with declared schemas") {
    graft.storage.TableSetup.createAll(spark)
    try {
      assert(spark.catalog.tableExists("bronze_layer.bronze"))
      assert(spark.table("silver_layer.silver").schema.fieldNames.toSeq ==
        graft.model.Schemas.silver.fieldNames.toSeq)
      assert(spark.table("gold_layer.gold").count() == 0)
      // re-run replaces cleanly (idempotent setup)
      graft.storage.TableSetup.createAll(spark)
      assert(spark.table("bronze_layer.bronze").count() == 0)
    } finally graft.storage.TableSetup.dropAll(spark)
  }

  test("100-record corpus: sum(brewery_count)==100, groups bounded") {
    val cities = Seq("Portland", "Seattle", "Denver", "Austin", "Chicago")
    val types = Seq("micro", "brewpub", "large", "regional", "contract", "planning")
    val corpus = (0 until 100).map { i =>
      rec(f"brewery-$i%04d", s"Brewery $i", types(i % 6), cities(i % 5), "State", "Country", s"555-$i")
    }
    val gold = Gold.aggregate(Silver.transform(Bronze.build(spark, corpus, d), d), d)
    assert(Gold.total(gold) == 100L)
    assert(gold.count() <= 30)
  }
}
