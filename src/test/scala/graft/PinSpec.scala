package graft

import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.ingest.RecordFetcher
import graft.ops.{Dedup, Graph, Pin}
import graft.pipeline.Runner
import graft.queries.{Parity, TpchSuite}
import graft.storage.ParquetWarehouse

/** The materialization primitives in [[graft.ops.Pin]]: their contracts,
  * and that no operator, testdata read or pipeline run writes the shared
  * session conf while another query plans on it. */
class PinSpec extends SparkSpec {

  import spark.implicits._

  private val aqeKey = "spark.sql.adaptive.enabled"
  private val cachedKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Stages submitted while `run` executes whose lineage reads an RDD
    * named `rddName` — i.e. how many times that input was computed. */
  private def stagesReading(rddName: String)(run: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == rddName)) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { run; Shims.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("Pin: one materialization feeds a self-join, the cache coalesces " +
      "adaptively, and the caller's conf is untouched") {
    val before = spark.conf.get(cachedKey)
    val input = spark.sparkContext.parallelize(0 until 400, 4).setName("pin-input")
    val agg = input.toDF("v").groupBy((col("v") % 20).as("k"))
      .agg(count(lit(1)).as("n"))
    var pinned: DataFrame = null
    val computed = stagesReading("pin-input") {
      pinned = Pin(agg)
      val pairs = pinned.as("a").join(pinned.as("b"), col("a.k") === col("b.k"))
      assert(pairs.count() == 20)
    }
    try {
      assert(computed == 1,
        s"the pinned aggregate must be computed once, not $computed times")
      val parts = pinned.rdd.getNumPartitions
      assert(parts < spark.sessionState.conf.defaultNumShufflePartitions,
        s"the cache must coalesce adaptively, got $parts partitions")
      assert(spark.conf.get(cachedKey) == before)
    } finally pinned.unpersist()
  }

  test("Pin.clustered: the checkpoint reports hashpartitioning(keys, nParts) " +
      "and the key ordering; the session stays adaptive") {
    val c = Pin.clustered(spark.range(100).toDF("id"), Seq(col("id")), 3)
    val leaf = c.queryExecution.sparkPlan.collectLeaves().head
    leaf.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 3 && h.expressions.map(_.sql).exists(_.contains("id")))
      case p => fail(s"expected hashpartitioning(id, 3), got $p")
    }
    assert(leaf.outputOrdering.map(_.sql).exists(_.contains("id")), leaf.outputOrdering)
    assert(c.count() == 100)
    assert(spark.conf.get(aqeKey) == "true")
  }

  test("Pin.measured: exact row count, and bytes that are the rows' " +
      "UnsafeRow bytes, so a string-heavy checkpoint is not broadcast") {
    val docs = spark.range(2000).select(col("id"), repeat(lit("x"), 8192).as("text"))
    val (ck, seen) = Pin.measured(docs)
    val stats = ck.queryExecution.optimizedPlan.stats
    assert(seen("rows") == 2000L && stats.rowCount.contains(BigInt(2000)), stats)
    val stored = ck.queryExecution.toRdd
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
        .getSizeInBytes.toLong).sum().toLong
    assert(stats.sizeInBytes == BigInt(stored) && seen("bytes") == stored, stats)
    assert(stats.sizeInBytes >= 16000000L, stats)
    // at the default 10 MB threshold neither side may broadcast: a
    // schema-width estimate (20 bytes a string) would put this at 72 KB
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").stripSuffix("b")
      .toLong == 10L * 1024 * 1024)
    val join = ck.as("a").join(ck.as("b"), col("a.id") === col("b.id"))
    val plan = join.queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty, plan)
    assert(join.count() == 2000)
  }

  test("Pin.measured: a small aggregate over a join plans a broadcast " +
      "before execution; a plain checkpoint of it plans sort-merge") {
    // own session: a 64 KB threshold keeps the ~400 KB fact file from
    // being the broadcast side, at a test-sized input
    val s = Engine.tune(spark.newSession())
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    val dir = java.nio.file.Files.createTempDirectory("pin-measured").toString
    s.range(50000).select(col("id"), (col("id") % 40).as("k"))
      .write.parquet(s"$dir/facts")
    val facts = s.read.parquet(s"$dir/facts")
    val base = s.range(4000).select((col("id") % 40).as("k"), col("id").as("v"))
    // the aggregate's input crosses a join: its estimate is a product
    val agg = base.join(base.select(col("k"), col("v").as("w")), "k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    def initial(dim: DataFrame) = facts.join(dim, "k").queryExecution.sparkPlan
    val (measured, seen) = Pin.measured(agg)
    assert(seen("rows") == 40L)
    val bhj = initial(measured).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1 && bhj.head.buildSide == BuildRight, initial(measured))
    val plain = initial(agg.localCheckpoint(true))
    assert(plain.collect { case j: SortMergeJoinExec => j }.size == 1, plain)
    assert(facts.join(measured, "k").count() == 50000)
  }

  test("materializing operators never flip conf under a query planned " +
      "concurrently on the same session") {
    // own session (shared SparkContext): the sort-merge edge regime needs
    // broadcasts off, which must not leak into other suites
    val s: SparkSession = spark.newSession()
    Engine.tune(s)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pairs = s.range(200)
      .select(col("id").alias("id_a"), (col("id") + 1).alias("id_b"))
      .localCheckpoint(false)
    val edges = s.range(60)
      .select((col("id") % 9).alias("src"), (col("id") * 7 % 11).alias("dst"))
    // the four tables q21 reads, small and synthetic, in the column types
    // Parity.t declares for the testdata
    val tpch = java.nio.file.Files.createTempDirectory("pin-tpch").toString
    Seq("lineitem" -> s.range(400).select((col("id") % 50).as("l_orderkey"),
        (col("id") % 7).as("l_suppkey"),
        expr("timestamp_ntz'1995-01-01' + make_interval(0, 0, 0, cast(id % 90 as int))")
          .as("l_shipdate")),
      "orders" -> s.range(50).select(col("id").as("o_orderkey"),
        expr("timestamp_ntz'1995-01-01'").as("o_orderdate"), lit("F").as("o_orderstatus")),
      "supplier" -> s.range(7).select(col("id").as("s_suppkey"),
        concat(lit("S"), col("id")).as("s_name"), (col("id") % 3).cast("int").as("s_nationkey")),
      "nation" -> s.range(10).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"))
    ).foreach { case (name, df) => df.write.parquet(s"$tpch/$name.parquet") }
    // a testdata query and a medallion day, each checked against its serial run
    val breweries = (1 to 3).map(i => s"""{"id": "b-$i", "name": "Brewery $i",
      "brewery_type": "micro", "city": "Portland", "state_province": "Oregon",
      "country": "United States", "longitude": "-122.5", "latitude": "45.5",
      "phone": "(503) 555-000$i"}""")
    val sf = s"${sys.props("user.home")}/testdata/sf0.001"
    def testdataQuery() = Parity.pricingSummary(s, sf).collect().toSeq
    def medallionDay() = {
      val wh = new ParquetWarehouse(s,
        java.nio.file.Files.createTempDirectory("pin-medallion").toString)
      val r = new Runner(s, wh, new RecordFetcher { def fetch(): Seq[String] = breweries })
        .run(LocalDate.of(2024, 1, 15))
      (r.bronzeRows, r.silverRows, r.goldRows, r.totalCount)
    }
    val (serialQuery, serialDay) = (testdataQuery(), medallionDay())
    assert(serialQuery.nonEmpty && serialDay._1 == 3L && serialDay._2 == 3L, serialDay)
    val problems = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val planned = new AtomicInteger(0)
    val operators = new Thread(() =>
      try for (_ <- 1 to 3) {
        Dedup.edgeTable(pairs)
        Graph.pageRank(edges, iterations = 2)
        TpchSuite.q21(s, tpch)
        Pin(s.range(500).groupBy((col("id") % 7).as("k")).count()).unpersist()
      } catch { case t: Throwable => problems.add(s"operator thread: $t") })
    val readers = new Thread(() =>
      try for (_ <- 1 to 3) {
        if (testdataQuery() != serialQuery) problems.add("testdata query differs from serial")
        val day = medallionDay()
        if (day != serialDay) problems.add(s"medallion day $day differs from serial $serialDay")
      } catch { case t: Throwable => problems.add(s"reader thread: $t") })
    val planner = new Thread(() =>
      try while (!done) {
        val q = s.range(200).groupBy((col("id") % 5).as("k")).count()
        val plan = q.queryExecution.executedPlan
        if (!plan.isInstanceOf[AdaptiveSparkPlanExec])
          problems.add(s"planned without AQE:\n$plan")
        if (s.conf.get(aqeKey) != "true") problems.add(s"$aqeKey read flipped")
        if (s.conf.get(cachedKey) != "false") problems.add(s"$cachedKey read flipped")
        planned.incrementAndGet()
      } catch { case t: Throwable => problems.add(s"planning thread: $t") })
    operators.start(); readers.start(); planner.start()
    operators.join(); readers.join()
    done = true
    planner.join()
    assert(problems.isEmpty, problems.asScala.take(5).mkString("\n"))
    assert(planned.get() > 0)
  }

  test("no operator, query, layer or pipeline source writes session conf") {
    val dirs = Seq("ops", "queries", "layers", "pipeline")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(dirs.forall(_.isDirectory), dirs)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    def lines(f: java.io.File) =
      java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex.toSeq
    val writes = "conf\\.(set|unset)\\(".r
    val storage = new java.io.File("src/main/scala/graft/storage/Storage.scala")
    val hits = for {
      f <- dirs.flatMap(files) :+ storage if f.getName.endsWith(".scala")
      (line, i) <- lines(f)
      if writes.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the session is tuned once, where it is built or adopted: at most one
    // call in each of these files, none anywhere else
    val tuneSites = Set("Verify", "Bench", "Scenarios", "SparkEntry", "pipeline/Runner")
      .map(n => s"src/main/scala/graft/$n.scala")
    val tunes = for {
      f <- files(new java.io.File("src/main/scala")) if f.getName.endsWith(".scala")
      calls = lines(f).filter(_._1.contains("Engine.tune("))
      if !(tuneSites(f.getPath) && calls.size <= 1)
      (line, i) <- calls
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(tunes.isEmpty, tunes.mkString("\n"))
  }
}
