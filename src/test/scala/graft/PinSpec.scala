package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.ops.{Dedup, Graph, Pin}
import graft.queries.TpchSuite

/** The materialization primitive in [[graft.ops.Pin]]: its contracts, and
  * that no operator writes the shared session conf while materializing. */
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
    // the four tables q21 reads, small and synthetic
    val tpch = java.nio.file.Files.createTempDirectory("pin-tpch").toString
    Seq("lineitem" -> s.range(400).select((col("id") % 50).as("l_orderkey"),
        (col("id") % 7).as("l_suppkey"),
        expr("timestamp'1995-01-01' + make_interval(0, 0, 0, cast(id % 90 as int))")
          .as("l_shipdate")),
      "orders" -> s.range(50).select(col("id").as("o_orderkey"),
        expr("timestamp'1995-01-01'").as("o_orderdate"), lit("F").as("o_orderstatus")),
      "supplier" -> s.range(7).select(col("id").as("s_suppkey"),
        concat(lit("S"), col("id")).as("s_name"), (col("id") % 3).as("s_nationkey")),
      "nation" -> s.range(10).select(col("id").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"))
    ).foreach { case (name, df) => df.write.parquet(s"$tpch/$name.parquet") }
    val problems = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val planned = new AtomicInteger(0)
    val operators = new Thread(() =>
      try for (_ <- 1 to 3) {
        Dedup.edgeTable(pairs)
        Graph.pageRank(edges, iterations = 2)
        TpchSuite.q21(s, tpch)
        Pin(s.range(500).groupBy((col("id") % 7).as("k")).count()).unpersist()
      } catch { case t: Throwable => problems.add(s"operator thread: $t") }
      finally done = true)
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
    operators.start(); planner.start()
    operators.join(); planner.join()
    assert(problems.isEmpty, problems.asScala.take(5).mkString("\n"))
    assert(planned.get() > 0)
  }

  test("no operator, query, layer or pipeline source writes session conf") {
    val dirs = Seq("ops", "queries", "layers", "pipeline")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(dirs.forall(_.isDirectory), dirs)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val writes = "conf\\.(set|unset)\\(".r
    val hits = for {
      f <- dirs.flatMap(files) if f.getName.endsWith(".scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if writes.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
