package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Graph, Similarity}

/** Unit tests for the graph + classifier operators: hand-computed PageRank
  * goldens (the bigint fixed-point arithmetic makes them exactly
  * predictable), partition-order invariance, and the k-NN / nearest-
  * centroid classification fixtures.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("pageRank: one star-graph iteration matches the hand-computed bigints") {
    // hub a <-> leaves b, c: deg(a)=2, deg(b)=deg(c)=1, all ranks start 1e12
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // a: 0.15 + 0.85 * (1e12 + 1e12)      = 1.85e12
    // b: 0.15 + 0.85 * (1e12 div 2)       = 5.75e11
    assert(r("a") == 1850000000000L)
    assert(r("b") == 575000000000L)
    assert(r("c") == 575000000000L)
  }

  test("pageRank: exact bigint arithmetic is partition-order invariant") {
    val edges = Seq.tabulate(40)(i => (s"n${i % 7}", s"n${(i * 3 + 1) % 7}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val once = Graph.pageRank(edges, iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toSortedResult
    val shuffled = Graph.pageRank(edges.repartition(13), iterations = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toSortedResult
    assert(once == shuffled)
  }

  test("pageRank: the job's stage structure is FIXED — no lineage growth " +
    "across iterations (drift-gate pin for q_pagerank's bench variance)") {
    // q_pagerank's bench history swings with machine load (its three
    // iteration joins are CPU-dense), NOT with plan shape: lineage is
    // linear by construction (ranks consumed exactly once per iteration)
    // and the stage count must not grow run over run. Pin it: two
    // identical runs submit the SAME number of stages, and that number
    // stays in the structural envelope (scan + window/degree + 3 ×
    // (contribution join + spine join) + collect ≲ 20 — a lineage blowup
    // would double stages per iteration and blow straight past it).
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    def stagesOf(run: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        run
        // the listener bus is async; settle on a stable count instead of
        // the private waitUntilEmpty
        var last = -1
        var cur = n.get()
        while (cur != last) { Thread.sleep(200); last = cur; cur = n.get() }
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // clear the cache between runs: pageRank persists its adjacency, and
    // the cache manager would serve run 2 from run 1's cached plan —
    // fewer stages for a reason that is reuse, not structure
    spark.sqlContext.clearCache()
    val first = stagesOf {
      Graph.pageRank(Graph.partSupplierEdges(li), iterations = 3).count() }
    spark.sqlContext.clearCache()
    val second = stagesOf {
      Graph.pageRank(Graph.partSupplierEdges(li), iterations = 3).count() }
    assert(first == second,
      s"stage structure must be deterministic run over run: $first != $second")
    assert(first <= 20,
      s"3-iteration PageRank submitted $first stages — lineage is growing")
  }

  test("pageRank: damping mass stays bounded (no rank explosion)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ranks = Graph.pageRank(Graph.partSupplierEdges(li), iterations = 3)
    val n = ranks.count()
    val total = ranks.agg(sum("rank_units")).head.getLong(0)
    // total mass <= N * 1.0 ranks (floor division only loses mass) and
    // >= N * 0.15 (the base term alone)
    assert(total <= n * 1000000000000L)
    assert(total >= n * 150000000000L)
  }

  /** The jobs and the stages `body` submits, counted under its own job
    * group. */
  private def submitted(group: String)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (s.properties != null &&
            s.properties.getProperty("spark.jobGroup.id") == group) stages.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graftshim.Shims.drainListenerBus(sc)
      sc.removeSparkListener(l)
    }
    (sc.statusTracker.getJobIdsForGroup(group).length, stages.get)
  }

  private def rows(ranks: DataFrame): Seq[String] =
    ranks.collect().map(_.toString).toSeq.sorted

  test("pageRank: the in-task loop equals the distributed one on random " +
    "graphs, rows and schema") {
    // nodes 0..9; 20..22 are dangling (never a src); null ends, self-loops
    val key = Gen.frequency(8 -> Gen.chooseNum(0L, 9L).map(Option(_)), 1 -> Gen.const(None))
    val edge = for {
      a <- key
      b <- Gen.frequency(6 -> key, 1 -> Gen.const(a),
        1 -> Gen.chooseNum(20L, 22L).map(Option(_)))
    } yield (a, b)
    val graph = for {
      es <- Gen.chooseNum(1, 25).flatMap(Gen.listOfN(_, edge))
      again <- Gen.someOf(es)
    } yield es ++ again
    val graphs = Seq.empty[(Option[Long], Option[Long])] +:
      (0 until 6).flatMap(i => graph.apply(Gen.Parameters.default, Seed(110L + i)))
    assert(graphs.size == 7)
    // 0 to 4 iterations, each at least once
    graphs.zipWithIndex.foreach { case (es, i) =>
      val iterations = i % 5
      val strings = es.map { case (a, b) => (a.map(x => s"n$x"), b.map(x => s"n$x")) }
      Seq(es.toDF("src", "dst"), strings.toDF("src", "dst")).foreach { edges =>
        val (inTask, one) = Graph.pageRankChosen(edges, iterations)
        val dist = Graph.pageRankDistributed(edges, iterations)
        assert(one, s"a ${edges.schema("src").dataType} graph left the in-task path")
        assert(inTask.schema == dist.schema, s"$es at $iterations iterations")
        assert(rows(inTask) == rows(dist), s"$es at $iterations iterations")
      }
    }
  }

  test("pageRank in one task: as many jobs at 10 iterations as at 1") {
    val edges = Seq.tabulate(40)(i => (i % 7L, (i * 3 + 1) % 7L)).toDF("src", "dst")
    val jobs = Seq(1, 10).map(n => submitted(s"pr-in-task-$n") {
      val (ranks, inTask) = Graph.pageRankChosen(edges, n)
      assert(inTask)
      ranks.collect()
    }._1)
    assert(jobs.distinct.size == 1, s"jobs at 1 and 10 iterations: $jobs")
  }

  test("pageRank distributed: the stage structure is fixed run over run " +
    "and bounded, so lineage does not grow across iterations") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val stages = Seq(1, 2).map(run => submitted(s"pr-distributed-$run") {
      Graph.pageRankDistributed(Graph.partSupplierEdges(li), iterations = 3).count()
    }._2)
    assert(stages.distinct.size == 1,
      s"stage structure must be deterministic run over run: $stages")
    // measuring the edge list + degree window + 3 × (contribution join +
    // spine join) + count; a lineage blowup doubles stages per iteration
    assert(stages.head <= 22, s"3-iteration PageRank submitted ${stages.head} stages")
  }

  test("pageRank: double keys keep the distributed path") {
    // -0.0 and 0.0 are one group to Spark and two keys to the JVM
    val edges = Seq((1.0, 2.0), (2.0, 1.0), (-0.0, 1.0), (0.0, 2.0), (2.0, 0.0))
      .toDF("src", "dst")
    val (ranks, inTask) = Graph.pageRankChosen(edges, 2)
    assert(!inTask)
    assert(rows(ranks) == rows(Graph.pageRankDistributed(edges, 2)))
  }

  private lazy val labeled = Seq(
    (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.95f, 0.05f), 0),
    (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
    (5L, Array(0.05f, 0.95f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("knnClassify: majority label of the true neighborhood wins") {
    val out = Similarity.knnClassify(labeled,
        labeled.filter(col("vec_id") === 0L), "vec_id", "embedding", "label",
        k = 3)
      .collect()
    assert(out.length == 1)
    // neighbors of (1,0): ids 2, 1 (label 0) then one of label 1 -> 2 votes
    assert(out.head.getAs[Long]("pred_label") == 0L)
    assert(out.head.getAs[Long]("votes") == 2L)
  }

  test("knnClassify: vote ties resolve to the smaller label") {
    val two = Seq(
      (0L, Array(1.0f, 1.0f), 9), (1L, Array(1.0f, 0.9f), 1),
      (2L, Array(0.9f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(two, two.filter(col("vec_id") === 0L),
      "vec_id", "embedding", "label", k = 2).collect()
    assert(out.head.getAs[Long]("pred_label") == 0L) // 1-1 tie -> label 0
  }

  test("filteredTopK: results stay in the query's stratum and match the " +
    "restricted brute force") {
    val out = Similarity.filteredTopK(labeled,
        labeled.filter(col("vec_id") === 0L), "vec_id", "embedding", "label",
        k = 5)
      .collect()
    // label-0 stratum minus self = ids 1, 2 only
    assert(out.map(_.getAs[Long]("corpus_id")).toSet == Set(1L, 2L))
    val restricted = Similarity.bruteForceTopK(
        labeled.filter(col("label") === 0), labeled.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
    assert(out.map(r => (r.getAs[Long]("corpus_id"), r.getAs[Int]("rank"))).toSet
      == restricted)
  }

  test("labelCentroidConfusion: separated clusters give a diagonal matrix") {
    val cells = Similarity.labelCentroidConfusion(labeled, "vec_id",
        "embedding", "label", dim = 2)
      .collect().map(r => (r.getAs[Long]("label"), r.getAs[Long]("pred"),
        r.getAs[Long]("n"))).toSet
    assert(cells == Set((0L, 0L, 3L), (1L, 1L, 3L)))
  }

  test("labelCentroidConfusion: fixed-point centroids are partition invariant") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.labelCentroidConfusion(embs, "vec_id", "embedding",
      "label", dim = 64).collect().map(_.toSeq).toSortedResult
    val b = Similarity.labelCentroidConfusion(embs.repartition(11), "vec_id",
      "embedding", "label", dim = 64).collect().map(_.toSeq).toSortedResult
    assert(a == b)
  }

  test("edgeTable in the sort-merge regime: the checkpointed layout is " +
      "consumed without a per-round exchange or sort on the edge side") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // threshold <= 0 disables broadcasts -> edgeTable derives the SMJ
      // regime and checkpoints hash-partitioned + sorted on dst
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = spark.range(200)
        .select(col("id").alias("id_a"), (col("id") + 1).alias("id_b"))
        .localCheckpoint(false)
      val edges = graft.ops.Dedup.edgeTable(pairs)
      // the LogicalRDD must REPORT the layout — that's what every round's
      // join reuses instead of re-shuffling/re-sorting the edge table
      val leaf = edges.queryExecution.sparkPlan.collectLeaves().head
      val part = leaf.outputPartitioning
      assert(part.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
        .HashPartitioning] &&
        part.asInstanceOf[org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning].expressions.map(_.sql.toLowerCase)
          .exists(_.contains("dst")),
        s"edge checkpoint must report hash partitioning on dst, got $part")
      assert(leaf.outputOrdering.map(_.sql.toLowerCase).exists(_.contains("dst")),
        s"edge checkpoint must report ordering on dst, got ${leaf.outputOrdering}")
      // one propagation round's join: the edge side must plan with NO
      // Exchange and NO Sort above the checkpoint leaf
      val labels = edges.select(col("src").alias("dst2"))
        .distinct().withColumn("label", col("dst2"))
      val round = edges.join(labels, col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("label")))
      round.collect()
      // descend through the AQE wrapper and materialized query stages —
      // collect() alone stops at AdaptiveSparkPlanExec
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          p +: flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: flatten(q.plan)
        case _ => p +: p.children.flatMap(flatten)
      }
      val plan = round.queryExecution.executedPlan
      val smj = flatten(plan).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join, got:\n$plan")
      // the edge side is the one whose subtree holds the checkpoint leaf
      // (an RDDScanExec); it must contain no shuffle and no sort
      val edgeSide = Seq(smj.head.left, smj.head.right).find(s => flatten(s)
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]))
        .getOrElse(fail(s"no RDD-backed side in:\n${smj.head}"))
      assert(flatten(edgeSide).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.isEmpty, s"edge side re-shuffled:\n$edgeSide")
      assert(flatten(edgeSide).collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.isEmpty, s"edge side re-sorted:\n$edgeSide")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private implicit class Sortable[T](xs: Array[T]) {
    def toSortedResult: Seq[String] = xs.map(_.toString).toSeq.sorted
  }
}
