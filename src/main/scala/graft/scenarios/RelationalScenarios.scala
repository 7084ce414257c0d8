package graft
package scenarios

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Scenario.{time, warmMedian}

/** Joins, CDC maintenance and the graph loops ([[ops.Relational]],
  * [[ops.Graph]], [[ops.Dedup]]'s component labelling). */
object RelationalScenarios {

  val all: Seq[Scenario] = Seq(
    /* Adversarial skew join: a zipfian fact (one key owns 50 % of all
     * rows, ten warm keys own another 25 %, the tail is uniform over 10k
     * keys) joined to a 10k-row dim with broadcast disabled, three ways:
     * sort-merge with AQE skew-join off (the straggler baseline), the same
     * join with AQE skew-join on (Spark's runtime mitigation), and
     * [[ops.Relational.saltedJoin]] with skew-join off (the manual
     * fallback that also works where AQE can't re-plan). */
    Scenario("skew_join", Seq("20000000"), (spark, _, args) => {
      val n = args(0).toLong
      val nKeys = 10000
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // dim "too big"
      // deterministic zipf-ish key distribution, no RNG
      def fact: DataFrame = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L))
          .when(col("id") % 4 === 1, col("id") % 10 + 1)
          .otherwise(pmod(xxhash64(col("id")), lit(nKeys.toLong))).alias("k"),
        col("id").alias("fact_id"),
        (col("id") % 1000).alias("v"))
      def dim: DataFrame = spark.range(nKeys.toLong)
        .select(col("id").alias("k"), (col("id") * 7 % 100).alias("dimv"))
      def measure(skewOn: Boolean)(df: => DataFrame): (Double, Long) = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        warmMedian(runs = 1)(df.agg(sum(col("v") * col("dimv"))).head.getLong(0))
      }
      val results = Seq(
        "naive_skewjoin_off" -> measure(skewOn = false)(fact.join(dim, Seq("k"))),
        "naive_aqe_skewjoin" -> measure(skewOn = true)(fact.join(dim, Seq("k"))),
        "salted_32" -> measure(skewOn = false)(
          ops.Relational.saltedJoin(fact, dim, "k", "fact_id", nSalts = 32)))
      require(results.map(_._2._2).distinct.size == 1,
        s"skew-join spellings disagree: $results")
      Seq("rows" -> n, "timings" -> results.map { case (k, (t, _)) => k -> t })
    }),

    /* The maintenance operators at volumes sf0.1 cannot reach:
     * [[ops.Relational.mergeUpsert]] applying a changelog (updates,
     * deletes, inserts) to an n-row snapshot in one shuffle, against the
     * max_by aggregate and the join-per-op spellings of the same apply,
     * and [[ops.Relational.resampleFill]] over n events on 100k keys × 64
     * periods with ~40 % gaps. */
    Scenario("maintenance", Seq("10000000"), (spark, _, args) => {
      val n = args(0).toLong
      // snapshot: n rows keyed 0..n-1; changelog: every 5th key updated,
      // every 11th deleted, n/10 fresh inserts — all derived arithmetic
      def base = spark.range(n).select(col("id").alias("k"),
        (col("id") % 997).alias("v"))
      def changes = base.filter(col("k") % 5 === 0)
        .select(col("k"), (col("v") + 1).alias("v"), lit(1L).alias("seq"),
          lit("upsert").alias("op"))
        .unionByName(base.filter(col("k") % 11 === 0)
          .select(col("k"), col("v"), lit(2L).alias("seq"), lit("delete").alias("op")))
        .unionByName(spark.range(n, n + n / 10).select(col("id").alias("k"),
          lit(0L).alias("v"), lit(1L).alias("seq"), lit("upsert").alias("op")))

      def runMerge(): Long =
        ops.Relational.mergeUpsert(base, changes, "k", "seq", "op").count()

      // the max_by hash-aggregate spelling: same single exchange, no sort —
      // but the struct buffer forces ObjectHashAggregate, measured slower
      def runMergeMaxBy(): Long = {
        val baseSide = base.withColumn("__seq", lit(Long.MinValue))
          .withColumn("__op", lit("upsert"))
        val changeSide = changes.select(col("k"), col("v"),
          col("seq").alias("__seq"), col("op").alias("__op"))
        baseSide.unionByName(changeSide)
          .groupBy(col("k"))
          .agg(max_by(struct(col("v"), col("__op")), col("__seq")).alias("__w"))
          .filter(col("__w.__op") =!= "delete")
          .select(col("k"), col("__w.v").alias("v"))
          .count()
      }

      // the join-per-op alternative: the latest change per key, then anti
      // join out the deletes and full-outer the upserts back in — two
      // snapshot-sized shuffled joins
      def runJoinAlt(): Long = {
        val latest = changes
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("seq").desc)))
          .filter(col("__rn") === 1)
        val ups = latest.filter(col("op") === "upsert").select(col("k"), col("v"))
        val dels = latest.filter(col("op") === "delete").select(col("k"))
        base.join(dels, Seq("k"), "left_anti")
          .join(ups.withColumnRenamed("v", "__nv"), Seq("k"), "full_outer")
          .select(col("k"), coalesce(col("__nv"), col("v")).alias("v"))
          .count()
      }

      // events: n rows, 100k keys, ~64 periods each, 40% of slots empty
      def events = spark.range(n).select(
        (col("id") % 100000).alias("k"),
        ((col("id") * 2654435761L) % 64000).alias("t"), // period = t div 1000
        col("id").alias("tie"),
        (col("id") % 1000).cast("double").alias("v"))

      def runResample(): Long =
        ops.Relational.resampleFill(events, "k", "t", "tie", "v", period = 1000L)
          .count()

      // interleaved rounds (A B C D, A B C D, ...) so JVM heap/GC drift over
      // the process lifetime biases every shape equally; per-shape median
      val shapes: Seq[(String, () => Long)] = Seq(
        ("merge", () => runMerge()), ("maxby", () => runMergeMaxBy()),
        ("joinalt", () => runJoinAlt()), ("resample", () => runResample()))
      shapes.foreach(_._2()) // warm-up round
      val rounds = (1 to 3).map(_ => shapes.map { case (k, f) => k -> time(f()) }.toMap)
      rounds.foreach { r =>
        val counts = Seq("merge", "maxby", "joinalt").map(k => k -> r(k)._2)
        require(counts.map(_._2).distinct.size == 1,
          s"merge spellings disagree on row count: $counts")
      }
      def median(k: String): Double = rounds.map(_(k)._1).sorted.apply(1)
      Seq("n" -> n, "merge_upsert_s" -> median("merge"),
        "merge_maxby_s" -> median("maxby"), "join_alt_s" -> median("joinalt"),
        "resample_fill_s" -> median("resample"))
    }),

    /* The graph family's two designed-out failure shapes (SCALE.md
     * §graph-skew). TRIANGLES on a hub graph: one node of degree `hub`
     * among `m` random edges. The id-oriented wedge join enumerates
     * hub²/2 wedges in ONE task; degree orientation
     * ([[ops.Graph.triangleCounts]]) bounds every out-degree by O(√m).
     * COMPONENTS on chains of length D over `n` nodes: min-label
     * propagation ([[ops.Dedup.clusters]]) needs D rounds, pointer doubling
     * ([[ops.Dedup.clustersFastCounted]]) ~log₂ D; [[ops.Dedup.clustersFast]]
     * is timed too, with the path its measured pair table chose (one task at
     * or under the broadcast threshold). Every labelling must equal
     * doubling's, node by node. PAGERANK on the hub graph: the path
     * [[ops.Graph.pageRankChosen]] takes (one task while the measured edge
     * list fits one advisory partition) is timed against the distributed
     * loop, and their ranks must be equal. */
    Scenario("graph_skew", Seq("5000000", "10000", "2000000"), (spark, _, args) => {
      val m = args(0).toLong
      val hub = args(1).toLong
      val n = args(2).toLong
      // node 1 is the hub (lowest id in the graph, so id orientation points
      // every hub edge OUT of it); background edges land on 2..nodes+1
      val nodes = m / 5 // avg background degree 10 — plenty of triangles
      val hubEdges = spark.range(2, hub + 2)
        .select(lit(1L).as("id_a"), col("id").as("id_b"))
      val background = spark.range(m).select(
          (pmod(xxhash64(col("id"), lit(1)), lit(nodes)) + 2).as("id_a"),
          (pmod(xxhash64(col("id"), lit(2)), lit(nodes)) + 2).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val pairs = hubEdges.unionByName(background).localCheckpoint(false)

      // the naive baseline: orient by ID ONLY — the hub (smallest id) keeps
      // its full degree as out-degree, so the wedge self-join materializes
      // hub·(hub−1)/2 candidates inside the hub's single join key
      def naiveTriangles(p: DataFrame): DataFrame = {
        val ce = p.select(
            least(col("id_a"), col("id_b")).as("src"),
            greatest(col("id_a"), col("id_b")).as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
        val wedges = ce.select(col("src"), col("dst").as("a"))
          .join(ce.select(col("src"), col("dst").as("b")), "src")
          .filter(col("a") < col("b"))
          .select(col("src"), col("a"), col("b"))
        wedges.join(ce.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
          .select(explode(array(col("src"), col("a"), col("b"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      }

      val (tOriented, orientedRows) =
        time(ops.Graph.triangleCounts(pairs).localCheckpoint(false))
      val oTotal = orientedRows.agg(coalesce(sum("n_triangles"), lit(0L)))
        .head.getLong(0)
      val (tNaive, naiveRows) = time(naiveTriangles(pairs).localCheckpoint(false))
      val mismatch = orientedRows.withColumnRenamed("n_triangles", "a")
        .join(naiveRows.withColumnRenamed("n_triangles", "b"), Seq("node"), "full")
        .filter(coalesce(col("a"), lit(-1)) =!= coalesce(col("b"), lit(-1))).count()
      require(mismatch == 0, s"per-node triangle counts diverged: $mismatch")

      // PageRank over the same graph: the path its measured edge list chose
      // (one task while it fits one advisory partition) against the
      // distributed loop; the ranks must agree node by node
      val rankEdges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      val (tRankChosen, (rankChosen, rankInTask)) = time {
        val (ranks, inTask) = ops.Graph.pageRankChosen(rankEdges, iterations = 3)
        (ranks.localCheckpoint(), inTask)
      }
      val (tRankLoop, rankLoop) =
        time(ops.Graph.pageRankDistributed(rankEdges, iterations = 3).localCheckpoint())
      val rankDiff = rankChosen.withColumnRenamed("rank_units", "a")
        .join(rankLoop.withColumnRenamed("rank_units", "b"), Seq("node"), "full")
        .filter(!col("a").eqNullSafe(col("b"))).count()
      require(rankDiff == 0, s"chosen and distributed PageRank diverged: $rankDiff nodes")
      pairs.unpersist()

      val components = Seq(8L, 64L).map { d =>
        val chainPairs = spark.range(n)
          .filter(pmod(col("id"), lit(d)) =!= (d - 1))
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
          .localCheckpoint(false)
        val (tFast, (fast, fastRounds)) =
          time(ops.Dedup.clustersFastCounted(chainPairs, maxIter = 50))
        val fc = fast.localCheckpoint(false); fc.count()
        val (tSlow, (slow, slowRounds)) =
          time(ops.Dedup.clustersCounted(chainPairs, maxIter = d.toInt + 2))
        val sc = slow.localCheckpoint(false); sc.count()
        // clustersFast's own choice: one task while the measured pair table
        // fits the broadcast threshold, the doubling loop above it
        val (tChosen, (chosen, inTask)) =
          time(ops.Dedup.clustersFastChosen(chainPairs, maxIter = 50))
        val cc = chosen.localCheckpoint(false); cc.count()
        Seq("propagation" -> sc, "chosen path" -> cc).foreach { case (what, other) =>
          val diff = fc.withColumnRenamed("cluster_id", "a")
            .join(other.withColumnRenamed("cluster_id", "b"), Seq("id"), "full")
            .filter(!col("a").eqNullSafe(col("b"))).count()
          require(diff == 0, s"doubling and $what labellings diverged at D=$d: $diff")
        }
        chainPairs.unpersist(); fc.unpersist(); sc.unpersist(); cc.unpersist()
        Seq("d" -> d, "doubling_s" -> tFast, "doubling_rounds" -> fastRounds,
          "chosen_s" -> tChosen, "chosen_path" -> (if (inTask) "in_task" else "distributed"),
          "propagation_s" -> tSlow, "propagation_rounds" -> slowRounds)
      }
      Seq("m" -> m, "hub" -> hub, "n" -> n,
        "triangle_slots" -> oTotal,
        "triangles_oriented_s" -> tOriented, "triangles_id_oriented_s" -> tNaive,
        "pagerank_chosen_s" -> tRankChosen, "pagerank_distributed_s" -> tRankLoop,
        "pagerank_path" -> (if (rankInTask) "in_task" else "distributed"),
        "components" -> components)
    }),

    /* Sort-merge-regime evidence for the connected-components edge layout
     * (SCALE.md §graph-skew): with broadcast joins off, every per-round
     * `edges ⋈ labels(dst)` join is sort-merge, and the edge table
     * checkpointed hash-partitioned + sorted on `dst` (prePartition=true,
     * [[ops.Dedup.edgeTable]]) should save one exchange + sort of the
     * loop's biggest table per round. A/B on chain graphs of length D;
     * labellings must agree. */
    Scenario("cc_regime", Seq("2000000", "64", "3"), (spark, _, args) => {
      val n = args(0).toLong
      val d = args(1).toLong
      val iters = args(2).toInt
      // the SMJ regime: no broadcast joins anywhere in the loop
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // chains of length D over n nodes: node i -> i+1 unless i+1 starts a
      // new chain — the adversarial diameter shape for label propagation
      val pairs = spark.range(n - 1)
        .filter(pmod(col("id") + 1, lit(d)) =!= 0)
        .select(col("id").alias("id_a"), (col("id") + 1).alias("id_b"))

      def run(prePartition: Boolean): (Double, (Int, Long)) = {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        time {
          val (labels, rounds) =
            ops.Dedup.clustersFastCounted(pairs, maxIter = 25, prePartition)
          (rounds, labels.agg(sum(col("cluster_id"))).collect()(0).getLong(0))
        }
      }

      val runs = (1 to iters).map { _ =>
        val (tOff, off) = run(prePartition = false)
        val (tOn, on) = run(prePartition = true)
        require(off == on, s"variants disagree: (rounds, checksum) $off vs $on")
        Seq("rounds" -> on._1, "plain_s" -> tOff, "layout_s" -> tOn)
      }
      Seq("n" -> n, "d" -> d, "iters" -> runs)
    }))
}
