package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Distributed graph operators over edge tables.
  *
  * Design for 100 TB:
  *  - the edge list is the big table; it is aggregated ONCE into a
  *    deduplicated (src, dst, out-degree) form, persisted, and co-partitioned
  *    on `src` so every rank iteration reuses the same shuffle layout;
  *  - each PageRank iteration is one join (ranks ⋈ edges on src — ranks
  *    arrives already hash-partitioned on the key from the previous
  *    iteration's groupBy, so only the small rank table moves) plus one
  *    aggregation on dst — no driver-side adjacency, no collect;
  *  - rank arithmetic is *integer-exact*: ranks are bigints in units of
  *    1e-12, per-edge contributions use floor division (`div`), and the
  *    damping step is `base + 85 * sum div 100`. Sums of bigints are
  *    order-independent, so results are bit-identical across partitionings,
  *    retries, and engines — a floating PageRank would drift per run.
  */
object Graph {

  /** Undirected part↔supplier bipartite edges from lineitem: each distinct
    * (partkey, suppkey) pair yields both directed edges. Node ids are LONGS
    * — parts on the even line (2p), suppliers odd (2s+1) — so the two key
    * spaces cannot collide and every shuffle in the rank loop moves 8-byte
    * keys, not strings (measured 2.4× on the whole query at sf0.1; see
    * [[pageRankTop]] for the label formatting at output). */
  def partSupplierEdges(lineitem: DataFrame): DataFrame = {
    val pairs = lineitem
      .select((col("l_partkey").cast("long") * 2).as("p"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    val fwd = pairs.select(col("p").as("src"), col("s").as("dst"))
    val rev = pairs.select(col("s").as("src"), col("p").as("dst"))
    fwd.unionByName(rev)
  }

  /** Fixed-iteration damped PageRank over a directed edge list.
    *
    * rank_0 = 1.0 (1e12 units) for every node with an outgoing edge;
    * rank_{t+1}(v) = 0.15 + 0.85 * Σ_{(u,v)∈E} rank_t(u) / deg(u),
    * all in exact 1e-12-unit bigint arithmetic (see object doc).
    *
    * Returns (node, rank_units) for all nodes, rank in 1e-12 units.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    // One pass over the (huge) edge table: dedup + out-degree, persisted and
    // partitioned on src — the loop below never re-reads the raw edges. The
    // static node list is persisted separately: each iteration's rank table
    // is then consumed exactly ONCE (the contribution join), so lineage
    // grows linearly with iterations. (Referencing `ranks` twice per
    // iteration — once for contributions, once for the node spine — doubles
    // the replayed subtree every iteration: 2^T recomputes. Measured here:
    // 5.9 s vs 1.4 s for 3 iterations at sf0.1.) At real scale, checkpoint
    // `ranks` every ~5 iterations to bound both lineage and retry cost.
    //
    // Degree via a window over src, not groupBy+join: ONE shuffle of the
    // edge table instead of two, and adj comes out hash-partitioned on src
    // — exactly the layout every iteration's contribution join needs, so
    // the loop adds no exchange on the persisted side. (A hot src key
    // lands in one window task, but the src-keyed join concentrates that
    // key into one task regardless — the window does not worsen the skew
    // worst case it shares with the join it feeds.)
    val e =
      if (assumeDistinct) edges.select("src", "dst")
      else edges.select("src", "dst").distinct()
    val w = Window.partitionBy("src")
    // r17: SIZE the loop layout instead of inheriting the session shuffle
    // partition count. A raw persist() froze adj/nodes — and, because the
    // caches anchor every join in the loop, EVERY per-round exchange — at
    // spark.sql.shuffle.partitions (32 near-empty tasks per stage at
    // sf0.1; BENCH_r16's 8-core/32-core ratio of 0.71 is that empty-task
    // tax). An adaptively-partitioned CACHE (ops.Pin) fixes the count but
    // loses the reported hash layout: measured here, the loop re-planned
    // Exchange+Sort on the adjacency side of every round's join — fine at
    // sf0.1, a per-round shuffle of the biggest table at 100 TB. So the
    // partition count is derived from the PLANNER's size estimate of the
    // edge relation against the AQE advisory partition size (bytes-derived,
    // so it tracks data scale, not core count; session partitioning is
    // kept when the estimate is unavailable), and adj is materialized
    // clustered on src (Pin.clustered): every round's contribution join
    // consumes it with no exchange and no sort, and the degree window
    // rides the same edge shuffle. nodes inherits the co-partitioned
    // layout (distinct over adj adds no exchange).
    val conf = edges.sparkSession.sessionState.conf
    val sizeEst = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val unknown = sizeEst <= 0 ||
      sizeEst >= BigInt(Long.MaxValue) / 4 // defaultSizeInBytes: no estimate
    val nParts =
      if (unknown) conf.defaultNumShufflePartitions
      else ((sizeEst + advisory - 1) / advisory)
        .max(1).min(1 << 20).toInt
    val adj = Pin.clustered(e, Seq(col("src")), nParts,
      _.withColumn("deg", count(lit(1)).over(w)))
    val nodes = Pin.clustered(adj, Seq(col("src")), nParts,
      _.select(col("src").as("node")).distinct())
    nodes.count() // materialize adj + nodes once, before the loop
    val unit = 1000000000000L // 1e12 units == rank 1.0
    val base = 150000000000L  // 0.15
    var ranks = nodes.withColumn("r", lit(unit))
    for (_ <- 1 to iterations) {
      val contrib = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("in_mass"))
      // Every node keeps a base rank even with no in-edges this round.
      // Damping as floor(85·m/100) WITHOUT forming 85·m: with m = 100q + s,
      // floor(85m/100) = 85q + floor(85s/100) exactly. The naive product
      // overflows int64 once a node's in-mass exceeds ~1.08e17 units
      // (≈1e5 full-rank in-neighbors — plausible for hubs at scale), and
      // Spark with ANSI off would WRAP silently while the DuckDB oracle
      // errors. This form keeps every intermediate ≤ 85·(m div 100) + 8415.
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr("""(coalesce(in_mass, cast(0 as bigint)) div 100) * 85
                    + ((coalesce(in_mass, cast(0 as bigint)) % 100) * 85) div 100""")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_units"))
  }

  /** Per-node triangle counts with DEGREE ORIENTATION — the classic
    * MapReduce-safe formulation (Suri & Vassilvitskii, "Counting Triangles
    * and the Curse of the Last Reducer", WWW 2011): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * enumerate wedges by self-joining oriented edges on their source, and
    * close each wedge against the oriented edge list. Orientation bounds
    * every node's OUT-degree by O(√m) regardless of its real degree, so
    * the wedge join's per-key fanout — the thing that melts a naive
    * formulation on a power-law graph, where one celebrity node yields
    * deg² wedges — stays bounded: the curse-of-the-last-reducer shape is
    * designed out, not rebalanced after the fact. Each triangle is
    * produced exactly once (its two lowest-order endpoints form the wedge);
    * output is (node, n_triangles) for every node of the pair graph.
    *
    * Deterministic: the (degree, id) total order breaks degree ties by id,
    * and counts are integers — hash-comparable on any engine.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val ce = pairs.select(
        least(col("id_a"), col("id_b")).as("cu"),
        greatest(col("id_a"), col("id_b")).as("cv"))
      .filter(col("cu") =!= col("cv")).distinct()
    val deg = ce.select(col("cu").as("n"))
      .unionAll(ce.select(col("cv").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = ce
      .join(deg.select(col("n").as("cu"), col("d").as("du")), "cu")
      .join(deg.select(col("n").as("cv"), col("d").as("dv")), "cv")
    val uLower = struct(col("du"), col("cu")) < struct(col("dv"), col("cv"))
    val e = withDeg.select(
      when(uLower, col("cu")).otherwise(col("cv")).as("src"),
      when(uLower, col("cv")).otherwise(col("cu")).as("dst"),
      when(uLower, struct(col("dv").as("kd"), col("cv").as("kn")))
        .otherwise(struct(col("du").as("kd"), col("cu").as("kn"))).as("dk"))
    // wedges (a←src→b) with ord(a) < ord(b); the closing edge, if present,
    // is oriented a→b by construction
    val wedges = e.select(col("src"), col("dst").as("a"), col("dk").as("ka"))
      .join(e.select(col("src"), col("dst").as("b"), col("dk").as("kb")), "src")
      .filter(col("ka") < col("kb"))
      .select(col("src"), col("a"), col("b"))
    val tri = wedges.join(
      e.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"))
    tri.select(explode(array(col("src"), col("a"), col("b"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Headline query: 3-iteration PageRank over the part↔supplier graph,
    * top 20 nodes. `rank_units` is exact (1e-12 units) — hash-comparable.
    * The human-readable `p:`/`s:` label is formatted on the k output rows
    * only; everything upstream shuffles long ids. */
  def pageRankTop(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val li = graft.queries.Parity.t(spark, sfDir, "lineitem")
    pageRank(partSupplierEdges(li), iterations = 3, assumeDistinct = true)
      .orderBy(col("rank_units").desc, col("node").asc)
      .limit(k)
      .select(
        when(col("node") % 2 === 0, concat(lit("p:"), expr("node div 2")))
          .otherwise(concat(lit("s:"), expr("(node - 1) div 2")))
          .as("node"),
        col("rank_units"))
  }
}
