package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType}

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
  *    retries, and engines — a floating PageRank would drift per run;
  *  - a graph whose measured edge list fits one AQE advisory partition —
  *    the loop's own layout would be a single partition — runs the whole
  *    rank loop inside that partition's task, with the same arithmetic
  *    (see [[pageRank]]): a single-worker loop beats a distributed one
  *    whenever the graph fits the worker (McSherry et al., "Scalability!
  *    But at what COST?", HotOS 2015).
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
    *
    * The algorithm is chosen at run time from the deduplicated edge list's
    * measured bytes ([[Pin.measured]]), which also size the distributed
    * loop's layout: `ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)`
    * partitions.
    *  - one partition, with `src` and `dst` of one integral or
    *    default-collation string type: the whole loop runs in that
    *    partition's task ([[rankInTask]]), inside the consumer's job,
    *    whatever the iteration count. The task holds about 8 B per edge
    *    plus the per-node arrays, under the measured bytes.
    *  - otherwise: the distributed loop ([[rankLoop]]), one join and one
    *    aggregation per iteration over a `src`-clustered adjacency. The
    *    measuring job(s) run once before it.
    * Both paths give the same rows and schema.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      assumeDistinct: Boolean = false): DataFrame =
    pageRankChosen(edges, iterations, assumeDistinct)._1

  /** [[pageRank]] and whether it ran in one task. */
  private[graft] def pageRankChosen(
      edges: DataFrame,
      iterations: Int,
      assumeDistinct: Boolean = false): (DataFrame, Boolean) = {
    val (e, nParts) = edgeList(edges, assumeDistinct)
    val key = e.schema("src").dataType
    val inTask = nParts == 1 && key == e.schema("dst").dataType &&
      Seq(ByteType, ShortType, IntegerType, LongType, StringType).contains(key)
    (if (inTask) rankInTask(e, iterations) else rankLoop(e, nParts, iterations), inTask)
  }

  /** [[pageRank]]'s distributed loop at any edge-list size. */
  private[graft] def pageRankDistributed(
      edges: DataFrame,
      iterations: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val (e, nParts) = edgeList(edges, assumeDistinct)
    rankLoop(e, nParts, iterations)
  }

  private final val unit = 1000000000000L // 1e12 units == rank 1.0
  private final val base = 150000000000L  // 0.15

  /** The (src, dst) edge list, deduplicated unless `assumeDistinct`,
    * measured ([[Pin.measured]]), and the rank loop's partition count:
    * [[Pin.partitions]] of its measured bytes, so the layout tracks data
    * scale, not core count. */
  private def edgeList(edges: DataFrame, assumeDistinct: Boolean): (DataFrame, Int) = {
    val (e, seen) = Pin.measured(
      if (assumeDistinct) edges.select("src", "dst")
      else edges.select("src", "dst").distinct())
    (e, Pin.partitions(e, seen))
  }

  /** The whole rank loop in one task over the measured edge list `e`: every
    * key indexed once in a hash map (JVM equality, which equals Spark's
    * grouping equality for the key types [[pageRankChosen]] admits), the
    * edges as `int` src/dst index arrays, and `long` degree, rank and mass
    * arrays. The arithmetic is [[rankLoop]]'s: truncating `div`, the same
    * damping step, and `long` sums that wrap as Spark's non-ANSI `sum`
    * does. A null `src` is a node that sends nothing; a null `dst`, or one
    * that is no `src`, receives nothing. Lazy: the consumer's job runs it. */
  private def rankInTask(e: DataFrame, iterations: Int): DataFrame = {
    val src = e.schema("src")
    val out = StructType(Seq(StructField("node", src.dataType, src.nullable),
      StructField("rank_units", LongType, nullable = iterations > 0)))
    e.coalesce(1).mapPartitions { rows =>
      val index = new java.util.HashMap[Any, Integer]
      val keys = new mutable.ArrayBuffer[Any]
      def id(k: Any): Int = if (k == null) -1 else {
        val seen = index.putIfAbsent(k, keys.size)
        if (seen != null) seen else { keys += k; keys.size - 1 }
      }
      val isSrc = new java.util.BitSet
      var nullSrc = false
      val (ss, ds) = (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
      rows.foreach { r =>
        val s = id(r.get(0))
        if (s < 0) nullSrc = true else isSrc.set(s)
        ss += s; ds += id(r.get(1))
      }
      val (s, d) = (ss.result(), ds.result())
      val deg = new Array[Long](keys.size)
      s.foreach(i => if (i >= 0) deg(i) += 1)
      // keep only the edges that carry rank: a node to a node
      var m = 0
      for (k <- s.indices if s(k) >= 0 && d(k) >= 0 && isSrc.get(d(k))) {
        s(m) = s(k); d(m) = d(k); m += 1
      }
      val rank = Array.fill(keys.size)(unit)
      val mass = new Array[Long](keys.size)
      for (_ <- 1 to iterations) {
        java.util.Arrays.fill(mass, 0L)
        for (k <- 0 until m) mass(d(k)) += rank(s(k)) / deg(s(k))
        for (i <- rank.indices)
          rank(i) = base + (mass(i) / 100) * 85 + ((mass(i) % 100) * 85) / 100
      }
      val nullRank = if (iterations > 0) base else unit
      keys.indices.iterator.filter(isSrc.get).map(i => Row(keys(i), rank(i))) ++
        (if (nullSrc) Iterator(Row(null, nullRank)) else Iterator.empty)
    }(Encoders.row(out))
  }

  /** The distributed rank loop over the measured edge list `e`, laid out in
    * `nParts` partitions. */
  private def rankLoop(e: DataFrame, nParts: Int, iterations: Int): DataFrame = {
    // One pass over the (huge) edge table: out-degree, partitioned on src —
    // the loop below never re-reads the raw edges. The static node list is
    // materialized separately: each iteration's rank table is then
    // consumed exactly ONCE (the contribution join), so lineage
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
    //
    // The layout is SIZED, not inherited from spark.sql.shuffle.partitions:
    // `nParts` comes from the measured bytes ([[edgeList]]), so a small
    // graph does not run 32 near-empty tasks per stage (BENCH_r16's
    // 8-core/32-core ratio of 0.71 was that empty-task tax). adj is
    // materialized clustered on src ([[Pin.clustered]]), not cached: an
    // adaptively-partitioned cache loses the reported hash layout, and the
    // loop re-planned Exchange+Sort on the adjacency side of every round's
    // join (r17) — a per-round shuffle of the biggest table at 100 TB. With
    // the clustered checkpoint every round's contribution join consumes adj
    // with no exchange and no sort, and the degree window rides the same
    // edge shuffle. nodes inherits the co-partitioned layout (distinct over
    // adj adds no exchange).
    val w = Window.partitionBy("src")
    val adj = Pin.clustered(e, Seq(col("src")), nParts,
      _.withColumn("deg", count(lit(1)).over(w)))
    val nodes = Pin.clustered(adj, Seq(col("src")), nParts,
      _.select(col("src").as("node")).distinct())
    nodes.count() // materialize adj + nodes once, before the loop
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
