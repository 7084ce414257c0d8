package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan regression tests: the properties that make these queries
  * scale (pushdown, pruning, broadcast, window-group-limit) asserted
  * against the actual optimized plans over the sf0.001 testdata.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.explainString(FormattedMode)

  test("dedup_excise: span aggregates exchange hashes and positions only; " +
    "three narrow corpus passes, no wide text movement") {
    val p = plan("dedup_excise")
    // exactly two data shuffles — the dup-hash aggregate and the per-doc
    // cut-position aggregate — plus the final orderBy's range exchange;
    // both carry (hash, id, pos)-sized rows, never tokens
    assert(p.linesIterator.count(_.contains("Arguments: hashpartitioning")) == 2,
      "expected exactly the two span-aggregate shuffles")
    // both span aggregates partial-aggregate map-side before their shuffle
    assert("SortAggregate".r.findAllIn(p).size + "ObjectHashAggregate".r.findAllIn(p).size >= 4)
    // the corpus text is read by three NARROW passes (two windowing, one
    // rewrite); the joins stay broadcast at this scale
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_slice: both predicates push into the parquet scan") {
    val p = plan("q_slice")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("GreaterThan(c_acctbal,1000.0)"))
  }

  test("q_slice: scan is column-pruned to the selected+filtered columns") {
    val p = plan("q_slice")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("c_nationkey")) // unused column never read
  }

  test("q_join_broadcast: dim side broadcasts, no fact shuffle before join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_join_multi: both dim joins broadcast") {
    val p = plan("q_join_multi")
    assert("BroadcastHashJoin Inner".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_pricing_summary: date filter pushed; only needed columns read") {
    val p = plan("q_pricing_summary")
    assert(p.contains("LessThanOrEqual(l_shipdate,"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_partkey") && !read.contains("l_comment"))
  }

  test("sim_topk_bruteforce: per-partition rank pruning (WindowGroupLimit)") {
    val p = plan("sim_topk_bruteforce")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastExchange")) // query side broadcast
  }

  test("silver transform is shuffle-free (narrow pipeline)") {
    val bronze = layers.Bronze.build(spark,
      Seq("""{"id": "x", "name": "n"}"""), java.time.LocalDate.of(2024, 1, 15))
    val p = layers.Silver.transform(bronze, java.time.LocalDate.of(2024, 1, 15))
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"))
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    val orders = queries.Parity.t(spark, sf, "orders")
    val customer = queries.Parity.t(spark, sf, "customer")
    graft.storage.Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 4)
    graft.storage.Bucketing.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 4)
    // force a non-broadcast join so bucketing (not auto-broadcast) is what
    // eliminates the shuffle — the situation bucketing exists for is two
    // tables too big to broadcast
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      assert(!p.contains("Exchange hashpartitioning"),
        "bucketed join must not re-shuffle either side")
      // sanity: result matches the unbucketed join
      assert(joined.count() ==
        orders.join(customer, orders("o_custkey") === customer("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("sessionize and as-of join shuffle data exactly once (by key)") {
    // windows + downstream grouping reuse one hashpartitioning exchange;
    // the only other exchange is the final ORDER BY's range partitioning
    for (q <- Seq("q_sessionize", "q_asof_join")) {
      val p = plan(q)
      val hashExchanges = p.linesIterator
        .count(l => l.contains("Arguments: hashpartitioning"))
      assert(hashExchanges == 1, s"$q: expected 1 hash exchange, got $hashExchanges")
    }
  }

  test("ann candidate dedup never carries embedding vectors") {
    // the cross-table distinct must group on ids alone — its exchange would
    // otherwise shuffle dim×4 bytes per row where 16 suffice
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("sim_topk_lsh", "sim_cosine_neardup")) {
      val lp = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val aggs = lp.collect { case a: Aggregate => a }
      assert(aggs.nonEmpty, s"$q: expected a candidate-dedup aggregate")
      for (a <- aggs; attr <- a.output)
        assert(!attr.dataType.isInstanceOf[ArrayType],
          s"$q: distinct carries array column ${attr.name}")
    }
  }

  test("tf_rarity: per-doc top-k prunes via WindowGroupLimit; aggs partial") {
    val p = plan("text_tf_rarity")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("partial_count") || p.contains("Partial"))
  }

  /** Above one advisory partition the packing stage is the two-pass
    * grouped enumeration ([[graft.ops.TrainPrep.groupedRunningSum]]; these
    * cases force it at sf0.001 through its seam): rows are sliced by a
    * binary search of sampled bounds, and its one data-wide shuffle is the
    * hash exchange for the (pid, group)-sliced running-sum window — no
    * task ever sorts a whole (split, lang) group. The remaining hash
    * exchanges carry reduced rows: the per-(pid, group) partial-aggregate
    * and the #slices-sized offsets prefix-sum. Signature census (dedup'd
    * by grouping keys, so a subplan rendered twice doesn't double-count). */
  private def hashExchangeKeys(p: String): Set[String] =
    p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
      .map(_.replaceAll(".*hashpartitioning\\(", "").replaceAll("#\\d+L?", "")
        .replaceAll(", \\d+\\).*", "")).toSet

  /** `q`'s plan on the forced two-pass form, after the plans of the
    * executions that building it runs: the running sum measures its input
    * eagerly, so the stages upstream of the packing (the fingerprint
    * dedup) run in that measurement, not in the final plan. */
  private def twoPassPlans(q: String): String = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            ran.add(s.physicalPlanDescription)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val p = graft.ops.TrainPrep.twoPassRunningSums(plan(q))
      org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark.sparkContext)
      (ran.toArray.toSeq :+ p).mkString("\n")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("prep_corpus: dedup groupBy + two-pass packing, no group-wide window") {
    val p = twoPassPlans("prep_corpus")
    assert(p.contains("binarySearch"),
      s"packing must slice by sampled bounds (two-pass enumeration):\n$p")
    val keys = hashExchangeKeys(p)
    assert(keys == Set("__fp", "__grs_pid, split, lang", "split, lang"),
      s"unexpected hash-exchange key census: $keys\n$p")
    // every data-sized window is (pid, group)-sliced
    assert(p.contains("windowspecdefinition(__grs_pid"), p)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("prep_corpus_chunked: chunking adds NO shuffle over prep_corpus") {
    // same wide stages as prep_corpus — fingerprint dedup + the two-pass
    // packing; the chunk explode and the doc-hash split are narrow
    val p = twoPassPlans("prep_corpus_chunked")
    assert(p.contains("binarySearch"), p)
    val keys = hashExchangeKeys(p)
    assert(keys == Set("__fp", "__grs_pid, split, lang", "split, lang"),
      s"unexpected hash-exchange key census: $keys\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("scd2 merge shuffles once on the key (both windows share one exchange)") {
    val p = plan("q_scd2")
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges")
  }

  test("incremental refresh: no exchange wider than groups + changelog") {
    // delta agg partial-aggregates map-side; the merge join exchanges only
    // aggregate rows — never the base table (which this plan reads once
    // for `prev` because the query recomputes it; a real deployment reads
    // the stored aggregate)
    val p = plan("q_incremental_agg")
    assert(p.contains("partial_count") || p.contains("Partial"))
    // every hash exchange moves aggregate rows, never raw orders rows:
    // the Input line of each Exchange block must not carry o_orderkey
    val lines = p.linesIterator.toVector
    val exchangeIdx = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") => i }
    assert(exchangeIdx.nonEmpty)
    exchangeIdx.foreach { i =>
      val input = lines.drop(i).take(6).find(_.trim.startsWith("Input"))
      assert(input.isDefined,
        s"explain layout changed — no Input line after Exchange at line $i; " +
          "update this test rather than letting it pass vacuously")
      assert(!input.get.contains("o_orderkey"),
        s"raw orders rows cross an exchange: ${input.get}")
    }
  }

  test("tpch3/tpch5: dims broadcast, facts shuffle on join keys only") {
    for (q <- Seq("q_tpch3", "q_tpch5")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dims must broadcast")
    }
    // Q6 is a pure scan: predicates reach the parquet reader
    val p6 = plan("q_tpch6")
    assert(p6.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_discount")), p6.take(1500))
  }

  test("zorder layout key is a narrow projection over one stats broadcast") {
    val p = plan("q_zorder")
    // the only hash exchange allowed is none — stats join broadcasts, the
    // z-value is computed in a project; ORDER BY adds a range exchange only
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 0, s"expected no hash exchange, got $hashExchanges")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("runtime bloom filter prunes the fact scan for a selective dim join") {
    // Spark's runtime-filter rule builds a bloom filter from the selective
    // dim side and applies it to the fact scan BEFORE the join shuffle —
    // at 100 TB this is the difference between shuffling the whole fact
    // table and shuffling the ~1/5 that can match. Local thresholds are
    // tuned down so the tiny test tables qualify; production defaults
    // (10 MB creation side / 10 GB scan side) activate it exactly where
    // the shuffle saving pays at cluster scale.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.explainString(FormattedMode)
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n${p.take(2000)}")
      // the filter applies on the FACT side, before its exchange
      val factFilter = p.linesIterator.find(_.contains("might_contain")).get
      assert(factFilter.contains("l_orderkey"))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("self-joining TPC-H plans reuse the repeated subplan's exchange") {
    // q17 (lf = lineitem⋈part feeds the per-part average AND the outer
    // probe), q21 (lo = lineitem⋈orders scanned for per-order counts AND
    // the late-line probe), q11/q15 (the grouped aggregate feeds its own
    // scalar total/max) all reference a subplan twice. At 100 TB a
    // recompute is a second full fact pass, so the planner MUST dedup the
    // common exchange. ReuseExchange matches canonicalized plans — the
    // same matching AQE's runtime stage cache uses — so pin it with AQE
    // off, where reuse is visible statically as a ReusedExchange node.
    val conf = spark.conf
    val prev = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("q_tpch17", "q_tpch11", "q_tpch15")) {
        val p = plan(q)
        assert(p.contains("ReusedExchange"),
          s"$q: repeated subplan must reuse its exchange, not recompute:\n${p.take(3000)}")
      }
      // q21's late-line probe filters `lo` BEFORE its join, so pushdown
      // makes the two subtrees canonically unequal and ReuseExchange
      // can't fire — the query materializes `lo` ONCE as an okey-clustered
      // localCheckpoint (r17): both consumers must read the checkpoint
      // leaves, the reported hashpartitioning(l_orderkey) + ordering must
      // make everything from the checkpoint to the 20-row supplier
      // aggregate exchange-free (exactly ONE non-broadcast Exchange in
      // the whole final plan), and the lineitem scan must never appear
      // in the final plan (it runs once, inside the checkpoint statement).
      val p21 = plan("q_tpch21")
      val ckScans = p21.linesIterator.count(l =>
        l.contains("Scan ExistingRDD") || (l.contains("MapPartitionsRDD")
          && l.contains("localCheckpoint")))
      assert(ckScans >= 2,
        s"q_tpch21: both lo consumers must read the checkpointed join:\n${p21.take(3000)}")
      assert(p21.contains("hashpartitioning(l_orderkey"),
        s"q_tpch21: the checkpoint must report the okey clustering:\n${p21.take(3000)}")
      val exchanges21 = p21.linesIterator
        .count(l => l.contains("+- Exchange") || l.trim.startsWith("Exchange"))
      assert(exchanges21 <= 1,
        s"q_tpch21: downstream of the checkpoint only the final supplier " +
          s"aggregate may shuffle ($exchanges21 exchanges):\n${p21.take(3000)}")
      val lineitemScans = p21.linesIterator.count(_.contains("lineitem.parquet"))
      assert(lineitemScans == 0,
        s"q_tpch21: lineitem must only be scanned inside the checkpoint " +
          s"($lineitemScans scans in the final plan):\n${p21.take(3000)}")
    } finally conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("text_bm25: no corpus shuffle — broadcast stats + TakeOrdered top-k") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastExchange")) // 1-row stats table
    // the only exchanges are the stats aggregate's and the broadcast — the
    // scored corpus itself is never repartitioned
    assert(!p.contains("SortMergeJoin"))
  }

  test("text_sparse_cosine: champion cap prunes per-partition " +
    "(WindowGroupLimit) and the top-k is a TakeOrdered, not a global sort") {
    val p = plan("text_sparse_cosine")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_pagerank: one materialized adjacency feeds all three iterations") {
    // q_pagerank's edge list fits one advisory partition here, so the query
    // runs in one task (next case); this pins the distributed loop on the
    // same part↔supplier edges.
    val li = spark.read.schema("l_partkey long, l_suppkey long")
      .parquet(s"$sf/lineitem.parquet")
    val p = graft.ops.Graph.pageRankDistributed(graft.ops.Graph.partSupplierEdges(li),
        iterations = 3, assumeDistinct = true)
      .queryExecution.explainString(FormattedMode)
    // r17: the edge table materializes once as a size-partitioned
    // localCheckpoint (not a cache — an adaptively-partitioned cache
    // loses its reported hash layout and re-plans Exchange+Sort on the
    // adjacency side of every round's join); every iteration reads the
    // checkpointed (src, dst, deg) RDD directly
    assert(p.linesIterator.count(l =>
      l.contains("MapPartitionsRDD") && l.contains("localCheckpoint")
        && l.contains("deg#")) >= 3, p.take(800))
    assert(!p.contains("InMemoryTableScan"),
      "the rank loop must read the checkpointed adjacency, not a cache")
  }

  test("q_pagerank: the in-task plan has no exchange after the measured checkpoint") {
    val p = plan("q_pagerank")
    // the measured edge list is the plan's only leaf; one coalesced
    // mapPartitions runs the whole loop
    assert(p.contains("Scan ExistingRDD") && p.contains("Coalesce") &&
      p.contains("MapPartitions"), p.take(1500))
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("dedup_span: semi-join against the deduplicated shared-hash set") {
    val p = plan("dedup_span")
    assert(p.contains("LeftSemi"))
    // per-hash doc count aggregates partially (map-side) after the distinct
    assert(p.contains("partial_count"))
  }

  test("prep_dsir: bucket weight table broadcasts; corpus join is broadcast-hash") {
    val p = plan("prep_dsir")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("merge_upsert: ONE key exchange, no join — the minimal CDC-apply plan") {
    val p = SparkEntry.queries("q_merge_upsert")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(600))
    assert(!p.contains("Join"), "CDC apply must fold via window, not join")
  }

  test("inverted_index: per-token cap prunes BEFORE the exchange; rare set broadcasts") {
    val p = SparkEntry.queries("text_inverted_index")(spark, sf)
      .queryExecution.executedPlan.toString
    // WindowGroupLimit must appear in Partial mode (map-side pruning of
    // posting candidates) — a plain Window would buffer unbounded postings
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"per-token cap must prune map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=50-row rare-token set must broadcast:\n$p")
  }

  test("negatives: one pinned window pass feeds all three consumers; no pair join") {
    val p = SparkEntry.queries("prep_negatives")(spark, sf)
      .queryExecution.executedPlan.toString
    // the single ring-window pass is persisted; the direct branch, the
    // wrap branch, and the ring-head lookup must all read the cache
    // instead of re-running the window shuffle
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      s"all three consumers must read the pinned window pass:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"negative sampling must never enumerate candidate pairs:\n$p")
  }

  test("token_ids: corpus never shuffles — one vocab agg + broadcast map") {
    val p = SparkEntry.queries("prep_token_ids")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only hash exchange belongs to the bounded vocabulary aggregate;
    // the document scan flows narrow into the broadcast join. topTokens'
    // rank window carries BoundedWindow's constant key (frame = the
    // limit(k) vocabulary, <= topK rows) but adds NO exchange: the
    // TakeOrderedAndProject child is already a single partition, which
    // satisfies the constant-key clustering trivially.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(600))
    assert(p.contains("BroadcastExchange"))
  }

  test("no partition-free WindowExec in the windowed query surface") {
    // Every global rank/cumulative window in the engine runs over a frame
    // bounded by construction and carries BoundedWindow's constant key,
    // so WindowExec's data-wide "No Partition Defined" warning stays
    // meaningful: if this spec finds a bare window, either a real
    // data-wide window crept in (a scale bug) or a bounded one forgot
    // its key (re-burying the warning signal). The list covers every
    // BoundedWindow call site plus the ordinary keyed-window queries.
    val names = Seq("prep_token_ids", "prep_vocab", "text_hybrid_rrf",
      "text_bpe_vocab", "text_unigram_train", "text_wordpiece_vocab",
      "prep_mixture_temperature", "prep_priority_sample", "quality_drift",
      "q_resample_ffill", "q_funnel", "q_cohort_retention")
    for (n <- names) {
      val bare = SparkEntry.queries(n)(spark, sf)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
        }
      assert(bare.isEmpty,
        s"$n plans a partition-free window:\n${bare.mkString("\n")}")
    }
  }

  test("window_sliding: window() generates narrow; one aggregate exchange") {
    val p = SparkEntry.queries("q_window_sliding")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(600))
  }

  test("funnel: per-user fold needs exactly two exchanges (user, then stage)") {
    val p = SparkEntry.queries("q_funnel")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(600))
  }

  test("gold aggregate plans partial aggregation before the shuffle") {
    val p = plan("q_gold_agg")
    // partial_count marks map-side (pre-shuffle) aggregation
    assert(p.contains("partial_count") || p.contains("Partial"))
  }

  test("prep_quality_logit: one narrow projection — zero exchanges") {
    val p = SparkEntry.queries("prep_quality_logit")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only exchange allowed is the final ORDER BY's range partitioning;
    // the scoring itself must add no hash exchange
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
  }

  test("dedup_incremental_bloom: filter fold partial-aggregates map-side; " +
    "history keys never broadcast to the batch rows") {
    val df = SparkEntry.queries("dedup_incremental_bloom")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bloom bitset fold runs under ObjectHashAggregate with a partial
    // phase — the history stream merges map-side before one tiny exchange
    assert(p.contains("ObjectHashAggregate"), p.take(600))
    assert(p.contains("bloom_agg"), "the sketch aggregate must be in the plan")
  }

  test("sim_topk_ivf_indexed: probed-cell isin filter reaches the list scan " +
    "as a partition filter") {
    val df = SparkEntry.queries("sim_topk_ivf_indexed")(spark, sf)
    val p = df.queryExecution.explainString(FormattedMode)
    // the assign-table scan is partition-filtered on cell (static pruning
    // from the probe set) — not a full-list read
    assert(p.contains("cell"), p.take(800))
    val scanLines = p.linesIterator.filter(l =>
      l.contains("PartitionFilters") && l.contains("cell")).toList
    assert(scanLines.nonEmpty,
      "expected a PartitionFilters entry on the cell column:\n" + p.take(1200))
  }

  test("text_bpe_segment: per-word length dictionary broadcasts; no " +
    "sort-merge join anywhere in the inference plan") {
    // the trainer runs during query construction (driver loop over
    // vocab-sized state); the captured plan is the INFERENCE side. Its
    // joins must all be broadcast — the word-keyed exchange that remains
    // is the dictionary's own distinct (map-side-deduped, vocab-bounded
    // rows on the wire), and the instance stream exchanges only for the
    // per-doc re-aggregation.
    val df = SparkEntry.queries("text_bpe_segment")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "dictionary must broadcast, not sort-merge:\n" + p.take(800))
  }

  test("text_bpe_encode: word-instance stream never shuffles on the word " +
    "key — per-word id lists broadcast onto it") {
    val p = plan("text_bpe_encode")
    val keys = hashExchangeKeys(p)
    assert(!keys.exists(_.contains("word")),
      s"instance stream must not hash-exchange on word (dict is broadcast): $keys")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("text_unigram_segment: Viterbi dictionary broadcasts onto the " +
    "instance stream — no word-key shuffle, no sort-merge join") {
    // training runs during query construction (driver EM loop over
    // vocab-sized state); the captured plan is inference: distinct-word
    // Viterbi folds on the dictionary side, instances join it broadcast
    val df = SparkEntry.queries("text_unigram_segment")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "Viterbi dictionary must broadcast, not sort-merge:\n" + p.take(800))
  }

  test("text_wordpiece_encode: greedy fold runs per DISTINCT word under a " +
    "broadcast vocabulary map — every join broadcast, no sort-merge join") {
    // the word-keyed exchange that remains is the dictionary's own
    // distinct (map-side-deduped, vocab-bounded rows on the wire — the
    // text_bpe_segment shape); the instance stream itself joins the
    // per-word id lists as a broadcast and exchanges only for the per-doc
    // re-aggregation
    val p = plan("text_wordpiece_encode")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "vocabulary and per-word ids must broadcast, not sort-merge:\n" + p.take(800))
  }

  test("text_perplexity_buckets: bucketing is by broadcast value cutoffs — " +
    "no data-wide window, no global sort before the output order") {
    val df = SparkEntry.queries("text_perplexity_buckets")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the head/middle/tail thresholds were resolved driver-side from the
    // bounded distribution; the plan must hold no WindowExec at all
    assert(!p.contains("Window"), "no window may survive:\n" + p.take(800))
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastExchange"),
      p.take(800))
  }

  test("sim_topk_ivf_deleted: tombstone mask is a broadcast anti join; " +
    "probed-cell pruning still reaches the list scan") {
    val df = SparkEntry.queries("sim_topk_ivf_deleted")(spark, sf)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "mask must anti-join broadcast:\n" + p.take(1000))
    // the probed cells appear as an isin/in partition filter on the
    // cell-partitioned list table, as in the undeleted indexed search
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("text_gopher_rules: one narrow pass — scan pruned to (doc_id, text), " +
    "zero hash exchanges") {
    val df = SparkEntry.queries("text_gopher_rules")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "rule battery must add no shuffle:\n" + p.take(600))
    val read = plan("text_gopher_rules").linesIterator
      .find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"),
      s"scan must prune to (doc_id, text): $read")
  }

  test("text_kneser_ney: ONE corpus scan feeds the pinned pair table; " +
    "all marginals aggregate the cache, Np broadcasts") {
    val df = SparkEntry.queries("text_kneser_ney")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // every consumer (c1/N1w1, N1w2, Np, final join) reads the pinned
    // cache, never the instance stream (the nested InMemoryRelation text
    // repeats the original scan, so scans-in-text can't be counted — the
    // cache reads can)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      "all four consumers must read the pinned pair table:\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the one-row Np must broadcast:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("pq searches: candidate and final top-k windows prune with " +
    "WindowGroupLimit; codebooks and queries broadcast") {
    for (q <- Seq("sim_topk_pq", "sim_topk_ivf_pq")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
        s"$q: both rank filters must prune per-partition:\n" + p.take(800))
      assert(p.contains("BroadcastExchange"), s"$q: " + p.take(800))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(800))
    }
  }

  test("no query in the declared surface plans a partition-free Window " +
    "(every global rank/cumsum rides BoundedWindow's constant key)") {
    // The "no data-wide WindowExec" claim was previously asserted per
    // sampled query; this enforces it across ALL declared queries — a
    // partition-free Window is exactly the single-partition data-wide
    // shuffle the 100 TB design bans, and hundreds of benign warnings
    // from known-bounded frames would drown the one real offender
    // (r17: this scan caught q_skyline's bucket window). Bounded frames
    // must spell it with graft.ops.BoundedWindow, which keeps the same
    // single-partition execution but states the intent in the plan.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad =
          try fn(spark, sf).queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }.size
          catch { case _: Throwable => 0 } // build failures belong to Verify
        if (bad > 0) Some(s"$name ($bad)") else None
    }
    assert(offenders.isEmpty,
      s"partition-free Window in: ${offenders.mkString(", ")}")
  }
}
