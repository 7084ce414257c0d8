package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Unit tests for the training-data-pipeline operators (dedup, similarity,
  * text analysis) on small in-memory fixtures with hand-computable goldens.
  */
class OpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "el perro que corre y la casa de que")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per distinct text") {
    val out = Dedup.exactByKey(docs, "text", "doc_id").collect()
    assert(out.length == 4) // 5 docs, one exact dup
    val keeper = out.find(_.getAs[String]("text").endsWith("lazy dog")).get
    assert(keeper.getAs[Long]("doc_id") == 0L)
  }

  test("minhash: identical docs have est_jaccard 1.0; near-dups found") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", k = 2, numHashes = 16,
      bands = 8, minJaccard = 0.0).collect()
    val exact = pairs.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 3L)
    assert(exact.isDefined && exact.get.getAs[Double]("est_jaccard") == 1.0)
    // near-dup 0-1 should collide in at least one band and score high-ish
    val near = pairs.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L)
    assert(near.isDefined && near.get.getAs[Double]("est_jaccard") > 0.3)
  }

  test("simhash: identical docs at hamming 0, near-dups close") {
    val dups = Dedup.simhashDups(docs, "doc_id", "text", maxHamming = 16).collect()
    val exact = dups.find(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 3L)
    assert(exact.isDefined && exact.get.getAs[Long]("hamming") == 0L)
  }

  test("ngram jaccard: exact dup = 1.0, near-dup in (0,1)") {
    val pairs = Seq((0L, 3L), (0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 1L)) > 0.5 && j((0L, 1L)) < 1.0)
    assert(j((0L, 2L)) == 0.0)
  }

  test("exploded aggregate twin computes identical minhash signatures") {
    // the narrow per-row path (production) and the explode + window +
    // MinhashAgg path (for pre-exploded inputs) must stay value-identical
    val narrow = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exploded = Dedup.shingleHashRows(docs, "doc_id", "text", 3)
      .select(col("__id").alias("mh_id"),
        pmod(col("sh"), lit(2147483647L)).alias("h"))
      .groupBy(col("mh_id"))
      .agg(graft.functions.SketchAggregates.minhashAgg(col("h"), 16).alias("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(narrow == exploded)
  }

  test("shingles produce n-k+1 word k-grams") {
    val sh = docs.filter($"doc_id" === 2L)
      .select(Dedup.shingles($"text", 3).alias("sh"))
      .collect().head.getSeq[String](0)
    assert(sh.length == 4) // 6 tokens, k=3
    assert(sh.head == "completely different content")
  }

  test("cosine: orthogonal=0, identical=1, deterministic fold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val scores = vecs.alias("a").crossJoin(vecs.alias("b"))
      .select($"a.vec_id".alias("ia"), $"b.vec_id".alias("ib"),
        Similarity.cosine($"a.embedding", $"b.embedding").alias("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scores((1L, 2L)) == 0.0)
    assert(scores((1L, 3L)) == 1.0)
    assert(math.abs(scores((1L, 1L)) - 1.0) < 1e-15)
  }

  test("brute-force top-k: finds the colinear vector first, ties by id") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.01f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, corpus.filter($"vec_id" === 1L),
      "vec_id", "embedding", k = 2).collect()
    assert(out.length == 2)
    assert(out.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("corpus_id") == 4L)
    assert(out.find(_.getAs[Int]("rank") == 2).get.getAs[Long]("corpus_id") == 2L)
  }

  test("clusters: min-label propagation finds connected components") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    val comp = ops.Dedup.clusters(pairs, maxIter = 6).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(4L) == 4L && comp(5L) == 4L)
    assert(Seq(7L, 8L, 9L, 10L).forall(comp(_) == 7L)) // 4-node chain
  }

  test("clustersFast: pointer doubling converges in O(log D) where bounded " +
    "propagation does not — exact on a 300-node chain in <= 10 rounds") {
    // a path 0-1-2-…-299: diameter 299. Pure propagation moves the min
    // label ONE hop per round, so maxIter=10 leaves most of the chain
    // unconverged; doubling reaches 2^rounds hops.
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fast = ops.Dedup.clustersFast(chain, maxIter = 10).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(fast.size == 300 && fast.values.forall(_ == 0L),
      "doubling must label the whole chain with the component minimum")
    val slow = ops.Dedup.clusters(chain, maxIter = 10).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(slow(299L) != 0L,
      "bounded pure propagation cannot cross a 299-hop chain in 10 rounds " +
        "(if it did, this test's premise is wrong)")
    // and on the multi-component graph it matches clusters exactly
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    val a = ops.Dedup.clusters(pairs, maxIter = 6).orderBy("id")
    val b = ops.Dedup.clustersFast(pairs, maxIter = 6).orderBy("id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("checkpointWithChecksum: same sum as the standalone labelChecksum " +
    "(incl. null on empty), and the probe rides the checkpoint's own job") {
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the status tracker is fed by the async listener bus — poll until
      // the job count is stable so the accounting below isn't racy
      var last = -1
      var cur = sc.statusTracker.getJobIdsForGroup(group).length
      while (cur != last) {
        last = cur; Thread.sleep(50)
        cur = sc.statusTracker.getJobIdsForGroup(group).length
      }
      cur
    }
    val labels = Seq((1L, 5L), (2L, 5L), (3L, 1L)).toDF("id", "label")
    var fusedSum: java.math.BigDecimal = null
    var ck: org.apache.spark.sql.DataFrame = null
    val fusedJobs = jobsIn("ckpt-fused") {
      val r = ops.Dedup.checkpointWithChecksum(labels); ck = r._1; fusedSum = r._2
    }
    assert(fusedSum == ops.Dedup.labelChecksum(ck),
      "fused checksum must equal the standalone scan over the same table")
    assert(fusedSum == new java.math.BigDecimal(11))
    assert(ck.orderBy("id").collect().map(_.getLong(1)).toSeq == Seq(5L, 5L, 1L))
    // no-extra-job: the fused probe adds NO job over a bare eager
    // checkpoint, while the standalone checksum aggregate is extra jobs
    val bareJobs = jobsIn("ckpt-bare") { labels.localCheckpoint(true) }
    val probeJobs = jobsIn("ckpt-probe") { ops.Dedup.labelChecksum(ck) }
    assert(fusedJobs == bareJobs && probeJobs >= 1,
      s"fused=$fusedJobs bare=$bareJobs probe=$probeJobs — the checksum " +
        "must ride the materialization job, not add one")
    // the same over an aggregate (a shuffle stage before the final one):
    // the observed count, bytes and checksum still add no job
    val reduced = spark.range(200).groupBy((col("id") % 7).as("id"))
      .agg(min(col("id")).as("label"))
    val reducedFused = jobsIn("ckpt-fused-agg") { ops.Dedup.checkpointWithChecksum(reduced) }
    val reducedBare = jobsIn("ckpt-bare-agg") { reduced.localCheckpoint(true) }
    assert(reducedFused == reducedBare && reducedBare >= 2,
      s"fused=$reducedFused bare=$reducedBare over an aggregate")
    // null-on-empty parity with labelChecksum (sum over no rows is null)
    val empty = labels.filter(col("id") < 0L)
    val (eCk, eSum) = ops.Dedup.checkpointWithChecksum(empty)
    assert(eSum == null && ops.Dedup.labelChecksum(eCk) == null)
  }

  test("bloom filter: no false negatives ever; fp rate sane; gated " +
    "incremental dedup equals ungated under clean AND saturated filters") {
    import graft.functions.BloomFunctions.{bloom_agg, bloom_might_contain}
    val bits = 1 << 16
    val keys = spark.range(0, 5000).select(xxhash64(col("id")).as("h"))
    val bloom = keys.agg(bloom_agg(col("h"), bits, 5).as("b"))
    // every inserted key MUST test positive (exactness of the gate rides
    // on this direction only)
    assert(keys.crossJoin(broadcast(bloom))
      .filter(!bloom_might_contain(col("b"), col("h"), bits, 5)).count() == 0)
    // disjoint keys mostly test negative (5k keys in 64k bits ≈ few % fp)
    val fresh = spark.range(100000, 105000).select(xxhash64(col("id")).as("h"))
    val fp = fresh.crossJoin(broadcast(bloom))
      .filter(bloom_might_contain(col("b"), col("h"), bits, 5)).count()
    assert(fp < 1000, s"fp rate implausible: $fp/5000 at 7.6% load")
    // gated == ungated on the events-shaped fixture…
    val ev = Seq((1L, 10L, "a"), (2L, 10L, "a"), (3L, 11L, "b"), (4L, 12L, "c"),
        (5L, 10L, "a"), (6L, 13L, "d"), (7L, 11L, "b"), (8L, 14L, "e"))
      .toDF("event_id", "user_id", "event_type")
    val hist = ev.filter(col("event_id") <= 4)
    val batch = ev.filter(col("event_id") > 4)
    val plain = ops.Dedup.incremental(hist, batch, Seq("user_id", "event_type"), "event_id")
    val gated = ops.Dedup.incrementalBloom(hist, batch, Seq("user_id", "event_type"), "event_id")
    assert(gated.exceptAll(plain).isEmpty && plain.exceptAll(gated).isEmpty)
    // …and under an ADVERSARIAL 64-bit filter (everything collides →
    // every row takes the exact path): correctness never rides on the fp
    // rate
    val saturated = ops.Dedup.incrementalBloom(hist, batch,
      Seq("user_id", "event_type"), "event_id", numBits = 64, numHashes = 1)
    assert(saturated.exceptAll(plain).isEmpty && plain.exceptAll(saturated).isEmpty)
  }

  test("incrementalBloom: a precomputed filter built with different " +
    "parameters fails the query loudly instead of yielding false negatives") {
    import graft.functions.BloomFunctions.bloom_agg
    val ev = Seq((1L, 10L, "a"), (2L, 11L, "b"), (3L, 12L, "c"))
      .toDF("event_id", "user_id", "event_type")
    val hist = ev.filter(col("event_id") <= 2)
    val batch = ev.filter(col("event_id") > 2)
    def persistedAt(bits: Int, hashes: Int) = hist
      .agg(bloom_agg(
        xxhash64(col("user_id"), col("event_type")), bits, hashes).as("bloom"))
      .select(col("bloom"), lit(bits).alias("num_bits"),
        lit(hashes).alias("num_hashes"))
    def probe(pf: org.apache.spark.sql.DataFrame): Unit =
      ops.Dedup.incrementalBloom(hist, batch, Seq("user_id", "event_type"),
        "event_id", numBits = 1 << 10, numHashes = 5,
        precomputed = Some(pf)).collect()
    def chain(ex: Throwable): String = Iterator.iterate(ex)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // filter persisted at 128 bits; the query probes expecting 1024
    val exBits = intercept[Throwable] { probe(persistedAt(128, 5)) }
    assert(chain(exBits).contains("precomputed filter") &&
      chain(exBits).contains("false"),
      s"expected the parameter-mismatch error, got: ${chain(exBits)}")
    // SAME bitset size but a different numHashes: invisible to the bitset
    // itself, still guaranteed false negatives — the carried parameter row
    // is what witnesses it
    val exHashes = intercept[Throwable] { probe(persistedAt(1 << 10, 3)) }
    assert(chain(exHashes).contains("num_hashes=3"),
      s"expected the numHashes-mismatch error, got: ${chain(exHashes)}")
    // a bare (bloom)-only frame cannot witness numHashes at all — refused
    // up front
    val exBare = intercept[IllegalArgumentException] {
      probe(persistedAt(1 << 10, 5).select(col("bloom")))
    }
    assert(exBare.getMessage.contains("num_bits, num_hashes"))
    // matching parameters still pass (same precomputed shape)
    val gated = ops.Dedup.incrementalBloom(hist, batch,
      Seq("user_id", "event_type"), "event_id", numBits = 1 << 10,
      numHashes = 5, precomputed = Some(persistedAt(1 << 10, 5)))
    val plain = ops.Dedup.incremental(hist, batch,
      Seq("user_id", "event_type"), "event_id")
    assert(gated.exceptAll(plain).isEmpty && plain.exceptAll(gated).isEmpty)
  }

  test("clustersIncremental: equals from-scratch on the union graph; " +
    "rounds bounded by the batch diameter, not the history's") {
    // history: a 300-node chain, already converged (everything labelled 0)
    // — from scratch this costs ~log2(300) ≈ 9 doubling rounds
    val chainPairs = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (history, histRounds) = ops.Dedup.clustersFastCounted(chainPairs, maxIter = 15)
    val h = history.localCheckpoint(false)
    // today's batch: extend the chain by two nodes, merge a fresh 2-cluster,
    // and one redundant intra-cluster pair that must contract away
    val batch = Seq((299L, 300L), (300L, 301L), (400L, 401L), (5L, 250L))
      .toDF("id_a", "id_b")
    val (inc, incRounds) = ops.Dedup.clustersIncrementalCounted(h, batch, maxIter = 15)
    val got = inc.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    // equality with a from-scratch run over history edges + batch
    val scratch = ops.Dedup.clustersFast(chainPairs.unionByName(batch), maxIter = 15)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == scratch, "incremental must equal from-scratch on the union graph")
    assert(got(301L) == 0L && got(300L) == 0L, "chain extension joins component 0")
    assert(got(400L) == 400L && got(401L) == 400L, "fresh cluster keeps its own min")
    assert(got.size == 304)
    // the contracted batch graph has diameter 2 — convergence plus its
    // detection round must come in far under the history's doubling cost
    assert(incRounds <= 4,
      s"batch of diameter 2 took $incRounds rounds (history needed $histRounds)")
    assert(histRounds >= 7,
      "premise: the 300-chain history itself needs ~log2(300) rounds")
  }

  /** The jobs `body` runs, counted under its own job group. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** `body` with broadcast joins off, which forces the distributed
    * component loop; `body` must run its actions inside. */
  private def distributed[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def labelling(components: DataFrame): Map[Long, Long] =
    components.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap

  test("clustersFast: the in-task union-find and the distributed doubling " +
    "loop label random graphs alike, and as a reference search does") {
    // ids 0..39: a few components, duplicate and reversed pairs, self-loops
    val edge = for {
      a <- Gen.chooseNum(0L, 39L)
      b <- Gen.frequency(5 -> Gen.chooseNum(0L, 39L), 1 -> Gen.const(a))
    } yield (a, b)
    val graph = for {
      es <- Gen.chooseNum(1, 30).flatMap(Gen.listOfN(_, edge))
      again <- Gen.someOf(es)
    } yield es ++ again.zipWithIndex.map { case (e, i) => if (i % 2 == 0) e.swap else e }
    val graphs = Seq.empty[(Long, Long)] +:
      (0 until 6).flatMap(i => graph.apply(Gen.Parameters.default, Seed(90L + i)))
    assert(graphs.size == 7)
    graphs.foreach { es =>
      val pairs = es.toDF("id_a", "id_b")
      // reference: each node's component minimum by repeated relaxation
      val ref = scala.collection.mutable.Map[Long, Long]()
      es.foreach { case (a, b) => ref(a) = a; ref(b) = b }
      var changed = true
      while (changed) {
        changed = false
        es.foreach { case (a, b) =>
          val m = math.min(ref(a), ref(b))
          if (ref(a) != m || ref(b) != m) { ref(a) = m; ref(b) = m; changed = true }
        }
      }
      val (inTask, one) = ops.Dedup.clustersFastChosen(pairs)
      val (dist, many) = distributed {
        val (d, chosen) = ops.Dedup.clustersFastChosen(pairs); (labelling(d), chosen)
      }
      assert(one && !many, s"paths: at the default threshold $one, at -1 $many")
      assert(inTask.schema == ops.Dedup.clustersFastCounted(pairs)._1.schema)
      assert(labelling(inTask) == ref.toMap && dist == ref.toMap, es)
    }
  }

  test("clustersFast in one task: as many jobs on a 3-node chain as on a " +
    "300-node one") {
    val jobs = Seq(3L, 300L).map { n =>
      val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
      var got: (DataFrame, Boolean) = null
      val ran = jobsOf(s"cc-in-task-$n") { got = ops.Dedup.clustersFastChosen(chain) }
      assert(got._2 && labelling(got._1) == (0L until n).map(_ -> 0L).toMap)
      ran
    }
    assert(jobs.distinct.size == 1 && jobs.head <= 2, s"jobs per chain: $jobs")
  }

  test("clustersFastCounted: a doubling round is 4 jobs, the own and the " +
    "neighbors' labels folded in one aggregate") {
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // the 300-chain takes ~9 rounds: 2 and 4 both stop at maxIter
    def jobs(rounds: Int) = jobsOf(s"cc-rounds-$rounds") {
      assert(ops.Dedup.clustersFastCounted(chain, maxIter = rounds)._2 == rounds)
    }
    val perRound = (jobs(4) - jobs(2)) / 2
    // 6 while each node's own label came in through a second, chained
    // broadcast join
    assert(perRound == 4, s"$perRound jobs per doubling round")
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    assert(labelling(ops.Dedup.clustersFastCounted(pairs, maxIter = 6)._1) ==
      labelling(ops.Dedup.clusters(pairs, maxIter = 6)))
  }

  test("clustersIncremental in one task equals the distributed fold and a " +
    "from-scratch run") {
    val chainPairs = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val h = ops.Dedup.clustersFastCounted(chainPairs, maxIter = 15)._1.localCheckpoint(false)
    val batch = Seq((299L, 300L), (300L, 301L), (400L, 401L), (5L, 250L))
      .toDF("id_a", "id_b")
    val (inTask, inTaskRounds) = ops.Dedup.clustersIncrementalCounted(h, batch, maxIter = 15)
    val (dist, distRounds) = distributed {
      val (d, r) = ops.Dedup.clustersIncrementalCounted(h, batch, maxIter = 15)
      (labelling(d), r)
    }
    val scratch = labelling(ops.Dedup.clustersFast(chainPairs.unionByName(batch)))
    assert(labelling(inTask) == dist && dist == scratch && scratch.size == 304)
    assert(inTaskRounds == 0 && distRounds >= 1 && distRounds <= 4,
      s"rounds: in one task $inTaskRounds, distributed $distRounds")
  }

  test("triangleCounts: degree-oriented wedge join finds each triangle once") {
    // K4 on {1,2,3,4} (4 triangles, every node in 3) + pendant 5-1 (none);
    // duplicate and reversed pairs must not double-count
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), // reversed duplicates
      (5L, 1L)).toDF("id_a", "id_b")
    val t = ops.Graph.triangleCounts(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(t(_) == 3L), s"got $t")
    assert(!t.contains(5L), "pendant node participates in no triangle")
    // wedge enumeration is an equi-join on the oriented source — never a
    // cartesian or nested-loop expansion
    val p = ops.Graph.triangleCounts(pairs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedupCorpus keeps one representative per near-dup cluster") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
      (2L, "the quick brown fox jumps over the lazy dog today"),   // near dup
      (3L, "completely different text about distributed query engines")
    ).toDF("doc_id", "text")
    val kept = ops.Dedup.dedupCorpus(corpus, "doc_id", "text",
      minJaccard = 0.5, k = 2, numHashes = 16, bands = 8)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.contains(0L) && kept.contains(3L))
    assert(!kept.contains(1L)) // exact dup of 0 always collapses
    assert(kept.length <= 3)
  }

  test("srp buckets actually spread: many distinct keys, no plane degeneracy") {
    // full-rank pseudo-random directions (a low-rank fixture like shifted
    // sinusoids caps the achievable regions at 2·bits regardless of hash)
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(16) { d =>
        val x = math.sin(i * 12.9898 + d * 78.233) * 43758.5453
        (x - math.floor(x) - 0.5).toFloat
      })
    }.toDF("vec_id", "embedding")
    val keys = vecs.select(ops.Similarity.srpKey($"embedding", 16, 6).alias("k"))
      .collect().map(_.getLong(0))
    // 6 independent planes over 200 scattered vectors fill most of the
    // 64-key space; the degenerate checkerboard yields exactly 2 keys.
    assert(keys.distinct.length > 32, s"only ${keys.distinct.length} distinct SRP keys")
    // the fused single-pass expression produces the SAME keys, table by
    // table, as the per-plane vec_dot composition (same fold order)
    val both = vecs.select(
      graft.functions.SketchArrayExpressions.srpKeys($"embedding", 16, 6, 2).alias("fused"),
      ops.Similarity.srpKey($"embedding", 16, 6).alias("t0"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](0).head == r.getLong(1)))
    assert(both.map(_.getSeq[Long](0)(1)).distinct.length > 16) // table 1 spreads too
  }

  test("ivf with full probing equals brute force; partial probing is a subset") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 3)
    val bf = ops.Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // probing every cell => exact
    val full = ops.Similarity.ivfTopK(vecs, qs, "vec_id", "embedding", 3,
      numCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(full == bf)
    // partial probing returns k results per query from probed cells
    val part = ops.Similarity.ivfTopK(vecs, qs, "vec_id", "embedding", 3,
      numCentroids = 8, nprobe = 2).collect()
    assert(part.map(_.getLong(0)).distinct.length == 3)
  }

  test("clusterCapSample: cap respected per cell, keepers are least-central") {
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val out = ops.Similarity.clusterCapSample(
        vecs, "vec_id", "embedding", numCentroids = 4, cap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // ≤ cap rows per cell, ranks 1..n dense, ids unique across cells
    for ((_, rows) <- out.groupBy(_._2)) {
      assert(rows.length <= 5)
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
      // ranks ascend with centroid similarity: rank 1 is the least central
      assert(rows.sortBy(_._4).map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    }
    assert(out.map(_._1).distinct.length == out.length)
    // deterministic: same input → identical sample
    val again = ops.Similarity.clusterCapSample(
        vecs, "vec_id", "embedding", numCentroids = 4, cap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("sourceOverlap: shared trigram counts and Jaccard goldens") {
    val d = Seq(
      (1L, "a b c d e", "web"),    // trigrams: abc bcd cde
      (2L, "a b c x y", "books"),  // abc bcx cxy
      (3L, "p q r s t", "code"))   // pqr qrs rst
      .toDF("doc_id", "text", "source")
    val out = ops.TextAnalysis.sourceOverlap(d, "source", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // books∩web share exactly {abc}: 1 / (3 + 3 - 1)
    assert(out(("books", "web")) == ((1L, 1.0 / 5.0)))
    // disjoint pairs produce NO row (inner join semantics)
    assert(!out.contains(("books", "code")) && !out.contains(("code", "web")))
    // pairs are emitted once, lexicographically ordered
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("fertility: per-language golden ratios") {
    val d = Seq(
      (1L, "ab cd", "en"),      // ws=2 bpe=2 chars=5
      (2L, "x-1!", "en"),       // ws=1 bpe=4 chars=4
      (3L, "hola mundo", "es")) // ws=2 bpe=2 chars=10
      .toDF("doc_id", "text", "lang")
    val out = ops.TextAnalysis.fertility(d, "lang", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(out("en") == ((2L, 3L, 6L, 9L, 9.0 / 3.0, 6.0 / 3.0)))
    assert(out("es") == ((1L, 2L, 2L, 10L, 10.0 / 2.0, 2.0 / 2.0)))
  }

  test("bpe-ish regex tokens: letters, digits, punctuation split") {
    val d = Seq((0L, "hello world42, x-1!")).toDF("doc_id", "text")
    val n = ops.TextAnalysis.bpeTokenCount(d).collect().head.getAs[Long]("n_bpe_tokens")
    // hello | world | 42 | , | x | - | 1 | !
    assert(n == 8L)
  }

  test("token count / quality / langid / fingerprint goldens") {
    val d2 = Seq((10L, "the cat and the hat"), (11L, "el la de que y casa"))
      .toDF("doc_id", "text")
    val tc = TextAnalysis.tokenCount(d2).collect()
    assert(tc.map(_.getAs[Long]("n_tokens")).toSeq == Seq(5L, 6L))
    val q = TextAnalysis.qualityScore(d2).collect().head
    assert(q.getAs[Long]("n_stopwords") == 3L) // the, and, the
    assert(q.getAs[Double]("stopword_ratio") == 0.6)
    assert(q.getAs[Double]("distinct_ratio") == 0.8) // the,cat,and,hat / 5
    val langs = TextAnalysis.languageId(d2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(langs(10L) == "en" && langs(11L) == "es")
    // fingerprint: deterministic, distinct for distinct texts
    val fps = TextAnalysis.fingerprints(d2).collect().map(_.getAs[Long]("fp"))
    assert(fps.distinct.length == 2)
    val fps2 = TextAnalysis.fingerprints(d2).collect().map(_.getAs[Long]("fp"))
    assert(fps.toSeq == fps2.toSeq)
  }

  test("qualityLogit: exact integer logit equals the hand-computed fold; " +
    "custom weights and empty docs behave") {
    val d = Seq((1L, "a b a"), (2L, ""), (3L, "zzz")).toDF("doc_id", "text")
    // mirror the operator arithmetic directly (oracle polynomial hash);
    // the deterministic stub weights live HERE — production trains real
    // weights with TextAnalysis.trainQualityWeights
    def polyHash(w: String): Long =
      w.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    def stubW(b: Long): Long =
      (b * 2654435761L + 12345L) % 1000000007L % 2000001L - 1000000L
    val stub = (0 until 64).map(b => stubW(b.toLong))
    val got = TextAnalysis.qualityLogit(d, "doc_id", "text", dim = 64,
        weightsMicro = stub, tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val exp1 = Seq("a", "b", "a").map(w => stubW(polyHash(w) % 64)).sum
    val exp3 = stubW(polyHash("zzz") % 64)
    assert(got(1L) == (exp1, exp1 > 0), s"got ${got(1L)}, want $exp1")
    assert(got(2L) == (0L, false), "empty doc scores the empty-sum logit")
    assert(got(3L) == (exp3, exp3 > 0))
    // caller-supplied weights: all-positive weights keep everything non-empty
    val allPos = TextAnalysis.qualityLogit(d, "doc_id", "text", dim = 64,
        weightsMicro = Seq.fill(64)(1L), tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(allPos == Map(1L -> 3L, 2L -> 0L, 3L -> 1L),
      "unit weights must count tokens exactly")
  }

  test("suffixRanks: hand-checked dense ranks; ties are shared suffixes") {
    import spark.implicits._
    // sorted suffixes: [a b] (doc1@2, doc2@1)  <  [b]  <  [b a b]
    val d = Seq((1L, "b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = ops.Dedup.suffixRanks(d, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")) ->
        r.getAs[Long]("rank")).toMap
    assert(out == Map((1L, 1L) -> 3L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (2L, 1L) -> 1L, (2L, 2L) -> 2L))
  }

  test("suffixRanks: matches a local brute-force suffix sort on a " +
    "random corpus (incl. long repeated runs that force many rounds)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docsSeq = (1L to 12L).map { i =>
      // doc 7 is one token repeated 70 times: ranks stay tied until the
      // doubling passes the run length, exercising the late rounds
      val toks = if (i == 7L) Seq.fill(70)("a")
        else Seq.fill(5 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
      (i, toks.mkString(" "))
    }
    val expected = docsSeq.flatMap { case (id, text) =>
      val t = text.split(" ").toSeq
      (1 to t.size).map(p => (id, p.toLong, t.drop(p - 1)))
    }
    val sortedSfx = expected.map(_._3).distinct
      .sorted(math.Ordering.Implicits.seqOrdering[Seq, String])
    val rankOf = sortedSfx.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val out = ops.Dedup.suffixRanks(docsSeq.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")) ->
        r.getAs[Long]("rank")).toMap
    assert(out.size == expected.size)
    expected.foreach { case (id, p, sfx) =>
      assert(out((id, p)) == rankOf(sfx), s"doc $id pos $p")
    }
  }

  test("dedupCorpusCanonical: clusters keep the best-quality member, " +
    "not the smallest id; singletons survive") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h"),        // near-dup of 2, shorter
      (2L, "a b c d e f g h i"),      // longest in the cluster -> canonical
      (3L, "x y z w q r s t u v"))    // singleton
      .toDF("doc_id", "text")
    val kept = ops.Dedup.dedupCorpusCanonical(d, "doc_id", "text",
        quality = length(col("text")).cast("long"), minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // min-id policy (dedupCorpus) keeps 1 instead — the policies differ
    val minId = ops.Dedup.dedupCorpus(d, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 3L))
  }

  test("corpusDatasheet: hand-computed one-row card") {
    import spark.implicits._
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, twenty, "en", "s1"),   // 20 distinct tokens: passes the gate
      (2L, twenty, "en", "s1"),   // exact duplicate of 1
      (3L, "a b", "es", "s2"))    // too short for the gate
      .toDF("doc_id", "text", "lang", "source")
    val r = ops.TextAnalysis.corpusDatasheet(d).collect().head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_exact_dup_docs") == 1L)
    assert(r.getAs[Long]("n_tokens") == 42L)
    assert(r.getAs[Long]("max_doc_tokens") == 20L)
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("n_quality_pass") == 2L)
  }

  test("lcpStats: hand-checked ranks, occurrence counts, and capped LCPs") {
    import spark.implicits._
    // distinct suffixes sorted: [a b](×2) < [a b c a b] < [b](×2)
    //                           < [b c a b] < [c a b](×2)
    val d = Seq((1L, "a b c a b"), (2L, "c a b")).toDF("doc_id", "text")
    val out = ops.Dedup.lcpStats(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("rank") ->
        (r.getAs[Long]("n_occurrences"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("pos"), r.getAs[Long]("lcp_next"))).toMap
    assert(out == Map(
      1L -> (2L, 1L, 4L, 2L),  // [a b] vs [a b c a b]: lcp 2
      2L -> (1L, 1L, 1L, 0L),  // [a b c a b] vs [b]: lcp 0
      3L -> (2L, 1L, 5L, 1L),  // [b] vs [b c a b]: lcp 1
      4L -> (1L, 1L, 2L, 0L),  // [b c a b] vs [c a b]: lcp 0
      5L -> (2L, 1L, 3L, 0L))) // last rank: lcp 0
    // the cap truncates long common prefixes exactly at lcpCap
    val long = Seq((1L, "x y z w q"), (2L, "x y z w r")).toDF("doc_id", "text")
    // the [x y z w q] / [x y z w r] pair (doc 1, pos 1) has true lcp 4
    def lcpAt(cap: Int): Long =
      ops.Dedup.lcpStats(long, "doc_id", "text", lcpCap = cap)
        .filter(col("doc_id") === 1L && col("pos") === 1L)
        .collect().head.getAs[Long]("lcp_next")
    assert(lcpAt(2) == 2L, "true lcp 4 must cap at 2")
    assert(lcpAt(32) == 4L)
  }

  test("exciseDuplicateSpans: first occurrence survives, later ones cut; " +
    "overlaps merge; whole-doc excision and short docs behave") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),      // first occurrence of a..f
      (2L, "x y a b c d e f q r"),      // shares the a..f span -> cut
      (3L, "a b c d e f"),              // entirely a duplicate span
      (4L, "tiny doc"),                 // shorter than k: untouched
      (5L, "p q r s p q r s p q r s")   // WITHIN-doc repeat: keep first
    ).toDF("doc_id", "text")
    val out = ops.Dedup.exciseDuplicateSpans(d, "doc_id", "text", k = 3,
        tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    // doc 1 holds every first occurrence of its windows -> untouched
    assert(out(1L) == ((10L, 0L, "a b c d e f g h i j")))
    // doc 2: windows (a b c)..(d e f) are dups; tokens a..f cut, x y q r stay
    assert(out(2L) == ((10L, 6L, "x y q r")))
    // doc 3: every window duplicated -> fully excised, empty text kept
    assert(out(3L) == ((6L, 6L, "")))
    assert(out(4L) == ((2L, 0L, "tiny doc")))
    // doc 5: 12 tokens of period-4 repeats; every window after the first
    // period duplicates an earlier one -> exactly the first 4 survive +
    // whatever no duplicated window covers
    val (n5, rm5, txt5) = out(5L)
    assert(n5 == 12L && txt5.startsWith("p q r s") && rm5 == 12L - txt5.split(" ").length)
    assert(rm5 >= 6L, s"later periods must be largely excised, removed $rm5")
    // count preservation: removed + surviving == original, every doc
    out.values.foreach { case (n, rm, txt) =>
      val kept = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(kept + rm == n)
    }
  }

  test("exciseDuplicateSpansSA: the suffix-array derivation reproduces " +
    "the fixed-k excision bit-for-bit, for power-of-two and odd k") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f q r"),
      (3L, "a b c d e f"),
      (4L, "tiny doc"),
      (5L, "p q r s p q r s p q r s"),   // within-doc period-4 repeats
      (6L, "m n o m n o zz"),            // short-period within-doc repeat
      (7L, "a b c d e f")                // identical whole doc (same class)
    ).toDF("doc_id", "text")
    for (k <- Seq(2, 3, 4, 6, 8)) {
      val fixed = ops.Dedup.exciseDuplicateSpans(d, "doc_id", "text", k)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val sa = ops.Dedup.exciseDuplicateSpansSA(d, "doc_id", "text", k)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(sa == fixed, s"k=$k: SA excision diverged from fixed-k")
    }
    // build-once/derive-many: ONE index (cap = max k, shared start
    // width) serves every k bit-identically to the per-k paths
    val many = ops.Dedup.exciseDuplicateSpansSAMany(
      d, "doc_id", "text", Seq(2, 3, 4, 6, 8))
    assert(many.keySet == Set(2, 3, 4, 6, 8))
    for ((k, df) <- many) {
      val fixed = ops.Dedup.exciseDuplicateSpans(d, "doc_id", "text", k)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(df.orderBy("doc_id").collect().map(_.toString).toSeq == fixed,
        s"k=$k: shared-index excision diverged from fixed-k")
    }
  }

  test("trainQualityWeights: hand-computed NB posterior weights; trained " +
    "gate separates the classes it was trained on") {
    // 2 positive docs of token 'aa', 2 negative of 'bb' — buckets differ
    val labeled = Seq(
      (1L, "aa aa aa", 1L), (2L, "aa aa", 1L),
      (3L, "bb bb bb", 0L), (4L, "bb", 0L)
    ).toDF("doc_id", "text", "y")
    val w = TextAnalysis.trainQualityWeights(labeled, "text", "y", dim = 64,
        tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("pos_b"), r.getAs[Long]("neg_b"),
          r.getAs[Long]("weight_micro"))).toMap
    def polyHash(s: String): Long =
      s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val bA = polyHash("aa") % 64
    val bB = polyHash("bb") % 64
    assert(bA != bB, "fixture tokens must land in distinct buckets")
    // totals: pt = 5 'aa' instances, nt = 4 'bb' instances
    def weight(pos: Long, neg: Long): Long =
      1000000L * (pos + 1) * (4 + 64) /
        ((pos + 1) * (4 + 64) + (neg + 1) * (5 + 64)) - 500000L
    assert(w(bA) == ((5L, 0L, weight(5, 0))), s"got ${w(bA)}")
    assert(w(bB) == ((0L, 4L, weight(0, 4))), s"got ${w(bB)}")
    assert(w(bA)._3 > 0 && w(bB)._3 < 0,
      "positive-class bucket weighs positive, negative negative")
    // unseen bucket: prior-only weight (counts 0)
    val unseen = (0 until 64).map(_.toLong)
      .find(b => b != bA && b != bB).get
    assert(w(unseen) == ((0L, 0L, weight(0, 0))))
    // the trained gate keeps positives and drops negatives
    val weights = TextAnalysis.trainQualityWeights(labeled, "text", "y",
        dim = 64, tokenHash = ops.Dedup.oracleHash)
      .orderBy("bucket").collect().map(_.getAs[Long]("weight_micro")).toSeq
    val kept = TextAnalysis.qualityLogit(labeled, "doc_id", "text", dim = 64,
        weightsMicro = weights, tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(kept == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("trainQualityWeights: products widen to DECIMAL(38,0) — no silent " +
    "BIGINT overflow past ~2M tokens per class") {
    // 310 positive docs x 10k 'aa' + 310 negative x 10k 'bb' puts
    // 10^6·(pos_b+1)·(nt+dim) past Long.MaxValue — the BIGINT spelling
    // silently wrapped (sign-flipped weights); the DECIMAL(38,0) products
    // must stay exact
    val posText = Array.fill(10000)("aa").mkString(" ")
    val negText = Array.fill(10000)("bb").mkString(" ")
    val labeled = spark.range(620).select(
      col("id").alias("doc_id"),
      when(col("id") < 310, lit(posText)).otherwise(lit(negText)).alias("text"),
      when(col("id") < 310, lit(1L)).otherwise(lit(0L)).alias("y"))
    val pt = BigInt(310) * 10000; val nt = BigInt(310) * 10000
    assert(BigInt(1000000) * (pt + 1) * (nt + 64) > BigInt(Long.MaxValue),
      "fixture must exceed the BIGINT product range")
    val w = TextAnalysis.trainQualityWeights(labeled, "text", "y", dim = 64,
        tokenHash = ops.Dedup.oracleHash)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("pos_b"), r.getAs[Long]("neg_b"),
          r.getAs[Long]("weight_micro")))).toMap
    def polyHash(s: String): Long =
      s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val bA = polyHash("aa") % 64
    val bB = polyHash("bb") % 64
    def weight(pos: BigInt, neg: BigInt): Long =
      ((BigInt(1000000) * (pos + 1) * (nt + 64)) /
        ((pos + 1) * (nt + 64) + (neg + 1) * (pt + 64)) - 500000).toLong
    assert(w(bA) == ((pt.toLong, 0L, weight(pt, 0))), s"got ${w(bA)}")
    assert(w(bB) == ((0L, nt.toLong, weight(0, nt))), s"got ${w(bB)}")
    assert(w(bA)._3 > 0 && w(bB)._3 < 0,
      "a wrapped product would flip these signs")
    // -500000 itself is attainable here: with pos_b = 0 against a huge
    // negative class the floored posterior is exactly 0
    w.values.foreach { case (_, _, v) =>
      assert(v >= -500000L && v <= 500000L, s"weight out of range: $v") }
  }

  test("tokens drop empties: trailing/leading/double spaces don't count") {
    val d3 = Seq((20L, " a  b c ")).toDF("doc_id", "text")
    assert(TextAnalysis.tokenCount(d3).collect().head.getAs[Long]("n_tokens") == 3L)
  }

  private lazy val media = {
    val d = Seq((0L, "image doc zero"), (1L, "audio doc one"), (2L, "video doc two"),
      (3L, "another image")).toDF("doc_id", "text")
    ops.Multimodal.mediaFromDocuments(d)
  }

  test("multimodal: kind/meta derivation and byte payload") {
    val rows = media.collect().sortBy(_.media_id)
    assert(rows.map(_.kind).toSeq == Seq("image", "audio", "video", "image"))
    assert(rows(0).bytes sameElements "image doc zero".getBytes("UTF-8"))
    assert(rows(0).meta.width == 64 && rows(3).meta.width == 64 + 3 * 16)
    assert(rows(2).meta.nFrames == 10)
  }

  test("multimodal: image decode produces w*h-derived features + embedding") {
    val feats = ops.Multimodal.decodeImages(media, embeddingDim = 4)
      .collect().sortBy(_.media_id)
    assert(feats.length == 2) // only image rows
    assert(feats(0).n_bytes == "image doc zero".getBytes("UTF-8").length)
    assert(feats(0).embedding.length == 4)
    assert(feats(0).mean_intensity > 0)
  }

  test("multimodal: codegen img_ahash/img_mhash equal the typed decode path " +
    "and plan without an object boundary") {
    import graft.functions.MediaExpressions.{img_ahash, img_mhash}
    // relational twin of mediaFromDocuments' image branch: same ids, same
    // payload bytes, same stub dims — but NO typed map anywhere, so the
    // whole hash stage stays inside the relational plan
    val mdf = Seq((0L, "image doc zero"), (1L, "audio doc one"),
        (2L, "video doc two"), (3L, "another image")).toDF("doc_id", "text")
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("bytes"),
        (lit(64) + pmod(col("media_id"), lit(8)).cast("int") * 16).as("w"),
        lit(64).as("h"))
    val viaExpr = mdf.select(col("media_id"),
      img_ahash(col("bytes"), col("w"), col("h")).as("ahash"),
      img_mhash(col("bytes"), col("w"), col("h")).as("mhash"))
    val typed = ops.Multimodal.imageAhash(media)
      .join(ops.Multimodal.imageMhash(media), "media_id")
    assert(viaExpr.exceptAll(typed).isEmpty && typed.exceptAll(viaExpr).isEmpty,
      "expression and mapPartitions spellings must be bit-identical")
    // the expression path stays relational: no DeserializeToObject fence
    // (the typed path necessarily has one)
    def hasObjectBoundary(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case d: org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject => d
      }.nonEmpty
    assert(!hasObjectBoundary(viaExpr))
    assert(hasObjectBoundary(ops.Multimodal.imageAhash(media)))
  }

  test("multimodal: resize updates metadata, frame sampling yields stride frames") {
    val resized = ops.Multimodal.resizeImages(media, 32, 32).collect()
      .filter(_.kind == "image")
    assert(resized.forall(r => r.meta.width == 32 && r.bytes.length == 32 * 32))
    val frames = ops.Multimodal.sampleFrames(media, stride = 2).collect()
    assert(frames.forall(_.media_id == 2L))
    assert(frames.length == 5) // 10 frames, stride 2
  }

  test("multimodal: audio frame energy golden") {
    // "audio doc one" = 13 ASCII bytes, frameSize 4 -> frames of 4,4,4,1
    val frames = ops.Multimodal.audioEnergy(media, frameSize = 4)
      .collect().sortBy(_.frame_index)
    assert(frames.forall(_.media_id == 1L))
    assert(frames.map(_.n_samples).toSeq == Seq(4L, 4L, 4L, 1L))
    val bytes = "audio doc one".getBytes("UTF-8").map(b => (b & 0xff) - 128)
    val expect = bytes.grouped(4).map(_.map(s => s.toLong * s).sum).toSeq
    assert(frames.map(_.energy).toSeq == expect)
  }

  test("multimodal: decoded image embeddings feed similarity search directly") {
    val d = queries.Parity.t(spark, "/root/testdata/sf0.001", "documents")
    val feats = ops.Multimodal.decodeImages(ops.Multimodal.mediaFromDocuments(d))
      .toDF().select(col("media_id").alias("vec_id"), col("embedding"))
    val out = Similarity.bruteForceTopK(feats, feats.filter(col("vec_id") < 9),
      "vec_id", "embedding", k = 3).collect()
    val queries3 = out.map(_.getAs[Long]("query_id")).distinct
    assert(queries3.length == 3) // image docs 0, 3, 6
    assert(out.length == 9 && out.forall(_.getAs[Double]("score") <= 1.0 + 1e-9))
  }

  test("hash embeddings: identical docs colinear, disjoint docs dissimilar") {
    val emb = TextAnalysis.hashEmbeddings(docs, "doc_id", "text", dim = 32)
    val rows = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.values.forall(_.length == 32))
    assert(rows(0L) == rows(3L)) // exact dup docs -> identical embedding
    val sim = Similarity.bruteForceTopK(emb, emb.filter($"doc_id" === 0L),
      "doc_id", "embedding", k = 4)
      .collect().map(r => r.getAs[Long]("corpus_id") -> r.getAs[Double]("score")).toMap
    assert(math.abs(sim(3L) - 1.0) < 1e-12) // dup is the top hit
    assert(sim(3L) > sim(2L)) // unrelated doc scores lower
  }

  test("multimodal: metadata summary never needs the payload") {
    val summary = ops.Multimodal.metaSummary(media).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_media"))).toMap
    assert(summary == Map("image" -> 2L, "audio" -> 1L, "video" -> 1L))
  }

  test("spanDups counts windows shared across documents") {
    val d = Seq(
      (1L, "a b c d e"),   // windows: abc bcd cde
      (2L, "x a b c d"),   // windows: xab abc bcd -> shares abc, bcd with 1
      (3L, "q r s t u")).toDF("doc_id", "text")
    val out = Dedup.spanDups(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans")))).toMap
    assert(out == Map(1L -> ((3L, 2L)), 2L -> ((3L, 2L)), 3L -> ((3L, 0L))))
  }

  test("spanDups: doc shorter than k has zero spans and zero dup_frac") {
    val d = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c")).toDF("doc_id", "text")
    val row = Dedup.spanDups(d, "doc_id", "text", k = 3)
      .filter(col("doc_id") === 1L).collect().head
    assert(row.getAs[Long]("n_spans") == 0L)
    assert(row.getAs[Double]("dup_frac") == 0.0)
  }

  test("ngramContainment: contained doc scores 1.0 on its side") {
    val d = Seq(
      (1L, "a b c d"),                       // 2 trigram windows, both in doc 2
      (2L, "a b c d e f g h i j")).toDF("doc_id", "text") // 8 windows
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val row = Dedup.ngramContainment(pairs, d, "doc_id", "text", k = 3)
      .collect().head
    assert(row.getAs[Double]("containment_a") == 1.0)
    assert(row.getAs[Double]("containment_b") == 0.25)
  }

  test("groupSketchOverlap: identical groups estimate 1.0, disjoint near 0") {
    val d = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog today"),
      (2L, "b", "the quick brown fox jumps over the lazy dog today"), // == a
      (3L, "c", "einz zwei drei vier funf sechs sieben acht neun zehn"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.groupSketchOverlap(d, "source", "text", k = 3, numHashes = 32)
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    assert(out(("a", "b")) == 1.0)        // same shingle set -> same signature
    assert(out(("a", "c")) < 0.2)         // disjoint shingles
  }

  test("pmiPairs ranks exclusive collocations above frequent ones") {
    val d = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x z"), (5L, "w z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiPairs(d, "text", minCount = 1L, topK = 10)
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
        r.getAs[Double]("pmi_ratio")).toMap
    // N=5; c1: x=4 w=1; c2: y=3 z=2
    assert(out(("w", "z")) == 2.5)   // exclusive pair, rare both sides
    assert(out(("x", "y")) == 1.25)
    assert(out(("x", "z")) == 0.625)
  }

  test("importanceWeights: target-like docs weigh 1, off-target below") {
    val d = Seq((1L, "a a b"), (2L, "c c c")).toDF("doc_id", "text")
    val out = ops.TrainPrep.importanceWeights(
        d, "doc_id", "text", d.filter(col("doc_id") === 1L), "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    // doc1: every token bucket has tgt==raw counts -> weight 1.0
    // doc2: tgt[c]=0+1, raw[c]=3+1 -> 3/12 = 0.25
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.25)
  }

  test("editDistanceDups: typo pairs inside a block found, prefix edits missed") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy cat near the river"),  // 3 edits
      (3L, "THE quick brown fox jumps over the lazy dog near the river"),  // prefix edit
      (4L, "a completely different document with nothing shared at all hm")
    ).toDF("doc_id", "text")
    val out = ops.Dedup.editDistanceDups(d, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 3L),
      s"expected only the in-block typo pair, got $out")
    // the blocking trade-off is real and documented: doc 3 differs from
    // doc 1 only in the first 24 chars, so prefix blocking misses it
    assert(!out.contains((1L, 3L)))
    // widening the distance budget alone cannot resurrect cross-block pairs
    val wide = ops.Dedup.editDistanceDups(d, "doc_id", "text", maxDist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!wide.contains((1L, 4L)), "different prefixes must never pair")
  }

  test("editDistanceDups plans a blocked equi-join, not a cartesian product") {
    // blockCap below the source's maxRows — InferWindowGroupLimit skips
    // the rewrite when it can prove the child can't exceed the cap
    val d = spark.range(10).select(col("id").alias("doc_id"),
      concat(lit("t"), col("id").cast("string")).alias("text"))
    val p = ops.Dedup.editDistanceDups(d, "doc_id", "text", blockCap = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance candidates must come from the blocking equi-join:\n$p")
    // the champion cap prunes hot blocks map-side, before the exchange
    assert(p.contains("WindowGroupLimit"),
      s"blockCap rank filter must plan as WindowGroupLimit:\n$p")
  }

  test("editDistanceDups: a boilerplate-prefix corpus stays sub-quadratic " +
    "(blockCap bounds the hot block's pair fanout)") {
    // 2,000 docs sharing one 24-char prefix AND one length bucket — the
    // license-header / templated-page shape. Uncapped this is ~2M pairs;
    // the cap keeps participation to blockCap docs -> <= cap*(cap-1)/2.
    val boiler = "Apache License Version " // exactly 24 chars, one block
    val d = spark.range(2000)
      .select(col("id").alias("doc_id"),
        concat(lit(boiler), lpad(col("id").cast("string"), 8, "0")).alias("text"))
    val cap = 64
    val out = ops.Dedup.editDistanceDups(d, "doc_id", "text",
      maxDist = 50, blockCap = cap)
    assert(out.count() == cap.toLong * (cap - 1) / 2,
      "hot-block pair count must be capped at C(blockCap, 2)")
    // lowest ids are the champions, deterministically
    assert(out.agg(max("doc_b")).head.getLong(0) == cap - 1L)
  }

  test("incremental: only never-seen keys survive, lowest batch id wins") {
    val hist = Seq((1L, "u1", "click"), (2L, "u2", "view")).toDF("id", "u", "t")
    val batch = Seq(
      (10L, "u1", "click"), // seen in history -> dropped
      (12L, "u3", "click"), (11L, "u3", "click"), // new key, 2 copies
      (13L, "u2", "click")  // new key (u2 only ever viewed)
    ).toDF("id", "u", "t")
    val out = ops.Dedup.incremental(hist, batch, Seq("u", "t"), "id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("id"), r.getAs[Long]("n_batch_copies")))).toMap
    assert(out == Map(
      ("u3", "click") -> ((11L, 2L)),
      ("u2", "click") -> ((13L, 1L))))
  }

  test("invertedIndex: df over distinct per-doc tokens, postings capped and sorted") {
    val d = Seq(
      (3L, "rare common common"), (1L, "rare common"), (2L, "common"),
      (4L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(d, "doc_id", "text",
        minDf = 2L, topTokens = 10, maxPostings = 1)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // solo: df=1 < minDf, excluded; df counts DOCS (not occurrences)
    assert(out == Map(
      "rare" -> ((2L, "1")),      // capped at 1 posting, lowest doc id
      "common" -> ((3L, "1"))))
  }

  test("bpePairCounts: within-token adjacent pairs, no cross-token pairs") {
    val d = Seq((1L, "abab ab"), (2L, "ba x")).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairCounts(d, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "abab": ab, ba, ab; "ab": ab; "ba": ba — "x" too short; the token
    // boundary between "abab" and "ab" contributes NO (b,a) pair
    assert(out == Map(("a", "b") -> 3L, ("b", "a") -> 2L))
  }

  test("round-6 ops tolerate degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(ops.Dedup.editDistanceDups(empty, "doc_id", "text").isEmpty)
    assert(TextAnalysis.invertedIndex(empty, "doc_id", "text").isEmpty)
    assert(TextAnalysis.bpePairCounts(empty, "text").isEmpty)
    // no token reaches minDf -> empty index, not an error
    val uniq = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    assert(TextAnalysis.invertedIndex(uniq, "doc_id", "text", minDf = 2L).isEmpty)
    // single-char tokens have no within-token pairs
    assert(TextAnalysis.bpePairCounts(
      Seq((1L, "a b c")).toDF("doc_id", "text"), "text").isEmpty)
    // empty history -> incremental dedup degenerates to plain batch dedup
    val batch = Seq((5L, "k1"), (6L, "k1")).toDF("id", "k")
    val out = ops.Dedup.incremental(batch.limit(0), batch, Seq("k"), "id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
    assert(out.toSeq == Seq("k1" -> ((5L, 2L))))
    // prefixDim past the vector length clamps (slice semantics) — the
    // funnel degrades to brute force, not an error
    val e = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val full = ops.Similarity.matryoshkaTopK(e, e, "vec_id", "embedding",
      k = 2, prefixDim = 64, refine = 1).collect()
    assert(full.length == 6)
  }

  test("count_min_agg: hand-computed 2x4 sketch golden") {
    import graft.functions.SketchAggregates.countMinAgg
    val hashes = Seq(1L, 1L, 2L).toDF("h")
    val out = hashes.agg(countMinAgg(col("h"), depth = 2, width = 4).as("cms"))
      .head.getSeq[Long](0)
    // row0: a=1103515245,b=12345 -> bucket(1)=2, bucket(2)=0
    // row1: a=59546843,b=37035   -> bucket(1)=2, bucket(2)=1
    assert(out == Seq(1L, 0L, 2L, 0L, 0L, 1L, 2L, 0L))
  }

  test("count_min_agg: sketch is identical under repartitioning (mergeable)") {
    import graft.functions.SketchAggregates.countMinAgg
    val hashes = Seq.tabulate(500)(i => (i * 7919L) % 1000003L).toDF("h")
    val one = hashes.coalesce(1)
      .agg(countMinAgg(col("h"), 4, 32).as("cms")).head.getSeq[Long](0)
    val many = hashes.repartition(13)
      .agg(countMinAgg(col("h"), 4, 32).as("cms")).head.getSeq[Long](0)
    assert(one == many)
  }

  test("hll_registers_agg: hand-computed p=2 registers") {
    import graft.functions.SketchAggregates.hllRegistersAgg
    // h=5 (101b): idx=1, w=1 -> rank 1; h=8 (1000b): idx=0, w=2 -> rank 2
    // h=4 (100b): idx=0, w=1 -> rank 1 (loses to h=8's 2); h=0: idx=0, w=0
    // -> maxRank 63
    val out = Seq(5L, 8L, 4L, 0L).toDF("h")
      .agg(hllRegistersAgg(col("h"), p = 2).as("r")).head.getSeq[Long](0)
    assert(out == Seq(63L, 1L, 0L, 0L))
  }

  test("hll_registers_agg: registers identical under repartitioning") {
    import graft.functions.SketchAggregates.hllRegistersAgg
    val hashes = Seq.tabulate(2000)(i => (i * 2654435761L) % 1000000007L).toDF("h")
    val one = hashes.coalesce(1).agg(hllRegistersAgg(col("h"), 6).as("r")).head.getSeq[Long](0)
    val many = hashes.repartition(17).agg(hllRegistersAgg(col("h"), 6).as("r")).head.getSeq[Long](0)
    assert(one == many)
  }

  test("distinctCardinality: corrected estimate tracks the exact count") {
    val d = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(25)(j => s"w${(i * 25 + j) % 600}").mkString(" "), "g"))
      .toDF("doc_id", "text", "source")
    // production hash (xxhash64): the polynomial oracle hash's low bits
    // avalanche poorly, which biases trailing-zero ranks — fine for the
    // cross-engine register check, not for estimate QUALITY
    val r = TextAnalysis.distinctCardinality(d, "source", "text", p = 6)
      .collect().head
    val exact = r.getAs[Long]("n_exact").toDouble
    val raw = r.getAs[Double]("hll_est")
    val nz = r.getAs[Long]("n_zero_regs")
    // apply the standard small-range correction the query leaves to the
    // consumer (ln is libm-dependent, so it can't be in the hash-checked
    // output): linear counting when zero registers remain
    val est = if (nz > 0 && raw < 2.5 * 64) 64.0 * math.log(64.0 / nz) else raw
    assert(math.abs(est - exact) / exact < 0.35,
      s"exact=$exact raw=$raw corrected=$est nz=$nz")
  }

  test("heavyHitters: est >= exact for every token; exact counts right") {
    val d = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("doc_id", "text")
    val out = TextAnalysis.heavyHitters(d, "text", k = 10,
        depth = 4, width = 8, tokenHash = Dedup.oracleHash)
      .collect().map(r => r.getAs[String]("token") ->
        ((r.getAs[Long]("exact_count"), r.getAs[Long]("est_count")))).toMap
    assert(out("a")._1 == 4L && out("b")._1 == 3L && out("c")._1 == 1L)
    out.values.foreach { case (exact, est) => assert(est >= exact) }
    // tiny width forces collisions across 4 distinct tokens in 8 buckets —
    // the sketch property (never under-counts) is what must hold
  }

  test("sparseCosinePairs: hand-computed cosine on a 3-doc corpus") {
    val d = Seq((1L, "x x y"), (2L, "x y y"), (3L, "z z")).toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosinePairs(d, "doc_id", "text",
        minDf = 2L, maxPostings = 10, topK = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("dot"), r.getAs[Double]("score"))))
    // only pair (1,2): dot = 2*1 + 1*2 = 4, |v| = sqrt(5) each -> 4/5;
    // doc 3's z is hapax-free? z has df=1 -> dropped, so 3 pairs with no one
    assert(out.length == 1)
    assert(out.head._1 == ((1L, 2L)))
    assert(out.head._2._1 == 4L)
    assert(math.abs(out.head._2._2 - 0.8) < 1e-12)
  }

  test("sparseCosinePairs: champion cap bounds the per-token fanout") {
    // 30 docs all sharing one hot token: cap 5 -> pairs only among the
    // 5 highest-tf docs (ties by doc id) = C(5,2) = 10 pairs
    val d = Seq.tabulate(30)(i => (i.toLong, ("hot " * (i + 1)).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.sparseCosinePairs(d, "doc_id", "text",
        minDf = 2L, maxPostings = 5, topK = 100)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(out.length == 10)
    // champions are the 5 highest tf = docs 25..29
    assert(out.forall { case (a, b) => a >= 25L && b >= 25L })
  }

  test("crossModalTopK: k texts per image, deterministic under partitioning") {
    val d = Seq.tabulate(12)(i =>
      (i.toLong, s"tok$i shared words tok${i % 4} more", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = ops.Multimodal.crossModalTopK(d, k = 2, dim = 8,
      tokenHash = Dedup.oracleHash)
    val rows = out.collect()
    // images are the doc_id % 3 == 0 rows: 0, 3, 6, 9 -> 4 images x 2
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("media_id")).distinct.sorted.toSeq ==
      Seq(0L, 3L, 6L, 9L))
    rows.groupBy(_.getAs[Long]("media_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L))
    }
    val again = ops.Multimodal.crossModalTopK(d.repartition(5), k = 2, dim = 8,
      tokenHash = Dedup.oracleHash).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("hybridRrf: doc leading both lists tops the fusion; ranks reported") {
    val d = Seq(
      (1L, "q q q q unique rare terms here abc"), // strong sparse + dense
      (2L, "q q other words entirely xyz"),
      (3L, "nothing relevant at all zzz"),
      (4L, "q appears once among filler mno")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hybridRrf(d, "doc_id", "text", Seq("q"),
        listSize = 10, k = 4, rrfK = 60, dim = 16,
        tokenHash = Dedup.oracleHash)
      .collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("rank_sparse"), r.getAs[Long]("rank_dense"),
        r.getAs[Double]("rrf")))).toMap
    // doc 1 has the highest tf for 'q' -> sparse rank 1; fusion must put a
    // doc present in both lists above one present in just one
    assert(byDoc(1L)._1 == 1L)
    val fused = out.map(_.getAs[Double]("rrf"))
    assert(fused.sorted.reverse.toSeq == fused.toSeq) // ordered by rrf desc
    // every reported rrf equals the reconstruction from its ranks
    byDoc.values.foreach { case (rs, rd, rrf) =>
      val want = (if (rs > 0) 1.0 / (60.0 + rs) else 0.0) +
        (if (rd > 0) 1.0 / (60.0 + rd) else 0.0)
      assert(math.abs(rrf - want) < 1e-15)
    }
  }

  test("bm25: tf raises the score, absent terms score zero") {
    val d = Seq((1L, "q q a"), (2L, "q a a"), (3L, "a a a")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25(d, "doc_id", "text", Seq("q"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out(1L) > out(2L))      // higher tf, same dl
    assert(out(2L) > 0.0)
    assert(out(3L) == 0.0)         // term absent
  }

  test("mergePairFold: greedy leftmost, run semantics, multi-char tokens") {
    val d = Seq(
      (1L, Seq("a", "a", "a")),          // run of the pair with l = r
      (2L, Seq("a", "b", "a", "b")),     // disjoint occurrences both merge
      (3L, Seq("x", "a", "a", "a", "a")),// even run inside a word
      (4L, Seq("a")),                    // no pairs
      (5L, Seq.empty[String])
    ).toDF("id", "toks")
    val aa = d.select(col("id"),
        TextAnalysis.mergePairFold(col("toks"), lit("a"), lit("a")).alias("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(aa(1L) == List("aa", "a"))
    assert(aa(3L) == List("x", "aa", "aa"))
    assert(aa(4L) == List("a"))
    assert(aa(5L) == Nil)
    val ab = d.select(col("id"),
        TextAnalysis.mergePairFold(col("toks"), lit("a"), lit("b")).alias("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(ab(2L) == List("ab", "ab"))
    // second round on multi-char tokens: ["aa","a"] under (aa, a) -> ["aaa"]
    val second = d.filter(col("id") === 1L)
      .select(TextAnalysis.mergePairFold(
        TextAnalysis.mergePairFold(col("toks"), lit("a"), lit("a")),
        lit("aa"), lit("a")).alias("m"))
      .head.getSeq[String](0).toList
    assert(second == List("aaa"))
  }

  test("bpeTrainMerges: hand-computed merges on the Sennrich toy corpus, " +
    "overlap counting, lexicographic tie-break") {
    // "low low lower" char pairs: (l,o) x3, (o,w) x3, (w,e) x1, (e,r) x1 —
    // tie between (l,o) and (o,w) resolves lexicographically to (l,o);
    // round 2 then has (lo,w) x3 winning.
    val d = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrainMerges(d, "text", numMerges = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toList
    assert(m == List((1L, "l", "o", "lo", 3L), (2L, "lo", "w", "low", 3L)))
    // overlapping pairs count per occurrence: "aaaa" has (a,a) x3
    val d2 = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrainMerges(d2, "text", numMerges = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    // round 1: (a,a) x3; after the greedy merge "aaaa" -> [aa, aa], so
    // round 2 learns (aa, aa) x1
    assert(m2 == List(("a", "a", 3L), ("aa", "aa", 1L)))
    // exhaustion: single-char vocabulary stops early instead of looping
    val d3 = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrainMerges(d3, "text", numMerges = 4).count() == 0L)
  }

  test("bpeSegmentedTokenCount: counts match a driver-side re-segmentation") {
    val d = Seq((1L, "low lower lowest"), (2L, "slow slower"), (3L, ""))
      .toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val got = TextAnalysis.bpeSegmentedTokenCount(d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def seg(w: String): Int = {
      var toks = w.map(_.toString).toList
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var pend: String = null
        toks.foreach { t =>
          if (pend == l && t == r) { out += (l + r); pend = null }
          else { if (pend != null) out += pend; pend = t }
        }
        if (pend != null) out += pend
        toks = out.toList
      }
      toks.size
    }
    // low=1(low) lower=3(low,e,r->low,er) lowest=4; slow=2(s,low) slower=4
    assert(got(1L) == seg("low") + seg("lower") + seg("lowest"))
    assert(got(2L) == seg("slow") + seg("slower"))
    assert(!got.contains(3L)) // empty text drops, matching the oracle join
  }

  test("bpeVocab: frequencies over the merged state, contiguous ids") {
    // "low low lower" after 2 merges: low -> [low], lower -> [low, e, r]
    val d = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val v = TextAnalysis.bpeVocab(d, "text", numMerges = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    // freqs: low 3 (2 from "low" + 1 from "lower"), e 1, r 1 — ties by token
    assert(v == List(("low", 3L, 1L), ("e", 1L, 2L), ("r", 1L, 3L)))
    // topK truncates but keeps the global rank order
    val v2 = TextAnalysis.bpeVocab(d, "text", numMerges = 2, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(2))).toList
    assert(v2 == List(("low", 1L), ("e", 2L)))
  }

  test("bpeEncode: pre-token order preserved, OOV maps to 0, " +
    "ids agree with bpeVocab") {
    val d = Seq((1L, "low lower zz"), (2L, "zz low")).toDF("doc_id", "text")
    // 2 merges learn (l,o) then (lo,w); state: low=[low] lower=[low,e,r]
    // zz=[z,z]; freqs: low 3, z 4, e 1, r 1 → vocab(top2): z id1, low id2
    val got = TextAnalysis.bpeEncode(d, "doc_id", "text", numMerges = 2,
        topK = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got(1L) == List(2L, 2L, 0L, 0L, 1L, 1L)) // low | low,e,r | z,z
    assert(got(2L) == List(1L, 1L, 2L))             // z,z | low
  }

  test("bpeEncodeWith shipped artifacts equals the train-inline bpeEncode") {
    val d = Seq((1L, "low lower zz"), (2L, "zz low"), (3L, "aqx"))
      .toDF("doc_id", "text")
    val inline = TextAnalysis.bpeEncode(d, "doc_id", "text", numMerges = 2,
        topK = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val (m, v) = TextAnalysis.bpeTrainArtifacts(d, "text", numMerges = 2,
      topK = 2)
    val merges = m.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val shipped = TextAnalysis.bpeEncodeWith(d, "doc_id", "text", merges, v)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(inline == shipped)
    // and against a corpus the artifacts have never seen (pure OOV)
    val fresh = Seq((9L, "qq pp")).toDF("doc_id", "text")
    val enc = TextAnalysis.bpeEncodeWith(fresh, "doc_id", "text", merges, v)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(enc(9L) == List(0L, 0L, 0L, 0L), s"unseen words encode as UNK: $enc")
  }

  test("bpeUnkRate: 0 against a covering vocab, instance-weighted " +
    "fraction against a partial one") {
    val d = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val (m, v) = TextAnalysis.bpeTrainArtifacts(d, "text", numMerges = 1,
      topK = 16)
    val merges = m.collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(TextAnalysis.bpeUnkRate(d, "text", merges, v) == 0.0)
    // drop everything but the merged token: "ab" covers 2 of the 4
    // post-merge token instances ([ab], [ab], [c, d])
    val partial = v.filter(col("token") === "ab")
    assert(TextAnalysis.bpeUnkRate(d, "text", merges, partial) == 0.5)
  }

  test("bpeSegmentedTokenCountDict: identical to the fold spelling") {
    val d = Seq((1L, "low lower lowest low"), (2L, "slow slower slow"),
      (3L, "a!b 99 low"), (4L, "")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"))
    val a = TextAnalysis.bpeSegmentedTokenCount(d, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val b = TextAnalysis.bpeSegmentedTokenCountDict(d, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(a == b)
    assert(a.nonEmpty && !a.exists(_._1 == 4L))
  }

  test("bpeSegmentedTokenCountFromTrain: identical to training then " +
    "dict-segmenting with the learned merges") {
    val d = Seq((1L, "low lower lowest low low"), (2L, "slow slower slow"),
      (3L, "a!b 99 low new newer"), (4L, "")).toDF("doc_id", "text")
    val k = 3
    val learned = TextAnalysis.bpeTrainMerges(d, "text", numMerges = k)
      .orderBy("merge_rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val viaDict = TextAnalysis
      .bpeSegmentedTokenCountDict(d, "doc_id", "text", learned)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val composed = TextAnalysis
      .bpeSegmentedTokenCountFromTrain(d, "doc_id", "text", numMerges = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(composed == viaDict)
    assert(composed.nonEmpty && !composed.exists(_._1 == 4L))
  }
}
