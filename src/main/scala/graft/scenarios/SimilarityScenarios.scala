package graft
package scenarios

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Similarity, VectorIndex}
import graft.storage.GraftCatalog
import Scenario.{time, warmMedian}

/** Similarity search and the persisted vector index ([[ops.Similarity]],
  * [[ops.VectorIndex]], the vector expressions). */
object SimilarityScenarios {

  val all: Seq[Scenario] = Seq(
    /* Build-once/search-many against the inline IVF funnel (SCALE.md
     * §vector-index): the inline spelling re-assigns the whole corpus to
     * cells on EVERY search; the persisted index pays that once at build.
     * Results must be identical (same frozen codebook). */
    Scenario("vector_index", Seq("200000", "64", "3"), (spark, _, args) => {
      val n = args(0).toLong
      val dim = args(1).toInt
      val searches = args(2).toInt
      GraftCatalog.registerTemp(spark, "vb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS vb.s")
      // deterministic pseudo-random float vectors in [-1, 1)
      val corpus = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(1), lit(dim)), d =>
            (pmod(xxhash64(col("id"), d), lit(2000000)) - 1000000).cast("float") / 1e6f)
            .alias("embedding"))
        .localCheckpoint(false)

      val (tBuild, _) = time(VectorIndex.build(spark, corpus, "vec_id",
        "embedding", "vb.s.emb", numCentroids = 64))
      val stored = spark.table("vb.s.emb_centroids").localCheckpoint(false)

      def shape(qdf: DataFrame): Seq[(String, Any)] = {
        val runs = (1 to searches).map { i =>
          val (tInline, a) = time(Similarity.ivfTopK(corpus, qdf, "vec_id",
            "embedding", k = 10, numCentroids = 64, nprobe = 8,
            fitCentroids = Some(stored)).localCheckpoint(false))
          val (tIndexed, b) = time(VectorIndex.search(spark, qdf, "vec_id",
            "embedding", "vb.s.emb", k = 10, nprobe = 8).localCheckpoint(false))
          if (i == 1) {
            val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
            require(diff == 0, s"indexed vs inline diverged: $diff rows")
          }
          a.unpersist(); b.unpersist()
          (tInline, tIndexed)
        }
        Seq("inline_s" -> runs.map(_._1).sum, "indexed_s" -> runs.map(_._2).sum)
      }
      // lookup shape: 3 queries probe 8/64 cells — cell pruning reads ~1/8
      // of the lists, inline must still assign the whole corpus; batch
      // shape: 100 queries touch most cells — pruning is moot, the index
      // saves only the assignment pass
      val lookup = shape(corpus.filter(col("vec_id") < 3).localCheckpoint(false))
      val batch = shape(corpus.filter(col("vec_id") < 100).localCheckpoint(false))
      Seq("n" -> n, "dim" -> dim, "searches" -> searches, "build_s" -> tBuild,
        "lookup_3q" -> lookup, "batch_100q" -> batch)
    }),

    /* IVF cell skew ([[VectorIndex.splitHotCells]]): a corpus whose
     * natural clustering drops ~half the vectors into ONE inverted list,
     * so every probe touching it rescans ~N/2 rows. Cell-size
     * distribution, hot/cold probe latency and recall@10 against brute
     * force, before and after the split. */
    Scenario("ivf_skew", Seq("2000000"), (spark, _, args) => {
      val n = args(0).toLong
      val dim = 32
      GraftCatalog.registerTemp(spark, "ivs")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS ivs.s")
      // ids >= n/2 form one tight cluster (dominant first coordinate, tiny
      // deterministic jitter); the rest scatter. Seeds are the lowest ids,
      // so the cluster lands in whichever scattered cell is nearest — one
      // fat list holding ~half the corpus.
      val hotFrom = n / 2
      val corpus = spark.range(n).select(col("id").alias("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          when(col("id") >= hotFrom,
            when(d === 0, lit(10.0f)).otherwise(lit(0.0f)) +
              (pmod(col("id") * 31 + d * 7, lit(11)) - 5).cast("float") * lit(0.01f))
          .otherwise(sin(col("id") * 0.7 + d * 1.3).cast("float")))
          .alias("embedding"))
      VectorIndex.build(spark, corpus, "vec_id", "embedding", "ivs.s.emb",
        numCentroids = 64, kmeansIters = 1)

      def dist(): Seq[(String, Any)] = {
        val sizes = spark.table("ivs.s.emb_assign").groupBy(col("cell"))
          .count().collect().map(_.getLong(1)).sorted
        Seq("cells" -> sizes.length, "max" -> sizes.last,
          "p99" -> sizes(math.max(0, (sizes.length * 99) / 100 - 1)),
          "mean" -> sizes.sum.toDouble / sizes.length)
      }
      // probes aimed at the hot region (cluster members) + a cold control
      val hotQ = corpus.filter(col("vec_id") >= hotFrom &&
        col("vec_id") < hotFrom + 32).localCheckpoint(false)
      val coldQ = corpus.filter(col("vec_id") < 32).localCheckpoint(false)
      def search(q: DataFrame) = VectorIndex.search(spark, q, "vec_id",
        "embedding", "ivs.s.emb", k = 10, nprobe = 4)
      // recall on a SAMPLE (brute force over 2M x 64 queries is the slow
      // exact baseline — bounded query count keeps it tractable)
      val exactHot = Similarity.bruteForceTopK(corpus, hotQ, "vec_id",
        "embedding", k = 10).localCheckpoint(false)
      def measure(): Seq[(String, Any)] = dist() ++ Seq(
        "hot_probe" -> warmMedian()(search(hotQ).count())._1,
        "cold_probe" -> warmMedian()(search(coldQ).count())._1,
        "recall" -> Similarity.recallAtK(search(hotQ), exactHot))

      val before = measure()
      val (tSplit, nSplit) = time(VectorIndex.splitHotCells(spark, "ivs.s.emb",
        capFactor = 4.0, splitWays = 8))
      require(nSplit >= 1, "expected at least one split")
      spark.catalog.refreshTable("ivs.s.emb_assign")
      spark.catalog.refreshTable("ivs.s.emb_centroids")
      Seq("n" -> n, "dim" -> dim, "before" -> before, "after" -> measure(),
        "split_sec" -> tSplit)
    }),

    /* Recall-vs-drift for the frozen-codebook IVF index: build on region-A
     * data, append growing fractions of region-B data the codebook never
     * saw, and measure recall@10 for region-B queries — frozen codebook vs
     * after [[VectorIndex.refresh]] — plus whether
     * [[VectorIndex.refreshRecommended]] fires at each point. */
    Scenario("codebook_drift", Seq("200000"), (spark, _, args) => {
      val n = args(0).toLong
      val dim = 32
      GraftCatalog.registerTemp(spark, "cbd")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS cbd.s")
      // region A: scattered deterministic vectors; region B: a distinct
      // cluster family (3 tight sub-clusters keyed by id mod 3) the
      // build-time codebook never saw
      def regionA(ids: DataFrame): DataFrame = ids.select(col("id").alias("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          sin(col("id") * 0.7 + d * 1.3).cast("float")).alias("embedding"))
      def regionB(ids: DataFrame): DataFrame = ids.select(col("id").alias("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (when(d === pmod(col("id"), lit(3)), lit(-9.0f)).otherwise(lit(0.0f)) +
            (pmod(col("id") * 13 + d * 5, lit(7)) - 3).cast("float") * lit(0.02f)))
          .alias("embedding"))

      val points = Seq(100L, 250L, 500L).map { fMille =>
        val prefix = s"cbd.s.emb$fMille"
        val a = regionA(spark.range(n).toDF())
        val bIds = spark.range(10000000L, 10000000L + n * fMille / 1000).toDF()
        val b = regionB(bIds).localCheckpoint(false)
        VectorIndex.build(spark, a, "vec_id", "embedding", prefix,
          numCentroids = 32, kmeansIters = 2)
        val gateFires = VectorIndex.refreshRecommended(spark, b, "vec_id",
          "embedding", prefix)
        VectorIndex.append(spark, b, "vec_id", "embedding", prefix)
        val probes = regionB(bIds.limit(32)).localCheckpoint(false)
        val exact = Similarity.bruteForceTopK(a.unionByName(b), probes, "vec_id",
          "embedding", k = 10).localCheckpoint(false)
        def search() = VectorIndex.search(spark, probes, "vec_id", "embedding",
          prefix, k = 10, nprobe = 4)
        // how concentrated did the frozen codebook leave the drifted mass?
        def maxCell(): Long = spark.table(s"${prefix}_assign")
          .groupBy(col("cell")).count().agg(max("count")).head.getLong(0)
        val recallFrozen = Similarity.recallAtK(search(), exact)
        val probeFrozen = warmMedian()(search().count())._1
        val maxFrozen = maxCell()
        val (tRefresh, refreshed) = time(VectorIndex.refresh(spark, prefix,
          numCentroids = 32, kmeansIters = 2))
        require(refreshed, "refresh audit must pass")
        spark.catalog.refreshTable(s"${prefix}_assign")
        spark.catalog.refreshTable(s"${prefix}_centroids")
        Seq("drift_fraction" -> fMille / 1000.0, "gate_fired" -> gateFires,
          "recall_frozen" -> recallFrozen,
          "recall_refreshed" -> Similarity.recallAtK(search(), exact),
          "probe_frozen" -> probeFrozen,
          "probe_refreshed" -> warmMedian()(search().count())._1,
          "max_cell_frozen" -> maxFrozen, "max_cell_refreshed" -> maxCell(),
          "gate_quiet_after" -> !VectorIndex.refreshRecommended(spark, b,
            "vec_id", "embedding", prefix),
          "refresh_sec" -> tRefresh)
      }
      Seq("n" -> n, "points" -> points)
    }),

    /* The native single-pass `vec_q8` expression against the HOF quantize
     * spelling it replaced in `Similarity.withQ8` (two intermediate arrays
     * and three interpreted lambdas per element): the per-corpus-row front
     * of every int8 ANN funnel. Both forms reduce to one checksum, which
     * must match. */
    Scenario("q8", Seq("2000000", "64"), (spark, _, args) => {
      import spark.implicits._
      val n = args(0).toInt
      val dim = args(1).toInt
      val base = spark.range(n.toLong).select($"id",
        array((0 until dim).map(i =>
          (($"id" * (i * 2 + 1)) % 255 - 127).cast("float")): _*).alias("v"))
        .localCheckpoint(true) // quantize reads materialized rows, not range()

      def hof(): DataFrame = {
        val s = array_max(transform($"v", x => abs(x.cast("double")))) / 127.0
        base.withColumn("q8_scale", s)
          .withColumn("q8_codes",
            when($"q8_scale" === 0.0, transform($"v", _ => lit(0).cast("byte")))
              .otherwise(transform($"v", x =>
                floor(x.cast("double") / $"q8_scale" + 0.5).cast("long").cast("byte"))))
      }
      def native(): DataFrame = {
        val q = graft.functions.VectorFunctions.q8($"v")
        base.withColumn("__q8", q)
          .withColumn("q8_scale", $"__q8".getField("scale"))
          .withColumn("q8_codes", $"__q8".getField("codes"))
          .drop("__q8")
      }
      def run(df: => DataFrame): (Double, Double) = time(
        df.agg(sum($"q8_scale" + element_at($"q8_codes", 1).cast("double")))
          .head.getDouble(0))
      run(hof()); run(native()) // warm JIT on both shapes
      val runs = (1 to 3).map { _ =>
        val (th, ch) = run(hof())
        val (tn, cn) = run(native())
        require(ch == cn, s"checksum mismatch: $ch vs $cn")
        (th, tn)
      }
      val bh = runs.map(_._1).min
      val bn = runs.map(_._2).min
      Seq("rows" -> n, "dim" -> dim, "best_hof_s" -> bh, "best_native_s" -> bn,
        "ratio" -> bh / bn)
    }))
}
