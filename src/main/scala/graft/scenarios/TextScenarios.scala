package graft
package scenarios

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.MediaExpressions.img_ahash
import graft.ops.{Multimodal, TextAnalysis}
import Scenario.time

/** Text analysis and media decoding ([[ops.TextAnalysis]],
  * [[ops.Multimodal]], the text-hash kernels). */
object TextScenarios {

  val all: Seq[Scenario] = Seq(
    /* The BPE family (SCALE.md §BPE) over the documents of the data
     * directory: training cost as the corpus grows while the vocabulary
     * stays fixed ([[TextAnalysis.bpeTrainMerges]] rounds are priced on
     * the vocabulary, so per-round time should be flat-ish), then the
     * fold-per-instance vs dictionary-join segmentation crossover as the
     * merge count grows. The two segmentations must count the same
     * tokens. */
    Scenario("bpe", Seq("20", "24"), (spark, sfDir, args) => {
      val repl = args(0).toInt
      val merges = args(1).toInt
      // corpus scaling: same documents replicated N× — the vocabulary (and
      // so the merge table) is IDENTICAL at every size; only the one corpus
      // scan and the instance-side work should grow
      val base = queries.Parity.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      def corpus(n: Int) = {
        val u = (0 until n).map(i =>
            base.select((col("doc_id") + lit(i.toLong * 1000000L)).alias("doc_id"),
              col("text")))
          .reduce(_ union _)
        u.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(false)
      }

      val train = Seq(1, repl / 2, repl).distinct.filter(_ >= 1).map { n =>
        val c = corpus(n)
        c.count()
        val t = time(TextAnalysis.bpeTrainMerges(c, "text", numMerges = 6).count())._1
        Seq("replicas" -> n, "rows" -> c.count(), "merges" -> 6, "sec" -> t)
      }

      // segmentation crossover at growing merge counts on the full
      // `repl`-times-replicated corpus: |instances| is held fixed at its
      // largest value while |merges| sweeps — the variable the fold
      // spelling's cost is linear in
      val c1 = corpus(repl)
      c1.count()
      val learned = TextAnalysis.bpeTrainMerges(c1, "text", numMerges = merges)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val segment = Seq(6, merges / 2, merges).distinct.sorted.filter(_ >= 1).map { m =>
        val ms = learned.take(m)
        def fold() = TextAnalysis.bpeSegmentedTokenCount(c1, "doc_id", "text", ms)
          .agg(sum(col("n_tokens"))).head().getLong(0)
        def dict() = TextAnalysis.bpeSegmentedTokenCountDict(c1, "doc_id", "text", ms)
          .agg(sum(col("n_tokens"))).head().getLong(0)
        val rf = fold(); val rd = dict()
        require(rf == rd, s"segment spellings disagree at m=$m: $rf vs $rd")
        fold(); dict() // warm
        val tf = time(fold())._1; val td = time(dict())._1
        Seq("replicas" -> repl, "merges" -> m, "fold_sec" -> tf, "dict_sec" -> td)
      }
      Seq("train" -> train, "segment" -> segment)
    }),

    /* The champion-list cap of [[TextAnalysis.sparseCosinePairs]] on a
     * Zipf-hot vocabulary: every doc shares one stopword-class token, so
     * uncapped the hot posting list is the whole corpus and the self-join
     * fans out |corpus|²/2; capped it is bounded by maxPostings²/2. */
    Scenario("sparse_skew", Seq("5000"), (spark, _, args) => {
      import spark.implicits._
      val n = args(0).toInt
      // every doc: the universal "hot" token + 4 semi-shared + 2 rare
      val docs = (0 until n).map { i =>
        (i.toLong,
          s"hot s${i % 50} s${(i * 7) % 50} s${(i * 13) % 50} s${(i * 29) % 50} " +
            s"r${i} r${i + n}")
      }.toDF("doc_id", "text")
      docs.persist().count()
      def run(cap: Int): (Double, Long) = time(TextAnalysis
        .sparseCosinePairs(docs, "doc_id", "text", minDf = 2L,
          maxPostings = cap, topK = 30)
        .count())
      run(100) // warm codegen/JIT on the capped shape first
      val (tCap, nCap) = run(100)
      val (tUncap, nUncap) = run(Int.MaxValue)
      docs.unpersist()
      Seq("n" -> n, "capped_s" -> tCap, "capped_pairs" -> nCap,
        "uncapped_s" -> tUncap, "uncapped_pairs" -> nUncap, "ratio" -> tUncap / tCap)
    }),

    /* The native [[graft.functions.PolyHash]] kernel against the
     * composable spelling it replaced (`aggregate(filter(split(s, "", -1),
     * ...), 7, fold)`, one STRING and two interpreted lambdas per
     * character): the hash every oracle-gated sketch query runs per token
     * and the prep_corpus family runs over whole documents. Both forms
     * reduce to one checksum, which must match. */
    Scenario("poly_hash", Seq("200000", "40"), (spark, _, args) => {
      import spark.implicits._
      val n = args(0).toInt
      val tpd = args(1).toInt
      // ~40 tokens x ~8 chars per doc: the sf0.1 documents.parquet shape
      val base = spark.range(n.toLong).select($"id",
        concat_ws(" ", (0 until tpd).map(i =>
          concat(lit(s"tok${i}x"), ($"id" * (i * 2 + 1)) % 9973)): _*).alias("text"))
        .localCheckpoint(true)

      def hof(s: Column) =
        aggregate(
          filter(split(s, "", -1), c => c =!= lit("")),
          lit(7L),
          (acc, c) => (acc * lit(31L) + ascii(c)) % lit(1000000007L))
      def native(s: Column) =
        graft.functions.SketchArrayExpressions.polyHash(s, 31L)

      // both shapes of the production surface: the full-document
      // fingerprint AND the per-token hash (one interpreted transform
      // lambda per token in both arms; only the hash kernel differs)
      def run(h: Column => Column): (Double, Long) = time(base.select(
          (h($"text") +
            aggregate(transform(TextAnalysis.tokens($"text"),
              t => h(t)), lit(0L), (a, x) => a + x)).alias("chk"))
        .agg(sum($"chk")).head.getLong(0))
      run(hof); run(native) // warm JIT on both shapes
      val runs = (1 to 3).map { _ =>
        val (th, ch) = run(hof)
        val (tn, cn) = run(native)
        require(ch == cn, s"checksum mismatch: $ch vs $cn")
        (th, tn)
      }
      val bh = runs.map(_._1).min
      val bn = runs.map(_._2).min
      Seq("rows" -> n, "tokens_per_doc" -> tpd, "best_hof_s" -> bh,
        "best_native_s" -> bn, "ratio" -> bh / bn)
    }),

    /* Typed `mapPartitions` decode against the codegen'd media-hash
     * expression (SCALE.md §media-decode): the same kernel, one plan
     * paying DeserializeToObject / SerializeFromObject around the stage,
     * the other one compiled call per row reading the payload in place.
     * Hashes must match per row. */
    Scenario("media_decode", Seq("2000000"), (spark, _, args) => {
      import spark.implicits._
      val n = args(0).toLong
      // ~120-byte payloads, 64×(64..176) stub dims — the documents-table
      // media shape at bench scale
      val media = spark.range(n).select(
          col("id").as("media_id"),
          encode(concat(lit("payload-"), col("id"),
            lit("-abcdefghijklmnopqrstuvwxyz0123456789"),
            col("id") * 2654435761L), "UTF-8").as("bytes"),
          (lit(64) + (pmod(col("id"), lit(8)) * 16)).cast("int").as("width"),
          lit(64).as("height"))
        .localCheckpoint(false)
      def typed() = Multimodal.imageAhash(
        media.select(col("media_id"), lit("image").as("kind"), col("bytes"),
            struct(lit("png").as("format"), col("width"), col("height"),
              lit(0).as("sampleRate"), lit(1).as("nFrames")).as("meta"))
          .as[Multimodal.MediaRow])
      def expr() =
        media.select(col("media_id"),
          img_ahash(col("bytes"), col("width"), col("height")).as("ahash"))
      def run(df: => org.apache.spark.sql.DataFrame) =
        time(df.agg(sum(col("ahash"))).collect()(0).getLong(0))

      // one unmeasured warm-up of each plan (JIT parity), then alternate
      run(typed()); run(expr())
      val rounds = (1 to 2).map(_ => (run(typed()), run(expr())))
      val sums = rounds.flatMap { case ((_, a), (_, b)) => Seq(a, b) }
      require(sums.distinct.size == 1, s"hash sums diverged: $sums")
      // per-row equality, not just the checksum
      val mism = typed().withColumnRenamed("ahash", "a")
        .join(expr().withColumnRenamed("ahash", "b"), "media_id")
        .filter(col("a") =!= col("b")).count()
      require(mism == 0, s"per-row hashes diverged: $mism")
      Seq("rows" -> n,
        "typed_s" -> rounds.map(_._1._1), "expr_s" -> rounds.map(_._2._1))
    }))
}
