package graft
package scenarios

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BloomFunctions.bloomRow
import graft.ops.{Dedup, TrainPrep}
import Scenario.time

/** Dedup and training-data preparation ([[ops.Dedup]], [[ops.TrainPrep]]). */
object TrainPrepScenarios {

  /** The round-4 bigram-familiarity shape, kept verbatim as the
    * `bigram_skew` baseline: per-instance rows shuffle-joined on raw
    * tokens, the hot context in one task. */
  private def naiveBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bigrams = docs
      .select(col(idCol), ops.TextAnalysis.tokens(col(textCol)).alias("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("__toks")) - 1),
          i => struct((col("__toks"))(i - 1).alias("w1"),
            (col("__toks"))(i).alias("w2")))).alias("bg"))
      .select(col(idCol), col("bg.w1").alias("w1"), col("bg.w2").alias("w2"))
    val bigramCounts = bigrams.groupBy(col("w1").alias("bc_w1"), col("w2").alias("bc_w2"))
      .agg(count(lit(1)).alias("c12"))
    val contextCounts = bigrams.groupBy(col("w1").alias("uc_w1"))
      .agg(count(lit(1)).alias("c1"))
    bigrams
      .join(bigramCounts, col("w1") === col("bc_w1") && col("w2") === col("bc_w2"))
      .join(contextCounts, col("w1") === col("uc_w1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).alias("n_bigrams"),
        (sum(col("c12")).cast("double") / sum(col("c1")).cast("double"))
          .alias("familiarity"),
        (sum(when(col("c12") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).alias("novelty_ratio"))
  }

  val all: Seq[Scenario] = Seq(
    /* The incremental-day fold ([[TrainPrep.incrementalFold]]) against
     * rebuilding the world ([[TrainPrep.prepareCorpusNearDup]]) on a
     * synthetic corpus with exact dups, near-dups and batch→history
     * cross-links; the daily batch is 5% of the history. The fold reads
     * pre-built state (what `sinkWithCorpusMaintenance` maintains); both
     * must produce the same manifest row count. */
    Scenario("corpus_fold", Seq("500000"), (spark, _, args) => {
      val n = args(0).toLong
      val batchN = n / 20
      // triples share a 25-token base (near-dups, jaccard well above 0.5);
      // pairs (2k, 2k+1) inside a triple share the salt too (exact dups);
      // batch bases alias the history's base space (cross-link pairs)
      // ids spelled in LETTERS — digit runs >= 4 would be PII-scrubbed to
      // <NUM> and collapse the corpus into one exact-dup class
      def alpha(c: Column) =
        translate(c.cast("long").cast("string"), "0123456789", "abcdefghij")
      def synth(ids: DataFrame, baseOf: Column): DataFrame =
        ids.select(col("id").alias("doc_id"),
          concat_ws(" ",
            array_join(transform(sequence(lit(0), lit(24)),
              j => concat(lit("w"), alpha(baseOf), lit("x"), alpha(j))), " "),
            concat(lit("s"), alpha(col("id") / 2))).alias("text"),
          when(pmod(col("id"), lit(5)) === 0, "fr").otherwise("en").alias("lang"))

      val history = synth(spark.range(n).toDF(), col("id") / 3)
        .localCheckpoint(false)
      val batch = synth(spark.range(n, n + batchN).toDF(),
        pmod(col("id") - n, lit(n / 3))).localCheckpoint(false)

      // UNTIMED: the stored state a production deployment already holds
      val dir = java.nio.file.Files.createTempDirectory("graft-foldbench").toString
      ops.CorpusState.build(history, "doc_id", "text", "lang").write(dir)

      def fold(): Long = {
        val state = ops.CorpusState.read(spark, dir, "doc_id", "lang")
        TrainPrep.incrementalFold(state.gated, state.sigs, state.labels, state.bloom,
          batch, "doc_id", "text", "lang").count()
      }
      def scratch(): Long = TrainPrep.prepareCorpusNearDup(
        history.unionByName(batch), "doc_id", "text", "lang",
        priority = when(col("doc_id") >= n, lit(1L)).otherwise(lit(0L))).count()

      val foldRows = fold() // settle + row count
      val scratchRows = scratch()
      require(foldRows == scratchRows,
        s"fold ($foldRows) must equal from-scratch ($scratchRows)")
      val tF = (1 to 3).map(_ => time(fold())._1).sorted.apply(1)
      val tS = (1 to 3).map(_ => time(scratch())._1).sorted.apply(1)
      Seq("history" -> n, "batch" -> batchN, "manifest_rows" -> foldRows,
        "fold_sec" -> tF, "scratch_sec" -> tS, "speedup" -> tS / tF)
    }),

    /* The Bloom-gated incremental dedup (SCALE.md §bloom-gate): a large
     * deduped history against a mostly-new daily batch, three spellings
     * of one exact result: [[Dedup.incremental]] (every batch key probes
     * the history anti join), [[Dedup.incrementalBloom]] building the
     * filter in-run, and the same with the filter pre-built (what
     * [[streaming.Streams.sinkWithBloomMaintenance]] maintains). */
    Scenario("bloom_gate", Seq("20000000", "2000000", "5"), (spark, _, args) => {
      val histN = args(0).toLong
      val batchN = args(1).toLong
      val dupPct = args(2).toInt
      // history keys 0..histN; batch: dupPct% resampled history keys, the
      // rest brand new (histN + i)
      val history = spark.range(histN).select(
          col("id").as("event_id"), col("id").as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(7))).as("event_type"))
        .localCheckpoint(false)
      val batch = spark.range(batchN).select(
          (col("id") + histN).as("event_id"),
          when(pmod(col("id"), lit(100)) < dupPct,
            pmod(col("id") * 2654435761L, lit(histN)))
            .otherwise(col("id") + histN).as("user_id"),
          concat(lit("t"), pmod(col("id"), lit(7))).as("event_type"))
        .localCheckpoint(false)
      val keys = Seq("user_id", "event_type")
      val bits = 1 << 27 // 16 MiB — ~2.6% fp at 20 M keys, 5 probes
      val persisted = bloomRow(history, xxhash64(col("user_id"), col("event_type")), bits, 5)
        .localCheckpoint(false)

      def plain() = Dedup.incremental(history, batch, keys, "event_id")
      def gated() = Dedup.incrementalBloom(history, batch, keys, "event_id",
        numBits = bits)
      def gatedPersisted() = Dedup.incrementalBloom(history, batch, keys,
        "event_id", numBits = bits, precomputed = Some(persisted))

      plain().count(); gatedPersisted().count() // JIT/caches warm-up
      val (t1, n1) = time(plain().count())
      val (t2, n2) = time(gated().count())
      val (t3, n3) = time(gatedPersisted().count())
      require(n1 == n2 && n1 == n3, s"survivor counts diverged: $n1 $n2 $n3")
      val diff = plain().exceptAll(gatedPersisted()).count() +
        gatedPersisted().exceptAll(plain()).count()
      require(diff == 0, s"gated result diverged from plain: $diff rows")
      Seq("hist" -> histN, "batch" -> batchN, "dup_pct" -> dupPct,
        "survivors" -> n1, "plain_s" -> t1, "gated_inrun_s" -> t2,
        "gated_persisted_s" -> t3)
    }),

    /* [[Dedup.exciseDuplicateSpans]]'s rewrite step on book-length docs
     * dense with duplicated spans (a tiny vocabulary makes nearly every
     * k-window a corpus duplicate): the production two-pointer merge
     * ([[graft.functions.ExciseKeepIndices]], O(len + cuts) per doc)
     * against the `filter × exists` HOF spelling it replaced
     * (O(len × cuts)). Both must remove the same token count. */
    Scenario("excise", Seq("64", "3000", "8"), (spark, _, args) => {
      import spark.implicits._
      val nDocs = args(0).toInt
      val tokensPerDoc = args(1).toInt
      val k = args(2).toInt
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val rng = new scala.util.Random(7)
      val docs = (0 until nDocs).map { i =>
        (i.toLong, Seq.fill(tokensPerDoc)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text").localCheckpoint(false)

      def twoPointer() = Dedup.exciseDuplicateSpans(docs, "doc_id", "text", k)
        .agg(sum(col("n_removed"))).head().getLong(0)

      // the replaced HOF spelling, reproduced verbatim around the same span
      // aggregates, as the comparison baseline
      def hof() = {
        import graft.functions.SketchArrayExpressions.shingleWindows
        val toks = ops.TextAnalysis.tokens(col("text"))
        val base = docs.select(col("doc_id").alias("__id"), toks.alias("__toks"))
          .withColumn("__hs",
            shingleWindows(transform(col("__toks"), t => Dedup.xxHash(t)), k))
        val occ = base.select(col("__id"), posexplode(col("__hs")))
          .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__sh")
        val dup = occ.groupBy(col("__sh"))
          .agg(count(lit(1)).alias("__n"),
            min(struct(col("__id"), col("__pos"))).alias("__keep"))
          .filter(col("__n") >= 2)
        val cuts = occ.join(dup, Seq("__sh"))
          .filter(!(col("__keep.__id") === col("__id") &&
            col("__keep.__pos") === col("__pos")))
          .groupBy(col("__id"))
          .agg(sort_array(collect_set(col("__pos"))).alias("__xs"))
        val joined = base.join(cuts, Seq("__id"), "left")
          .withColumn("__xs", coalesce(col("__xs"), array().cast("array<int>")))
        val idxs = when(size(col("__toks")) === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), size(col("__toks")) - 1))
        val keptIdx = filter(idxs,
          i => !exists(col("__xs"), p => p <= i && i < p + lit(k)))
        joined.select((size(col("__toks")) - size(keptIdx)).cast("long").alias("n_removed"))
          .agg(sum(col("n_removed"))).head().getLong(0)
      }

      val r1 = twoPointer(); val r2 = hof()
      require(r1 == r2, s"spellings disagree: $r1 vs $r2")
      twoPointer(); hof() // warm
      val tTwo = time(twoPointer())._1
      val tHof = time(hof())._1
      Seq("docs" -> nDocs, "tokens_per_doc" -> tokensPerDoc, "k" -> k,
        "removed" -> r1, "two_pointer_sec" -> tTwo, "hof_sec" -> tHof)
    }),

    /* The suffix-array span-excision amortization claim (SCALE.md
     * §suffix-array) over the documents of the data directory: per-k
     * fixed-window hash passes ([[Dedup.exciseDuplicateSpans]]), per-k
     * suffix-array runs ([[Dedup.exciseDuplicateSpansSA]]), and ONE shared
     * index serving every k ([[Dedup.exciseDuplicateSpansSAMany]]). All
     * three must return the same row total. */
    Scenario("span_index", Seq("2,3,4,6,8"), (spark, sfDir, args) => {
      val ks = args(0).split(",").map(_.trim.toInt).toSeq
      val docs = queries.Parity.t(spark, sfDir, "documents").cache()
      docs.count()
      def clear(): Unit = {
        spark.catalog.clearCache(); docs.cache(); docs.count(); ()
      }
      val (fixedSec, fixedRows) = time {
        ks.map(k => Dedup.exciseDuplicateSpans(docs, "doc_id", "text", k,
          tokenHash = Dedup.oracleHash).count()).sum
      }
      clear()
      val (perKSec, perKRows) = time {
        ks.map(k => Dedup.exciseDuplicateSpansSA(docs, "doc_id", "text", k).count()).sum
      }
      clear()
      val (manySec, manyRows) = time {
        Dedup.exciseDuplicateSpansSAMany(docs, "doc_id", "text", ks)
          .values.map(_.count()).sum
      }
      docs.unpersist()
      require(fixedRows == perKRows && perKRows == manyRows,
        s"row divergence: $fixedRows / $perKRows / $manyRows")
      Seq("sf_dir" -> sfDir, "ks" -> ks, "fixed_per_k_sec" -> fixedSec,
        "sa_per_k_sec" -> perKSec, "sa_shared_index_sec" -> manySec,
        "rows" -> manyRows)
    }),

    /* [[TrainPrep.groupedRunningSum]] (SCALE.md §Grouped enumeration) on
     * a corpus where ONE language holds 90 % of the rows — the shape that
     * serializes a `Window.partitionBy(lang)` running sum through a single
     * task. Times the packing's running sum three ways: the group-wide
     * serial window (the pre-round-7 packSequences), the form the size
     * rule chooses (`path`: `in_task` within one advisory partition, else
     * `distributed`), and the two-pass form forced at any size. Seq
     * assignments must be identical. */
    Scenario("grouped_enum", Seq("5000000"), (spark, _, args) => {
      val n = args(0).toLong
      // 90 % of rows in "en", the rest across 9 small languages
      val docs = spark.range(n).select(
        col("id").alias("doc_id"),
        when(pmod(col("id"), lit(10)) < 9, lit("en"))
          .otherwise(concat(lit("l"), pmod(col("id"), lit(10)))).alias("lang"),
        (pmod(col("id"), lit(100)) + 10).alias("n_tokens"))
      def seqIds(cum: DataFrame) = cum.select(col("doc_id"),
        floor((col("__cum") - col("n_tokens")) / lit(512)).cast("long").alias("seq_id"))
      def serial() = seqIds(docs.withColumn("__cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      var inTask = false
      def chosen() = {
        val (cum, one, _) = TrainPrep.groupedRunningSumChosen(docs, Seq("lang"), Seq("doc_id"),
          col("n_tokens"), "__cum")
        inTask = one
        seqIds(cum)
      }
      def twoPass() = TrainPrep.twoPassRunningSums(seqIds(TrainPrep.groupedRunningSum(
        docs, Seq("lang"), Seq("doc_id"), col("n_tokens"), "__cum")))

      // aggregate over seq_id so the enumeration cannot be pruned away (a
      // bare count() lets ColumnPruning delete the unused window entirely)
      def measure(df: => DataFrame): Double = {
        val t = time(df.agg(sum(col("seq_id")), max(col("seq_id"))).collect())._1
        spark.catalog.clearCache(); t
      }
      // warm the plans once at 1/10 size for JIT parity, then measure; the
      // two-pass form forced too, since 1/10 of the rows may fit one task
      val small = docs.limit((n / 10).toInt)
      TrainPrep.packSequences(small, "doc_id", "lang", col("n_tokens"), 512).count()
      TrainPrep.twoPassRunningSums(
        TrainPrep.packSequences(small, "doc_id", "lang", col("n_tokens"), 512).count())
      spark.catalog.clearCache()
      val serialS = measure(serial())
      val chosenS = measure(chosen())
      val twoPassS = measure(twoPass())
      // identical assignments — the three forms are the same function
      val joined = serial().withColumnRenamed("seq_id", "a")
        .join(chosen().withColumnRenamed("seq_id", "b"), "doc_id")
        .join(twoPass().withColumnRenamed("seq_id", "c"), "doc_id")
      val (rows, mism) = (joined.count(),
        joined.filter(col("a") =!= col("b") || col("a") =!= col("c")).count())
      require(rows == n && mism == 0, s"seq assignments diverged: $mism of $rows rows")
      Seq("rows" -> n, "path" -> (if (inTask) "in_task" else "distributed"),
        "serial_s" -> serialS, "chosen_s" -> chosenS, "two_pass_s" -> twoPassS)
    }),

    /* [[TrainPrep.bigramFamiliarity]] on a deterministic Zipfian corpus
     * (token rank floor(exp(u·ln K)) for uniform u, so P(rank=r) ∝ 1/r)
     * where the hottest token heads ~7 % of all bigram contexts:
     * the naive token join, the production plain shuffle join (AQE
     * skew-join subdivides hot probe partitions), and the round-5 hot/cold
     * broadcast split kept for AQE-off deployments. The three familiarity
     * sums must agree. */
    Scenario("bigram_skew", Seq("300000"), (spark, _, args) => {
      val nDocs = args(0).toLong
      val docLen = 50
      val vocab = 30000
      // doc i, position j → u = hash(i,j)/2^20 ∈ [0,1) → token rank
      // floor(exp(u ln K)): "t1" heads ln(2)/ln(K) ≈ 6.7 % of the corpus.
      def corpus: DataFrame = spark.range(nDocs).select(
        col("id").alias("doc_id"),
        array_join(
          transform(sequence(lit(0), lit(docLen - 1)), j =>
            concat(lit("t"), floor(exp(
              (pmod(xxhash64(col("id") * 64 + j), lit(1048576L)).cast("double")
                / 1048576.0) * math.log(vocab.toDouble))).cast("long").cast("string"))),
          " ").alias("text"))

      def force(df: DataFrame): Double = df.agg(sum(col("familiarity"))).head.getDouble(0)
      def measure(df: => DataFrame): (Double, Double) = {
        force(df) // cold
        spark.catalog.clearCache()
        val warm = time(force(df))
        spark.catalog.clearCache()
        warm
      }
      val results = Seq(
        "naive_token_join" -> measure(naiveBigrams(corpus, "doc_id", "text")),
        "plain_shuffle" -> measure(TrainPrep.bigramFamiliarity(corpus, "doc_id", "text")),
        "hot_cold_split" -> measure(TrainPrep.bigramFamiliarity(
          corpus, "doc_id", "text", hotCount = 4096L)))
      val ref = results.head._2._2
      require(results.forall { case (_, (_, s)) => math.abs(s - ref) <= 1e-9 * math.abs(ref) },
        s"familiarity sums disagree: $results")
      Seq("docs" -> nDocs, "doc_len" -> docLen, "vocab" -> vocab,
        "timings" -> results.map { case (k, (t, _)) => k -> t })
    }))
}
