package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{TextAnalysis, TrainPrep}

/** Training-set preparation goldens: deterministic splits, token-budget
  * packing, vocabulary top-k, PII scrubbing.
  */
class TrainPrepSpec extends SparkSpec {

  import spark.implicits._

  test("splitByHash: deterministic, id-keyed, respects permille fractions") {
    val df = spark.range(10000).toDF("doc_id")
    val s1 = TrainPrep.splitByHash(df, "doc_id")
    val frac = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // multiplicative scramble ⇒ close to 800/100/100 permille
    assert(math.abs(frac("train") - 8000L) < 300, s"train=${frac("train")}")
    assert(math.abs(frac("val") - 1000L) < 150 && math.abs(frac("test") - 1000L) < 150)
    // rerun identical
    val a = s1.orderBy("doc_id").collect().map(_.getString(2))
    val b = TrainPrep.splitByHash(df, "doc_id").orderBy("doc_id").collect().map(_.getString(2))
    assert(a.toSeq == b.toSeq)
  }

  test("packSequences: next-fit bins respect the budget boundary") {
    val docs = Seq(
      (0L, "g", 300L), (1L, "g", 300L), (2L, "g", 300L), (3L, "g", 50L),
      (10L, "h", 600L), (11L, "h", 10L)
    ).toDF("doc_id", "grp", "toks")
    val out = TrainPrep.packSequences(docs, "doc_id", "grp", col("toks"), budget = 512)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq_id")).toMap
    // g: exclusive cumsums 0,300,600,900 -> seqs 0,0,1,1
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 1L && out(3L) == 1L)
    // h: oversized doc takes seq 0; next starts at 600 -> seq 1
    assert(out(10L) == 0L && out(11L) == 1L)
  }

  test("packManifest: within-sequence offsets and boundary-spill flags") {
    val docs = Seq(
      (0L, "g", 4L), (1L, "g", 5L), (2L, "g", 3L), (3L, "g", 8L)
    ).toDF("doc_id", "grp", "toks")
    val m = TrainPrep.packManifest(docs, "doc_id", "grp", col("toks"), budget = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"),
          r.getAs[Boolean]("spills_into_next")))).toMap
    // cum-before: 0,4,9,12 -> seq floor(before/10): 0,0,0,1
    assert(m(0L) == ((0L, 0L, false)))
    assert(m(1L) == ((0L, 4L, false))) // 4+5=9 fits
    assert(m(2L) == ((0L, 9L, true))) // 9+3=12 crosses into seq 1
    assert(m(3L) == ((1L, 2L, false))) // starts at 12 = seq1 offset 2; 2+8=10 fits exactly
    // manifest agrees with packSequences on the seq assignment
    val p = TrainPrep.packSequences(docs, "doc_id", "grp", col("toks"), budget = 10)
      .select("doc_id", "seq_id")
    val mm = TrainPrep.packManifest(docs, "doc_id", "grp", col("toks"), budget = 10)
      .select("doc_id", "seq_id")
    assert(p.exceptAll(mm).isEmpty && mm.exceptAll(p).isEmpty)
  }

  test("topTokens: counts and lexicographic tie-break") {
    val docs = Seq((0L, "b a b c"), (1L, "a b  a")).toDF("doc_id", "text")
    val top = TrainPrep.topTokens(docs, "text", 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"), r.getAs[Long]("n_occurrences")))
    // a and b both occur 3 times -> tie broken by token asc
    assert(top.toSeq == Seq((1L, "a", 3L), (2L, "b", 3L)))
  }

  test("topTokens plans a partial top-k, not a global sort of the vocab") {
    val docs = Seq((0L, "x y z")).toDF("doc_id", "text")
    val plan = TrainPrep.topTokens(docs, "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("scrubText: emails and long digit runs replaced, counts reported") {
    val docs = Seq(
      (0L, "contact bob@example.com or call 5035550001 now"),
      (1L, "clean text with short 123 number")
    ).toDF("doc_id", "text")
    val out = TrainPrep.scrubText(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("scrubbed") == "contact <EMAIL> or call <NUM> now")
    assert(out(0).getAs[Long]("n_redactions") == 2L)
    assert(out(1).getAs[String]("scrubbed") == "clean text with short 123 number")
    assert(out(1).getAs[Long]("n_redactions") == 0L)
  }

  test("prepareCorpus: gate, dedup, split, pack compose end-to-end") {
    val long = ("tok" + (1 to 30).mkString(" tok")) // 30 distinct tokens
    val docs = Seq(
      (0L, long, "en"),                   // survives
      (1L, long, "en"),                   // exact dup of 0 -> dropped
      (2L, "too short", "en"),            // gated out: < 20 tokens
      (3L, long + " extra tail", "en")    // survives (distinct text)
    ).toDF("doc_id", "text", "lang")
    val out = graft.ops.TrainPrep.prepareCorpus(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(0L, 3L))
  }

  test("prepareCorpusIncremental: fold == from-scratch over the merged " +
    "corpus (history-wins), and replaying the same batch is a no-op") {
    val d = queries.Parity.t(spark, "/root/testdata/sf0.001", "documents")
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val history = d.filter(!isNew)
    val batch = d.filter(isNew)
    val inc = graft.ops.TrainPrep.prepareCorpusIncremental(
      history, batch, "doc_id", "text", "lang")
    // from-scratch over the union with batch rows DEPRIORITIZED on exact
    // ties — the immutable-history contract's from-scratch equivalent
    val scratch = graft.ops.TrainPrep.prepareCorpusNearDup(
      d, "doc_id", "text", "lang",
      priority = when(isNew, lit(1L)).otherwise(lit(0L)))
    assert(inc.exceptAll(scratch).isEmpty && scratch.exceptAll(inc).isEmpty,
      "incremental fold must equal the from-scratch pipeline")
    // replay idempotence: fold the already-ingested batch again — every
    // row exact-dups the (new) history, so the manifest is unchanged
    val replay = graft.ops.TrainPrep.prepareCorpusIncremental(
      d, batch, "doc_id", "text", "lang")
    assert(replay.exceptAll(scratch).isEmpty && scratch.exceptAll(replay).isEmpty,
      "replaying an ingested batch must be a no-op")
    // the exact gate really is first-seen-wins: a batch doc with a smaller
    // id than its history fingerprint-mate still loses
    val h2 = Seq((7L, ("w" + (1 to 30).mkString(" w")), "en"))
      .toDF("doc_id", "text", "lang")
    val b2 = Seq((2L, ("w" + (1 to 30).mkString(" w")), "en"))
      .toDF("doc_id", "text", "lang")
    val kept = graft.ops.TrainPrep.prepareCorpusIncremental(
      h2, b2, "doc_id", "text", "lang")
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(kept == Seq(7L), s"history must win the exact tie, kept $kept")
  }

  test("CorpusState: a built state written, read back and folded manifests " +
    "exactly prepareCorpusIncremental") {
    import graft.ops.CorpusState
    val d = queries.Parity.t(spark, s"${sys.props("user.home")}/testdata/sf0.001", "documents")
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-state").toString
    CorpusState.build(d.filter(!isNew), "doc_id", "text", "lang").write(dir)
    val state = CorpusState.read(spark, dir, "doc_id", "lang")
    val day = CorpusState.fold(state, d.filter(isNew), "doc_id", "text", "lang")
    val got = TrainPrep.manifestFromState(state.gated.unionByName(day.survivors),
      day.labels, "doc_id", "lang")
    val inc = TrainPrep.prepareCorpusIncremental(
      d.filter(!isNew), d.filter(isNew), "doc_id", "text", "lang")
    assert(got.exceptAll(inc).isEmpty && inc.exceptAll(got).isEmpty,
      "the stored state's fold must equal the in-memory incremental day")
    // the day's survivors are batch rows only, and the labels cover every
    // stored id
    assert(day.survivors.filter(!isNew).isEmpty)
    assert(state.labels.select("id").exceptAll(day.labels.select("id")).isEmpty)
  }

  test("CorpusState.read: the stored state plans its read with the engine's " +
    "schemas, so no schema-inference job runs") {
    import graft.ops.CorpusState
    val d = queries.Parity.t(spark, s"${sys.props("user.home")}/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-read").toString
    val built = CorpusState.build(d, "doc_id", "text", "lang")
    built.write(dir)
    val sc = spark.sparkContext
    sc.setJobGroup("state-read", "state-read", interruptOnCancel = false)
    val state = try {
      val s = CorpusState.read(spark, dir, "doc_id", "lang")
      (Seq(s.gated, s.sigs, s.labels) ++ s.bloom).foreach(_.queryExecution.executedPlan)
      s
    } finally sc.clearJobGroup()
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup("state-read").length
    assert(jobs == 0, s"$jobs jobs to read and plan the stored state")
    // the rows read back are the rows written, under the schema a footer
    // read infers
    Seq("gated" -> (built.gated, state.gated), "sigs" -> (built.sigs, state.sigs),
        "labels" -> (built.labels, state.labels), "bloom" -> (built.bloom.get, state.bloom.get))
      .foreach { case (name, (w, r)) =>
        assert(r.schema == spark.read.parquet(s"$dir/$name").schema, name)
        assert(w.exceptAll(r).isEmpty && r.exceptAll(w).isEmpty, name)
      }
    // a state without a bloom row writes no bloom table and reads back
    // without one
    built.copy(bloom = None).write(s"$dir-nobloom")
    assert(CorpusState.read(spark, s"$dir-nobloom", "doc_id", "lang").bloom.isEmpty)
  }

  test("incrementalFold over the stored production state: the day's job " +
    "count stays at what measured checkpoints plan") {
    val sf = s"${sys.props("user.home")}/testdata/sf0.001"
    val name = "prep_corpus_incremental"
    Bench.productionSetup(name)(spark, sf)
    val sc = spark.sparkContext
    sc.setJobGroup("fold-jobs", "fold-jobs", interruptOnCancel = false)
    val rows = try Bench.productionVariants(name)(spark, sf).count()
      finally sc.clearJobGroup()
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup("fold-jobs").length
    // every checkpoint over a join or aggregate is measured (Pin.measured),
    // so its consumers plan broadcasts before execution (plain checkpoints
    // ran 55 here: AQE shuffled both sides of each small join, then
    // broadcast one); the state's four tables are read with the schemas the
    // engine wrote and the batch with a declared one, so no footer-inference
    // job runs; the components run in one task (Dedup.clustersFast's rule;
    // 41 jobs with the doubling loop's rounds), and so does the re-pack's
    // running sum (groupedRunningSum's rule; 29 jobs with the two-pass form)
    assert(rows > 0 && jobs <= 21, s"$jobs jobs for $rows manifest rows")
  }

  test("temperatureMixture: sqrt weights flatten source skew; Hamilton " +
    "quotas sum to the target; tiny sources cap at their size") {
    // 900 / 100 / 4 docs: raw proportions 90/10/0.4%; sqrt weights
    // 30/10/2 -> flattened 71/24/5%
    val docs = ((0 until 900).map(i => (i.toLong, "big")) ++
      (1000 until 1100).map(i => (i.toLong, "mid")) ++
      (2000 until 2004).map(i => (i.toLong, "tiny")))
      .toDF("doc_id", "source")
    val out = graft.ops.TrainPrep.temperatureMixture(docs, "doc_id", "source",
        total = 100L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    val bySource = out.groupBy(_._2).view.mapValues(_.length).toMap
    // w = (30, 10, 2), W = 42: base = (71, 23, 4), rem = (18, 32, 32);
    // 2 leftovers go to the largest remainders (mid, tiny by name order) —
    // but tiny caps at its 4 docs, so the realized split is 71/24/4
    assert(bySource("big") == 71, s"got $bySource")
    assert(bySource("mid") == 24)
    assert(bySource("tiny") == 4, "tiny source contributes all of itself")
    // raw sampling would give big ~90: the flattening is the point
    assert(bySource("big") < 80 && bySource("mid") > 15)
    // picks are deterministic: same call, same docs
    val again = graft.ops.TrainPrep.temperatureMixture(docs, "doc_id", "source",
        total = 100L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")))
    assert(out.toSet == again.toSet)
  }

  test("tfRarity: rare terms outrank common ones, golden scores") {
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfRarity(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("token"), r.getAs[Double]("score"))).toMap
    // N=2; doc0: a tf=2 df=1 -> 2*3/2=3.0 ; b tf=1 df=2 -> 1*3/3=1.0
    assert(out((0L, 1L)) == ("a", 3.0))
    assert(out((0L, 2L)) == ("b", 1.0))
    // doc1: c tf=1 df=1 -> 1.5 beats shared b -> 1.0
    assert(out((1L, 1L)) == ("c", 1.5))
    assert(out((1L, 2L)) == ("b", 1.0))
  }

  test("pack covers every doc exactly once and never splits a doc") {
    val d = queries.Parity.t(spark, "/root/testdata/sf0.001", "documents")
    val packed = TrainPrep.packSequences(d, "doc_id", "lang",
      size(TextAnalysis.tokens(col("text"))).cast("long"), budget = 512)
    assert(packed.count() == d.count())
    // each (lang, seq) holds <= budget tokens unless it is a single oversized doc
    val bad = packed.groupBy("lang", "seq_id")
      .agg(sum("n_tokens").alias("t"), count(lit(1)).alias("n"))
      .filter(col("t") > 512 && col("n") > 1)
    // next-fit allows one boundary-crossing doc per bin; verify the
    // EXCLUSIVE start of every doc is inside its bin
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withStart = packed.withColumn("start", coalesce(sum("n_tokens").over(w), lit(0L)))
    assert(withStart.filter(floor(col("start") / 512.0).cast("long") =!= col("seq_id")).isEmpty)
    assert(bad.count() >= 0) // shape sanity only; boundary docs may overflow
  }

  test("decontaminate flags shared trigrams, counts occurrences") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps"),       // shares "quick brown fox"
      (2L, "totally unrelated sentence here"), // clean
      (3L, "quick brown fox quick brown fox")  // 2 hits of the contaminated trigram
    ).toDF("doc_id", "text")
    val contam = Seq((100L, "a quick brown fox ran")).toDF("doc_id", "text")
    val out = graft.ops.TrainPrep.decontaminate(
        train, "doc_id", "text", contam, "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("contam_ngrams"), r.getAs[Boolean]("is_contaminated"))).toMap
    assert(out(1L) == (1L, true))
    assert(out(2L) == (0L, false))
    assert(out(3L) == (2L, true)) // both occurrences counted
  }

  test("repetition ratio: duplicate trigram fraction, short docs are 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b a b a b"),   // 6 trigrams, 2 distinct (aba, bab)
      (2L, "all words differ totally"),
      (3L, "x y")                // < k tokens -> 0 ngrams
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.repetition(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("dup_ngrams"),
          r.getAs[Double]("rep_ratio"))).toMap
    assert(out(1L) == (6L, 4L, 4.0 / 6.0))
    assert(out(2L) == (2L, 0L, 0.0))
    assert(out(3L) == (0L, 0L, 0.0))
  }

  test("packEfficiency: waste and split counts hand-checked") {
    import spark.implicits._
    // group g: docs of 300+300+100 tokens, budget 512 → total 700,
    // 2 seqs, waste 1024-700=324; doc2 starts at offset 300 and crosses
    // the boundary (300+300 > 512) → 1 split doc
    val d = Seq(
      (1L, "g", 300L), (2L, "g", 300L), (3L, "g", 100L),
      (4L, "h", 512L))  // exactly one full sequence: zero waste, no split
      .toDF("doc_id", "grp", "n")
    val out = graft.ops.TrainPrep.packEfficiency(d, "doc_id", "grp",
        col("n"), budget = 512)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_seqs"), r.getAs[Long]("waste_tokens"),
          r.getAs[Long]("n_split_docs"))).toMap
    assert(out("g") == (3L, 700L, 2L, 324L, 1L))
    assert(out("h") == (1L, 512L, 1L, 0L, 0L))
  }

  test("unigram tokenizer: EM keeps chars + used pieces, Viterbi picks the " +
    "cheapest segmentation with deterministic tie-breaks, encode is " +
    "id-faithful") {
    import spark.implicits._
    // 'abab' is frequent -> 'ab' (and 'abab') become high-probability
    // pieces; 'xy' appears once below any multi-char usefulness
    val d = (Seq.fill(6)("abab abab ab").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      :+ (6L, "xy")).toDF("doc_id", "text")
    val model = graft.ops.TextAnalysis.unigramTrain(d, "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
    val pieces = model.collect().map(r => r.getAs[String]("piece") ->
      (r.getAs[Long]("freq"), r.getAs[Long]("p_micro"), r.getAs[Long]("cost_centi"))).toMap
    // every corpus char survives training; zero-usage chars at the floor
    assert(Set("a", "b", "x", "y").subsetOf(pieces.keySet))
    assert(pieces("x")._1 >= 1L && pieces("y")._1 >= 1L)
    // the dominant word segments as one piece if 'abab' survived, so its
    // usage dwarfs raw chars; all costs positive and bounded
    assert(pieces.values.forall(v => v._3 >= 7L && v._3 <= 2000L))
    assert(pieces.keySet.contains("abab") || pieces.keySet.contains("ab"))
    val counts = graft.ops.TextAnalysis.unigramSegmentCounts(d, "doc_id", "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    // 'abab abab ab' must segment into at most 5 pieces (<= char count 10,
    // >= 3 words); 'xy' (unseen multi) falls back to chars -> 2
    assert(counts(0L) >= 3L && counts(0L) <= 10L)
    assert(counts(6L) == 2L)
    val enc = graft.ops.TextAnalysis.unigramEncode(d, "doc_id", "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](r.fieldIndex("token_ids"))).toMap
    // id arrays align with the segment counts and contain no UNK (0) —
    // the model was trained on this very corpus
    assert(enc(0L).length == counts(0L))
    assert(enc.values.flatten.forall(_ > 0L))
    // determinism: retrain reproduces bit-identical artifacts
    val model2 = graft.ops.TextAnalysis.unigramTrain(d, "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
    assert(model.collect().toSeq == model2.collect().toSeq)
  }

  test("unigram shipped-artifact inference: encodeWith(trained model) == " +
    "the composed encode; unseen characters -> single UNK and a nonzero " +
    "unk rate") {
    import spark.implicits._
    val d = (Seq.fill(6)("abab abab ab").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      :+ (6L, "xy")).toDF("doc_id", "text")
    val model = graft.ops.TextAnalysis.unigramTrain(d, "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
      .localCheckpoint(false)
    val composed = graft.ops.TextAnalysis.unigramEncode(d, "doc_id", "text",
      maxPieceLen = 4, seedSize = 8, emIters = 2, minCount = 2)
    val shipped = graft.ops.TextAnalysis.unigramEncodeWith(d, "doc_id", "text",
      model, maxPieceLen = 4)
    assert(shipped.exceptAll(composed).isEmpty && composed.exceptAll(shipped).isEmpty,
      "shipped-artifact inference must reproduce the composed path")
    // in-distribution batch: fully coverable
    assert(graft.ops.TextAnalysis.unigramUnkRate(d, "text", model) == 0.0)
    // drifted batch: 'zq' has chars the model never saw -> single UNK,
    // and the unk rate counts it instance-weighted (2 of 3 instances)
    val drift = Seq((1L, "zq ab zq")).toDF("doc_id", "text")
    val encD = graft.ops.TextAnalysis.unigramEncodeWith(drift, "doc_id", "text",
      model, maxPieceLen = 4)
      .collect().map(r => r.getSeq[Long](r.fieldIndex("token_ids"))).head
    assert(encD.count(_ == 0L) == 2 && encD.count(_ > 0L) >= 1)
    assert(math.abs(graft.ops.TextAnalysis.unigramUnkRate(drift, "text", model)
      - 2.0 / 3.0) < 1e-12)
  }

  test("wordpiece: greedy longest-match-first (not Viterbi), positional " +
    "pieces, whole-word UNK, shipped-vocab inference equals composed") {
    import spark.implicits._
    val d = Seq.fill(5)("ababab abab cd").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val vocab = graft.ops.TextAnalysis.wordPieceVocab(d, "text",
      maxPieceLen = 4, topK = 16).localCheckpoint(false)
    val ids = vocab.collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("token_id")).toMap
    // char floor present in positional forms
    assert(Set("a", "c", "##b", "##d").subsetOf(ids.keySet))
    assert(ids.contains("abab") && ids.contains("##ab"))
    val enc = graft.ops.TextAnalysis.wordPieceEncodeWith(d, "doc_id", "text",
      vocab, maxPieceLen = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](r.fieldIndex("token_ids"))).toMap
    // GREEDY semantics: 'ababab' takes the longest piece first ->
    // [abab, ##ab], never [ab, ##ab, ##ab] or a char walk
    assert(enc(0L) == Seq(ids("abab"), ids("##ab"),
      ids("abab"), ids("cd")))
    // composed path == shipped-vocab path
    val composed = graft.ops.TextAnalysis.wordPieceEncode(d, "doc_id", "text",
      maxPieceLen = 4, topK = 16)
    val shipped = graft.ops.TextAnalysis.wordPieceEncodeWith(d, "doc_id", "text",
      vocab, maxPieceLen = 4)
    assert(shipped.exceptAll(composed).isEmpty && composed.exceptAll(shipped).isEmpty)
    // whole-word UNK: a word with any unseen char collapses to [0] —
    // WordPiece never emits partial segmentations
    val drift = Seq((1L, "abq ab abq")).toDF("doc_id", "text")
    val encD = graft.ops.TextAnalysis.wordPieceEncodeWith(drift, "doc_id", "text",
      vocab, maxPieceLen = 4)
      .collect().map(r => r.getSeq[Long](r.fieldIndex("token_ids"))).head
    assert(encD == Seq(0L, ids("ab"), 0L))
    // instance-weighted unk counts (2 of 3 word instances)
    val cnts = graft.ops.TextAnalysis.wordPieceUnkCounts(drift, "text", vocab,
      maxPieceLen = 4).head()
    assert(cnts.getLong(0) == 3L && cnts.getLong(1) == 2L)
    assert(math.abs(graft.ops.TextAnalysis.wordPieceUnkRate(drift, "text", vocab,
      maxPieceLen = 4) - 2.0 / 3.0) < 1e-12)
    // in-distribution: zero unk (char floor covers the training corpus)
    assert(graft.ops.TextAnalysis.wordPieceUnkRate(d, "text", vocab,
      maxPieceLen = 4) == 0.0)
  }

  test("wordpiece merge training: likelihood argmax diverges from BPE's " +
    "count argmax exactly where it should; merges compose with the BPE " +
    "inference surface") {
    import spark.implicits._
    // (a,b) is the most FREQUENT pair but a and b are everywhere (low
    // association); (x,y) is rarer but x occurs ONLY before y — WordPiece
    // must merge xy first, BPE ab
    val d = (Seq.fill(10)("ab ab ba") ++ Seq.fill(3)("xy"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val wp = graft.ops.TextAnalysis.wordPieceTrainMerges(d, "text", numMerges = 1)
      .collect().head
    assert((wp.getAs[String]("lhs"), wp.getAs[String]("rhs")) == ("x", "y"),
      s"likelihood argmax must pick the exclusive pair, got $wp")
    val bpe = graft.ops.TextAnalysis.bpeTrainMerges(d, "text", numMerges = 1)
      .collect().head
    assert((bpe.getAs[String]("lhs"), bpe.getAs[String]("rhs")) == ("a", "b"),
      s"count argmax must pick the frequent pair, got $bpe")
    // score_q is the exact integer quotient: c=3, uc_x=3, uc_y=3 ->
    // 3e12/9 = 333333333333
    assert(wp.getAs[Long]("score_q") == 3000000000000L / 9L)
    // the learned list drives the existing BPE inference machinery
    val merges = Seq(("x", "y"))
    val counts = graft.ops.TextAnalysis.bpeSegmentedTokenCountDict(
        d, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(10L) == 1L, "xy segments as one piece under the wp merge")
    assert(counts(0L) == 6L, "ab ab ba stays char-split (3 words x 2 chars)")
    // determinism: retrain reproduces bit-identical artifacts
    val again = graft.ops.TextAnalysis.wordPieceTrainMerges(d, "text", 1).collect()
    assert(again.toSeq == Seq(wp))
  }

  test("wordpiece: engine fold equals a plain-Scala greedy reference over " +
    "a generated corpus") {
    import spark.implicits._
    // deterministic pseudo-random words over {a,b,c}: enough collisions to
    // give multi-char pieces real frequency mass, enough variety to hit
    // every greedy branch (longest-match, mid-word fallback to chars)
    val rnd = new scala.util.Random(7)
    val words = (1 to 200).map(_ =>
      (1 to (1 + rnd.nextInt(9))).map(_ => "abc" (rnd.nextInt(3))).mkString)
    val d = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val maxLen = 4
    val vocab = graft.ops.TextAnalysis.wordPieceVocab(d, "text",
      maxPieceLen = maxLen, topK = 24).localCheckpoint(false)
    val vmap = vocab.collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("token_id")).toMap
    def greedy(w: String): Seq[Long] = {
      var pos = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (pos < w.length) {
        val ls = (math.min(maxLen, w.length - pos) to 1 by -1).find { l =>
          val c = (if (pos > 0) "##" else "") + w.substring(pos, pos + l)
          vmap.contains(c)
        }
        ls match {
          case None => return Seq(0L)
          case Some(l) =>
            out += vmap((if (pos > 0) "##" else "") + w.substring(pos, pos + l))
            pos += l
        }
      }
      out.toSeq
    }
    val got = graft.ops.TextAnalysis.wordPieceEncodeWith(d, "doc_id", "text",
      vocab, maxPieceLen = maxLen)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](r.fieldIndex("token_ids"))).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) == greedy(w), s"word '$w'")
    }
  }

  test("kneser-ney: hand-computed exact rational probabilities") {
    import spark.implicits._
    // pairs: (a,b):2  (a,c):1  (b,a):1  →  Np = 3 bigram types
    // ctx a: c1=3, 2 continuations; ctx b: c1=1, 1 continuation
    // every w2 has exactly 1 distinct history
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.kneserNey(d, "text")
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
        (r.getAs[Long]("c12"), r.getAs[Long]("c1"), r.getAs[Long]("p_micro"))).toMap
    // P(b|a) = (max(4·2−3,0)·3 + 3·2·1) / (4·3·3) = 21/36 = 0.583333…
    assert(out(("a", "b")) == (2L, 3L, 583333L))
    // P(c|a) = (1·3 + 3·2·1) / 36 = 9/36 = 0.25
    assert(out(("a", "c")) == (1L, 3L, 250000L))
    // P(a|b) = (1·3 + 3·1·1) / (4·1·3) = 6/12 = 0.5
    assert(out(("b", "a")) == (1L, 1L, 500000L))
    // discount reserves mass for unseen continuations: Σ_w2 P(w2|a) < 1
    assert(583333L + 250000L < 1000000L)
  }

  test("perplexity buckets: integer-quantized KN cost ranks reference-like " +
    "docs into head, unscoreable docs into the worst cost; value tertiles " +
    "are equal-mass up to ties") {
    import spark.implicits._
    // six docs from a repetitive "in-distribution" phrase, one shuffled
    // outlier (rare bigrams -> higher cost), one single-token doc
    // (unscoreable -> cost 20000)
    val common = (1 to 6).map(i => (i.toLong, "a b a b a b a b"))
    val d = (common :+ (7L, "b b a a c a") :+ (8L, "x")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.perplexityBuckets(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("cost_milli"),
          r.getAs[String]("bucket"))).toMap
    assert(out.size == 8, "every doc gets a row")
    assert(out(8L) == (0L, 20000L, "tail"), "no bigrams -> worst cost, tail")
    assert(out(1L)._3 == "head", "in-distribution docs take the head")
    assert(out(7L)._2 > out(1L)._2, "rare bigrams cost more than common ones")
    // equal docs share a value -> share a bucket (ties never split)
    assert((1 to 6).map(i => out(i.toLong)).distinct.size == 1)
  }

  test("gopher rules: each rule gates on its own exact integer bound") {
    import spark.implicits._
    val good = "the of " + Seq.fill(48)("word").mkString(" ")  // 50 words
    val short = "the of and"                                   // 3 words, mean 2.67
    val symbols = "the of " + Seq.fill(10)("####").mkString(" ") +
      " " + Seq.fill(38)("word").mkString(" ")                 // 40 '#' on 50 words
    val numeric = Seq.fill(50)("12345").mkString(" ")          // no alpha, no stops
    val d = Seq((1L, good), (2L, short), (3L, symbols), (4L, numeric))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.gopherRules(d)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // good: every rule passes
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(1L).getAs[Long]("n_words") == 50L)
    assert(out(1L).getAs[Long]("n_stopwords_distinct") == 2L)
    // short: word count under 50 AND mean word length 8/3 < 3
    assert(!out(2L).getAs[Boolean]("ok_word_count"))
    assert(!out(2L).getAs[Boolean]("ok_mean_len"))
    assert(out(2L).getAs[Boolean]("ok_stopwords")) // the/of/and = 3 distinct
    // symbols: 40 '#' over 50 words fails the 10% symbol ratio; the
    // 40-of-50 alpha fraction sits exactly on the 80% boundary (passes)
    assert(!out(3L).getAs[Boolean]("ok_symbol_ratio"))
    assert(out(3L).getAs[Boolean]("ok_alpha_words"))
    assert(out(3L).getAs[Long]("n_symbols") == 40L)
    // numeric: no alphabetic words, no stop words
    assert(!out(4L).getAs[Boolean]("ok_alpha_words"))
    assert(!out(4L).getAs[Boolean]("ok_stopwords"))
    assert(out(4L).getAs[Boolean]("ok_word_count"))
    assert(!out(4L).getAs[Boolean]("keep"))
  }

  test("mixture sampling hits target proportions deterministically") {
    import spark.implicits._
    val df = ((1L to 80L).map(i => (i, "web")) ++ (81L to 120L).map(i => (i, "code")))
      .toDF("id", "src")
    val out = graft.ops.TrainPrep.mixtureSample(df, "src", "id",
      Map("web" -> 0.5, "code" -> 0.5))
    // feasible total = min(80/.5, 40/.5) = 80 -> code keeps all 40, web ~40
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("code") == 40L)
    assert(bySrc("web") >= 30L && bySrc("web") <= 50L, s"web kept ${bySrc("web")}")
    // deterministic: same input -> identical sample
    val again = graft.ops.TrainPrep.mixtureSample(df, "src", "id",
      Map("web" -> 0.5, "code" -> 0.5))
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // sources without a target are dropped
    val extra = graft.ops.TrainPrep.mixtureSample(
      df.union(Seq((200L, "junk")).toDF("id", "src")), "src", "id",
      Map("web" -> 0.5, "code" -> 0.5))
    assert(extra.filter(col("src") === "junk").isEmpty)
  }

  test("chunkDocuments: window starts, overlap, tail coverage, short docs") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val out = graft.ops.TrainPrep.chunkDocuments(df, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: 10 tokens, size 4, stride 3 -> starts 0,3,6 (6+4=10 covers all)
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.forall(_._4 == 4L))
    // every token appears in at least one chunk
    assert(d1.flatMap(_._3.split(" ")).toSet == (1 to 10).map(i => s"t$i").toSet)
    // shorter-than-window docs produce exactly one (short) chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b", 2L)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, "solo", 1L)))
  }

  test("chunkDocuments is narrow: no shuffle exchange in the plan") {
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val p = graft.ops.TrainPrep.chunkDocuments(df, "doc_id", "text", 4, 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking should be shuffle-free:\n$p")
  }

  test("decontaminate degrades to a shuffle semi join beyond the broadcast limit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "totally clean text with no overlap here at all"),
      (3L, "quick brown fox story continues further")).toDF("doc_id", "text")
    val contam = Seq("a quick brown fox appeared").toDF("bench_text")
    def run() = graft.ops.TrainPrep
      .decontaminate(docs, "doc_id", "text", contam, "bench_text", k = 3)
      .select("doc_id", "contam_ngrams", "is_contaminated")
      .orderBy("doc_id")
    val small = run().collect().map(_.toSeq).toSeq
    // simulate a contamination set too large to broadcast: disable the
    // threshold so the planner must take the degrade path
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val big = run()
      assert(big.collect().map(_.toSeq).toSeq == small,
        "shuffle path must flag identical documents")
      val plan = big.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin LeftSemi"),
        s"semi join must not force a broadcast beyond the threshold:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("chunkDocumentsChars: byte-faithful windows, concat reproduces text") {
    val text = "a  b\tc   d e" // runs of whitespace the token variant collapses
    val df = Seq((1L, text), (2L, "xy")).toDF("doc_id", "text")
    val out = graft.ops.TrainPrep.chunkDocumentsChars(df, "doc_id", "text",
        chunkSize = 6, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val d1 = out.filter(_._1 == 1L)
    // 12 chars, size 6, stride 4 -> starts 0,4,8; each window is the exact
    // substring (whitespace intact)
    assert(d1.map(_._3).toSeq == Seq("a  b\tc", "\tc   d", " d e"))
    assert(d1.map(_._4).toSeq == Seq(6L, 6L, 4L))
    // stride-prefixes of all but the last window + the last window
    // reassemble the original byte-for-byte
    val reassembled = d1.init.map(_._3.take(4)).mkString + d1.last._3
    assert(reassembled == text, s"stride concat must reproduce the doc: '$reassembled'")
    // short doc: one chunk, verbatim
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "xy", 2L)))
  }

  test("prepareCorpusChunked: chunks inherit the doc split; packing respects budget") {
    val long = (1 to 50).map(i => s"w$i").mkString(" ") // 50 distinct tokens
    val df = (1L to 20L).map(i => (i, s"doc$i $long", "en")).toDF("doc_id", "text", "lang")
    val out = graft.ops.TrainPrep.prepareCorpusChunked(
      df, "doc_id", "text", "lang", chunkSize = 16, stride = 12, budget = 64)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getLong(4), r.getLong(5)))
    // every doc chunks to ceil((51-16)/12)+1 = 4 windows
    assert(rows.groupBy(_._1).forall(_._2.length == 4), "expected 4 chunks per doc")
    // all chunks of one doc land in ONE split (no train/val leakage)
    for ((_, chunks) <- rows.groupBy(_._1))
      assert(chunks.map(_._4).distinct.length == 1, "chunks straddle splits")
    // split matches the doc-level hash law
    for ((id, chunks) <- rows.groupBy(_._1)) {
      val bucket = (id * 2654435761L + 40503L) % 1000L
      val expect = if (bucket < 800) "train" else if (bucket < 900) "val" else "test"
      assert(chunks.head._4 == expect)
    }
    // packing: within each (split, lang) sequence, total tokens ≤ budget
    // unless a single chunk exceeds it (none here: chunks ≤ 16 < 64)
    for ((_, seq) <- rows.groupBy(r => (r._4, r._3, r._6)))
      assert(seq.map(_._5).sum <= 64 + 16,
        "a sequence exceeded budget by more than one chunk")
  }

  test("bigramFamiliarity: golden ratios on a crafted corpus") {
    // corpus: "a b" x3 (common transition), plus one doc with a unique pair
    val df = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c")).toDF("doc_id", "text")
    // bigram counts: (a,b)=3, (a,c)=1; context count: a=4
    val out = graft.ops.TrainPrep.bigramFamiliarity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((1L, 3.0 / 4.0, 0.0)))
    assert(out(4L) == ((1L, 1.0 / 4.0, 1.0)))
    // single-token or empty docs have no bigrams and drop out
    val tiny = graft.ops.TrainPrep.bigramFamiliarity(
      Seq((9L, "one"), (10L, "")).toDF("doc_id", "text"), "doc_id", "text")
    assert(tiny.isEmpty)
  }

  test("bigramFamiliarity: hot/cold join split is value-invariant") {
    // Zipf-ish corpus: "the" dominates contexts; (the,end) and (rare,pair)
    // sit in the tail. Any hotCount must give identical results — the
    // threshold only picks the join strategy per key, never the arithmetic.
    val df = Seq(
      (1L, "the cat the dog the end"),
      (2L, "the cat the cat the cat"),
      (3L, "rare pair the cat"),
      (4L, "the end of the end")).toDF("doc_id", "text")
    def run(hot: Long) =
      graft.ops.TrainPrep.bigramFamiliarity(df, "doc_id", "text", hotCount = hot)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val allHot = run(1L)            // every key ≥ 1 → all broadcast
    val allCold = run(Long.MaxValue) // no key qualifies → all shuffle join
    val split = run(3L)             // "the*" contexts hot, tail cold
    assert(allHot == allCold, "broadcast-only vs shuffle-only paths disagree")
    assert(split == allHot, "mixed hot/cold path disagrees")
  }

  test("bigramFamiliarity plan: hot keys broadcast, instances reduced once") {
    val df = Seq((1L, "the cat the dog"), (2L, "the cat sat")).toDF("doc_id", "text")
    val qe = graft.ops.TrainPrep.bigramFamiliarity(df, "doc_id", "text", hotCount = 2L)
      .queryExecution
    val plan = qe.executedPlan.toString
    // the hot side of both count joins resolves as a broadcast join
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast hot-key join:\n$plan")
    // the raw bigram explode feeds ONE persisted reduction — every other
    // consumer reads the InMemoryRelation, not a re-scan of the instances.
    // (logical plan: cached reads are InMemoryRelation LEAVES, so any
    // Generate left in the optimized plan is an uncached explode re-scan)
    val cached = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, s"expected persisted per-doc reduction in plan:\n$plan")
    val uncachedExplodes = qe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(uncachedExplodes.isEmpty,
      s"bigram instances must be built once inside the persisted reduction:\n$plan")
  }

  test("bigramFamiliarity: top-K hot-set cap is value-invariant") {
    // The broadcast hot set is capped at hotTopK rows so its size is
    // corpus-invariant; like hotCount, the cap only picks join strategy
    // per key — any K must produce identical results.
    val df = Seq(
      (1L, "the cat the dog the end"),
      (2L, "the cat the cat the cat"),
      (3L, "rare pair the cat"),
      (4L, "the end of the end")).toDF("doc_id", "text")
    def run(k: Int) =
      graft.ops.TrainPrep.bigramFamiliarity(df, "doc_id", "text",
        hotCount = 1L, hotTopK = k)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val unbounded = run(1000000) // every key hot (hotCount=1, K huge)
    val capped = run(2)          // only the 2 hottest keys broadcast
    val none = run(0)            // cap forces everything to the cold join
    assert(unbounded == capped, "top-K-capped hot set changed the values")
    assert(unbounded == none, "empty hot set (all-cold) changed the values")
  }

  test("encodeTokenIds: broadcast and join strategies agree, OOV→0, empty docs kept") {
    val docs = Seq(
      (1L, "a b a x"), (2L, "x y"), (3L, ""), (4L, "b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 1L), ("b", 2L)).toDF("token", "rank")
    def run(strategy: String) =
      TrainPrep.encodeTokenIds(docs, "doc_id", "text", vocab, strategy = strategy)
        .orderBy("doc_id").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("token_ids").toList)
        .toMap
    val bc = run("broadcast")
    assert(bc(1L) == List(1L, 2L, 1L, 0L)) // OOV token → 0, order preserved
    assert(bc(2L) == List(0L, 0L))
    assert(bc(3L) == Nil)                  // empty doc keeps an empty sequence
    assert(bc(4L) == List(2L))
    assert(run("join") == bc, "join degrade path disagrees with broadcast path")
    assert(run("auto") == bc)
    intercept[IllegalArgumentException] {
      TrainPrep.encodeTokenIds(docs, "doc_id", "text", vocab, strategy = "nope")
    }
  }

  test("encodeTokenIds plans: broadcast path never shuffles the corpus; " +
    "forced-large vocab degrades to a token-keyed shuffle join") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 1L)).toDF("token", "rank")
    val pBc = TrainPrep.encodeTokenIds(docs, "doc_id", "text", vocab,
      strategy = "broadcast").queryExecution.executedPlan.toString
    assert(!pBc.contains("ShuffleExchange") && !pBc.contains("Exchange hashpartitioning"),
      s"broadcast encode must not shuffle the corpus:\n$pBc")
    // auto with a forced-tiny broadcast budget must pick the join path:
    // the vocab arrives via a token-keyed join, not a folded map row
    val pJoin = TrainPrep.encodeTokenIds(docs, "doc_id", "text", vocab,
      strategy = "auto", maxBroadcastVocab = 0L)
      .queryExecution.executedPlan.toString
    assert(!pJoin.contains("map_from_entries"),
      s"forced-large vocab must not fold the vocab into a broadcast map:\n$pJoin")
    assert(pJoin.contains("Join") && pJoin.contains("Generate"),
      s"expected the token-keyed join degrade path:\n$pJoin")
  }

  test("negativeSamples: k ring-neighbors, wrap-around, never self, " +
    "singleton groups empty") {
    val d = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"), (5L, "en"),
      (10L, "fr"), (11L, "fr"),
      (20L, "zh")).toDF("doc_id", "lang")
    val out = TrainPrep.negativeSamples(d, "doc_id", "lang", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every en doc gets exactly 3 negatives; fr docs get 1 (group of 2);
    // the zh singleton gets none
    val byDoc = out.keys.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byDoc == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3, 5L -> 3,
      10L -> 1, 11L -> 1))
    // never self, never duplicate negatives for one doc, same group only
    for (doc <- Seq(1L, 2L, 3L, 4L, 5L)) {
      val negs = (1L to 3L).map(r => out((doc, r)))
      assert(!negs.contains(doc), s"doc $doc sampled itself")
      assert(negs.distinct.size == 3, s"doc $doc repeated a negative: $negs")
      assert(negs.forall(n => n >= 1L && n <= 5L), s"doc $doc left its group")
    }
    assert(out((10L, 1L)) == 11L && out((11L, 1L)) == 10L)
    // deterministic: rerun identical
    val again = TrainPrep.negativeSamples(d, "doc_id", "lang", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == out)
  }

  test("oovRate: counts tokens outside the vocab, empty doc rates 0") {
    import spark.implicits._
    val docs = Seq((1L, "a b x"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("token")
    val out = TrainPrep.oovRate(docs, "doc_id", "text", vocab, "token")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_oov"), r.getAs[Double]("oov_rate")))).toMap
    assert(out(1L) == ((1L, 1.0 / 3.0)))
    assert(out(2L) == ((2L, 1.0)))
    assert(out(3L) == ((0L, 0.0)))
  }

  test("oovRate plans narrow: one broadcast, no shuffle of the corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b x")).toDF("doc_id", "text")
    val vocab = Seq("a").toDF("token")
    val p = TrainPrep.oovRate(docs, "doc_id", "text", vocab, "token")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("prioritySample: matches the priority formula computed independently") {
    import spark.implicits._
    val rows = Seq.tabulate(100)(i => (i.toLong, (i % 13) + 1))
    val df = rows.toDF("id", "w")
    val out = TrainPrep.prioritySample(df, "id", col("w"), k = 10)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("id")))
    // reference: same arithmetic in plain Scala
    val ref = rows.map { case (id, w) =>
      val h = (id * 2654435761L + 97531L) % 4294967296L
      val u = (h.toDouble + 0.5) / 4294967296.0
      (id, w.toDouble / u)
    }.sortBy { case (id, pr) => (-pr, id) }.take(10)
      .zipWithIndex.map { case ((id, _), i) => (i + 1, id) }
    assert(out.toSeq == ref)
  }

  test("prioritySample: higher weight raises inclusion odds (same hashes)") {
    import spark.implicits._
    // weight 1000 vs weight 1 on identical id-hash streams: the heavy
    // rows must dominate the sample
    val df = Seq.tabulate(200)(i =>
      (i.toLong, if (i < 20) 1000 else 1)).toDF("id", "w")
    val picked = TrainPrep.prioritySample(df, "id", col("w"), k = 10)
      .collect().map(_.getAs[Long]("id"))
    assert(picked.count(_ < 20) >= 8, s"heavy rows under-sampled: ${picked.toSeq}")
  }

  test("prioritySampleGrouped: k per stratum, WindowGroupLimit planned") {
    import spark.implicits._
    val df = Seq.tabulate(60)(i => (i.toLong, i % 3, i + 1)).toDF("id", "g", "w")
    val out = TrainPrep.prioritySampleGrouped(df, "id", col("w"), "g", k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(rows.groupBy(_.getAs[Int]("g")).forall(_._2.length == 5))
    // each group's picks match the globally-computed reference restricted
    // to that group
    val ref = Seq.tabulate(60) { i =>
      val h = (i.toLong * 2654435761L + 97531L) % 4294967296L
      val u = (h.toDouble + 0.5) / 4294967296.0
      (i.toLong, i % 3, (i + 1).toDouble / u)
    }.groupBy(_._2).view.mapValues(
      _.sortBy(t => (-t._3, t._1)).take(5).map(_._1).toSet).toMap
    rows.foreach { r =>
      assert(ref(r.getAs[Int]("g")).contains(r.getAs[Long]("id")))
    }
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("prioritySample plans a global top-k, not a full sort") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => (i.toLong, i + 1)).toDF("id", "w")
    val p = TrainPrep.prioritySample(df, "id", col("w"), k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("end-to-end: prepared corpus composes with the global shuffle order") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prepped = TrainPrep.prepareCorpus(docs, "doc_id", "text", "lang")
    val ordered = TrainPrep.shuffleOrder(prepped, "doc_id")
    val n = prepped.count()
    val rows = ordered.select("pos", "doc_id").collect()
    // ordering adds/drops nothing and assigns a contiguous permutation
    assert(rows.length == n)
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (0L until n))
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == n)
  }

  test("shuffleOrder: pos is the exact (hash, id)-order permutation") {
    import spark.implicits._
    val df = Seq.tabulate(97)(i => (i.toLong, s"d$i")).toDF("id", "text")
    val out = TrainPrep.shuffleOrder(df, "id")
      .select("pos", "id", "h").collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("id"), r.getAs[Long]("h")))
    assert(out.map(_._1).sorted.toSeq == (0L until 97L))
    // positions enumerate rows in (h, id) order
    val byPos = out.sortBy(_._1).map(t => (t._3, t._2)).toSeq
    assert(byPos == byPos.sorted)
    // deterministic under input partitioning
    val again = TrainPrep.shuffleOrder(df.repartition(7), "id")
      .select("pos", "id").collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("id"))).sortBy(_._1).toSeq
    assert(again == out.sortBy(_._1).map(t => (t._1, t._2)).toSeq)
  }

  test("shuffleOrder: range-partitioned sort, windows never see the corpus " +
    "in one partition") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => (i.toLong, s"d$i")).toDF("id", "text")
    // the two-pass form, forced: 50 rows fit one advisory partition
    val plan = TrainPrep.twoPassRunningSums(TrainPrep.shuffleOrder(df, "id"))
      .queryExecution.executedPlan.toString
    // the rows are sliced by a binary search of sampled bounds on
    // (hash, id) over the measured checkpoint, with no range exchange
    assert(plan.contains("Scan ExistingRDD") && plan.contains("binarySearch"), plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    // the per-partition enumeration window is keyed by pid — a non-empty
    // windowspecdefinition, so no data-wide single-partition window
    // (plan string, not a tree collect: AQE wraps the tree pre-execution)
    assert(plan.contains("windowspecdefinition(__grs_pid"))
  }

  test("packSequences/negativeSamples: two-pass grouped enumeration — " +
    "range partitioning, no group-wide window over the data") {
    val df = Seq.tabulate(60)(i => (i.toLong, if (i % 3 == 0) "en" else "fr", 10L))
      .toDF("doc_id", "lang", "toks")
    // the two-pass form, forced: 60 rows fit one advisory partition
    val pPack = TrainPrep.twoPassRunningSums(
        TrainPrep.packSequences(df, "doc_id", "lang", col("toks"), 512))
      .queryExecution.executedPlan.toString
    // sliced by a binary search of sampled bounds over the measured checkpoint
    assert(pPack.contains("Scan ExistingRDD") && pPack.contains("binarySearch"), pPack)
    assert(!pPack.toLowerCase.contains("rangepartitioning"), pPack)
    // every data-sized window is keyed by (pid, group) — a whole group
    // never sorts in one task; the only lang-keyed windowspec without a
    // pid prefix is the offsets prefix-sum over #partitions-sized input
    assert(pPack.contains("windowspecdefinition(__grs_pid"),
      s"expected the (pid, group)-sliced running-sum window:\n$pPack")
    assert(!pPack.contains("windowspecdefinition(lang#") ||
      pPack.contains("windowspecdefinition(__grs_pid"),
      s"group-wide data window found:\n$pPack")
    val pNeg = TrainPrep.twoPassRunningSums(
        TrainPrep.negativeSamples(df, "doc_id", "lang", k = 2))
      .queryExecution.executedPlan.toString
    assert(pNeg.contains("Scan ExistingRDD") && pNeg.contains("binarySearch"), pNeg)
    assert(pNeg.contains("windowspecdefinition(__grs_pid"),
      s"expected the (pid, group)-sliced position window:\n$pNeg")
  }

  test("groupedRunningSum: the in-task window keeps the measured checkpoint's " +
    "one partition — no exchange, the window keyed by the group") {
    val df = Seq.tabulate(60)(i => (i.toLong, if (i % 3 == 0) "en" else "fr", 10L))
      .toDF("doc_id", "lang", "toks")
    val (packed, inTask, _) = TrainPrep.groupedRunningSumChosen(df, Seq("lang"),
      Seq("doc_id"), col("toks"), "cum")
    assert(inTask)
    val p = packed.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD") && p.contains("Coalesce 1"), p)
    assert(!p.contains("Exchange") && !p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("windowspecdefinition(lang#") && !p.contains("__grs_pid"), p)
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("groupedRunningSum: the in-task and two-pass forms give equal rows and " +
    "schemas on random tables") {
    // non-null values; o1 is unique, so every order key is unique per group
    val row = for {
      g1 <- Gen.oneOf(Some("a"), Some("b"), None)
      g2 <- Gen.oneOf(Some(1), Some(2), None)
      o2 <- Gen.chooseNum(0, 3)
      v <- Gen.chooseNum(-5L, 100L)
    } yield (g1, g2, o2, v)
    val table = Gen.chooseNum(2, 40).flatMap(Gen.listOfN(_, row))
    // 1000 rows: enough that the two-pass form samples, not takes, the
    // rows its slice bounds come from
    val tables = Seq(Nil, List((Some("a"), None, 1, 7L))) ++
      (0 until 5).flatMap(i => table.apply(Gen.Parameters.default, Seed(120L + i))) ++
      Gen.listOfN(1000, row).apply(Gen.Parameters.default, Seed(130L))
    assert(tables.size == 8)
    val calls = Seq(Nil -> Seq("o1"), Seq("g1") -> Seq("o1"),
      Seq("g1", "g2") -> Seq("o2", "o1"), Seq("g2") -> Seq("o2", "o1"))
    // the 1000-row table also runs at 16 shuffle partitions: 8 slices, 7
    // bounds to search (2 slices at the suite's 4)
    val wide = Engine.tune(spark.newSession())
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    for (rs <- tables; s <- if (rs.size == 1000) Seq(spark, wide) else Seq(spark);
         (groups, orders) <- calls) {
      val df = s.createDataFrame(rs.zipWithIndex.map { case ((g1, g2, o2, v), i) =>
        (g1, g2, i * 7919L % 1009, o2, v) }).toDF("g1", "g2", "o1", "o2", "v")
      val (one, inTask, _) = TrainPrep.groupedRunningSumChosen(df, groups, orders, col("v"), "s")
      val two = TrainPrep.twoPassRunningSums(
        TrainPrep.groupedRunningSum(df, groups, orders, col("v"), "s"))
      assert(inTask, s"$rs left the in-task path")
      assert(one.schema == two.schema, s"$groups / $orders over $rs")
      assert(sorted(one) == sorted(two), s"$groups / $orders over $rs")
    }
  }

  test("packSequences: null-group docs are kept and packed as one group on " +
    "both forms") {
    val docs = Seq[(Long, Option[String], Long)]((0L, Some("en"), 300L),
      (1L, None, 300L), (2L, Some("en"), 300L), (3L, None, 300L))
      .toDF("doc_id", "lang", "toks")
    def packed(df: DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("seq_id")).toMap
    val one = packed(TrainPrep.packSequences(docs, "doc_id", "lang", col("toks"), 300))
    val two = packed(TrainPrep.twoPassRunningSums(
      TrainPrep.packSequences(docs, "doc_id", "lang", col("toks"), 300)))
    // each group's exclusive cumsums are 0, 300 -> seqs 0, 1
    assert(one == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L), one)
    assert(two == one, two)
  }

  test("preferencePairs: max/min by score with deterministic id tiebreak, " +
    "null groups/scores dropped, singleton self-pairs, one hash agg") {
    import spark.implicits._
    val docs = Seq(
      ("s1", 1L, 10L), ("s1", 2L, 30L), ("s1", 3L, 30L), ("s1", 4L, 5L),
      ("s1", 5L, 5L),                       // ties at both ends
      ("s2", 6L, 7L),                       // singleton -> self-pair
      (null.asInstanceOf[String], 7L, 9L),  // null group dropped
      ("s3", 8L, 1L), ("s3", 9L, 2L)
    ).toDF("source", "doc_id", "n_chars")
      .unionByName(Seq(("s3", 10L)).toDF("source", "doc_id")
        .withColumn("n_chars", org.apache.spark.sql.functions
          .lit(null).cast("long")))  // null score dropped
    val out = TrainPrep.preferencePairs(docs, "source", "doc_id", "n_chars")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      ("s1", 3L, 4L, 30L, 5L),   // chosen tie -> max id; rejected tie -> min id
      ("s2", 6L, 6L, 7L, 7L),
      ("s3", 9L, 8L, 2L, 1L)))
    // scale shape: ONE aggregation with a map-side partial (struct
    // min/max plans as SortAggregate — sorted by the group key within
    // partitions, never a whole group in one task), and no window
    val plan = TrainPrep.preferencePairs(docs, "source", "doc_id", "n_chars")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("windowspecdefinition"),
      s"preference pairs must not window over groups:\n$plan")
    assert(plan.contains("partial_max"),
      s"expected a map-side partial aggregate before the shuffle:\n$plan")
  }
}
