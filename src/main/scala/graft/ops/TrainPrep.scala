package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayBinarySearch, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

/** Training-set preparation operators: the steps between a cleaned corpus
  * and a tokenizer — deterministic splits, token-budget sequence packing,
  * vocabulary statistics, and PII scrubbing.
  *
  * All deterministic (no RNG — reruns and backfills must route every doc
  * to the same split/sequence), all narrow or single-shuffle:
  *  - [[splitByHash]]: per-row arithmetic, zero shuffle;
  *  - [[packSequences]]: a per-group running sum ([[groupedRunningSum]]:
  *    one task when the input fits one advisory partition, a two-pass
  *    sliced enumeration above that), next-fit bin packing;
  *  - [[topTokens]]: explode + count + global top-k (partial aggregation
  *    map-side; the final top-k reduces per-partition winners);
  *  - [[scrubText]]: per-row regex, zero shuffle.
  */
object TrainPrep {

  /** Deterministic train/val/test assignment by multiplicative hash of a
    * numeric id: bucket = (id·2654435761 + 40503) mod 1000 (Knuth-style
    * scramble — adjacent ids scatter, same id always lands in the same
    * split; pure integer arithmetic, reproducible in any engine). Fractions
    * are permille thresholds: default 800/100/100. */
  def splitByHash(
      df: DataFrame,
      idCol: String,
      trainPermille: Int = 800,
      valPermille: Int = 100): DataFrame = {
    val bucket = pmod(col(idCol) * lit(2654435761L) + lit(40503L), lit(1000L))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPermille, "train")
          .when(col("bucket") < trainPermille + valPermille, "val")
          .otherwise("test"))
  }

  /** Per-group global running sum: `out` is the sum of `value` over the
    * rows of the row's group (`groupCols`; none is one global group, and a
    * null key is a group of its own) up to and including the row, in
    * `orderCols` order. Callers guarantee that `value` is non-null and
    * that the order keys are unique within a group, so the sum is one
    * function of the rows whatever the partitioning. Output: the group
    * columns, `df`'s other columns, then `out`, with `df`'s nullability.
    *
    * The input is measured once ([[Pin.measured]], which also computes
    * `value`), and the size rule ([[Pin.partitions]]) picks the form:
    *  - one advisory partition: the serial window, `sum(value)` over
    *    `partitionBy(group).orderBy(order)`, in the checkpoint's single
    *    coalesced task. `SinglePartition` satisfies the window, so the
    *    consumer's job runs it with no exchange: no range sample, no
    *    offsets, no window re-shuffle.
    *  - more: the two-pass form ([[twoPass]]), in which no task sorts a
    *    whole group (`Window.partitionBy(group)` would put each group's
    *    ENTIRE corpus through ONE task's sort: at 100 TB with O(30)
    *    languages that is a ~30-task serialization of the biggest shuffle
    *    in the prep pipeline).
    * Both forms give the same rows and schema.
    */
  private[graft] def groupedRunningSum(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      value: Column,
      out: String): DataFrame =
    groupedRunningSumChosen(df, groupCols, orderCols, value, out)._1

  /** [[groupedRunningSum]], whether it ran in one task, and its row count
    * (the input's, measured: no job). */
  private[graft] def groupedRunningSumChosen(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      value: Column,
      out: String): (DataFrame, Boolean, Long) = {
    val (in, seen) = Pin.measured(df.withColumn("__grs_v", value.cast("long")))
    val rows = seen("rows").asInstanceOf[Long]
    val inTask = Pin.partitions(in, seen) == 1 && !forcedTwoPass.value
    val w = BoundedWindow.partitionBy(groupCols.map(col))
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val summed =
      if (inTask) in.coalesce(1).withColumn(out, sum(col("__grs_v")).over(w))
      else twoPass(in, rows, groupCols, orderCols, out)
    (summed.select((groupCols ++ df.columns.filterNot(groupCols.contains) :+ out)
      .map(c => col(s"`$c`")): _*), inTask, rows)
  }

  /** Runs `body` with every [[groupedRunningSum]] it builds on its
    * two-pass form, at any size: the seam that compares the two forms. */
  private[graft] def twoPassRunningSums[T](body: => T): T =
    forcedTwoPass.withValue(true)(body)

  private val forcedTwoPass = new scala.util.DynamicVariable(false)

  /** [[groupedRunningSum]]'s two-pass form over the measured input `in`
    * of `rows` rows:
    *  1. slice the rows by (group ++ order) at bounds sampled from `in`
    *     ([[slices]]), so a big group spans MANY balanced slices and a
    *     small one shares a slice with its neighbors;
    *  2. per-(slice, group) value sums — tiny aggregate;
    *  3. per-group exclusive prefix over slice ids (window over
    *     #slices×#groups-spanning rows, never data rows);
    *  4. broadcast the offsets back (a null-safe join: a null group key
    *     is one group, as in the window); each row's running sum = its
    *     group's offset in this slice + the within-(slice, group) running
    *     sum (that window keys on (slice, group): every task handles a
    *     bounded SLICE of a group, never the whole group).
    * Two passes over the data, every stage parallel; the values are
    * invariant to the slice count (offsets re-derive the same global
    * order).
    *
    * The sums and the join must see the same slice for every row, and so
    * must every later recompute of the result. The slice is a function of
    * the row's keys and literal bounds, so they do, with no exchange or
    * materialization shared between them. (A range exchange's
    * `spark_partition_id()` is not such a function: Spark seeds the
    * exchange's bound sample with the sampled RDD's id, so each planning
    * of it, for the sums and again for the join, drew other bounds, and
    * 40 % of the running sums came out wrong over 20 000 rows.) */
  private def twoPass(in: DataFrame, rows: Long, groupCols: Seq[String],
      orderCols: Seq[String], out: String): DataFrame = {
    val parts = math.max(2,
      in.sparkSession.sessionState.conf.defaultNumShufflePartitions / 2)
    val parted = in.withColumn("__grs_pid", slices(in, rows, groupCols ++ orderCols, parts))
    val sums = parted
      .groupBy(("__grs_pid" +: groupCols).map(col): _*)
      .agg(sum(col("__grs_v")).alias("__grs_s"))
    // #(slice, group)-row frame; ungrouped calls take BoundedWindow's
    // constant key so the (bounded) serial window never reads as data-wide
    val offW = BoundedWindow.partitionBy(groupCols.map(col))
      .orderBy(col("__grs_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = groupCols.indices.map(i => s"__grs_g$i")
    val offsets = sums // #(slice, group) rows — the only serial window
      .withColumn("__grs_off", coalesce(sum(col("__grs_s")).over(offW), lit(0L)))
      .select(col("__grs_pid").alias("__grs_opid") +:
        groupCols.zip(g).map { case (c, a) => col(c).alias(a) } :+ col("__grs_off"): _*)
    val rnW = Window.partitionBy(("__grs_pid" +: groupCols).map(col): _*)
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val on = groupCols.zip(g).foldLeft(col("__grs_pid") === col("__grs_opid")) {
      case (c, (k, a)) => c && (col(k) <=> col(a)) }
    parted.join(broadcast(offsets), on)
      .withColumn(out, col("__grs_off") + sum(col("__grs_v")).over(rnW))
  }

  /** [[twoPass]]'s slice id of a row, `0 until parts`: the number of
    * bounds below the row's `keys` (a key equal to repeated bounds takes
    * one of their indices: the id stays monotone in the key, which is
    * all the offsets need), compared as one struct (ascending, nulls
    * first: the order the sorts use), found by one binary search of the
    * bounds as one sorted array literal, so the expression's size does
    * not grow with `parts`. The `parts - 1` bounds are evenly spaced rows
    * of a fixed-seed sample of `in` (`rows` rows), sorted in one task: one
    * job. The sample is the range exchange's: about
    * `spark.sql.execution.rangeExchange.sampleSizePerPartition` rows per
    * slice, at most 1 M. */
  private def slices(in: DataFrame, rows: Long, keys: Seq[String], parts: Int): Column = {
    val names = keys.indices.map(i => s"k$i")
    val key = struct(keys.zip(names).map { case (c, n) => col(c).alias(n) }: _*)
    val keyType = StructType(keys.zip(names).map { case (c, n) =>
      StructField(n, in.schema(c).dataType) })
    val perSlice = in.sparkSession.sessionState.conf.rangeExchangeSampleSizePerPartition
    val sampled = math.min(perSlice.toDouble * parts, 1e6)
    val sample = in.select(keys.map(col): _*)
      .sample(withReplacement = false, math.min(1.0, sampled / math.max(rows, 1L)), 0L)
      .coalesce(1).sortWithinPartitions(keys.map(col): _*).collect()
    if (sample.isEmpty) lit(0)
    else {
      val bounds = Literal.create((1 until parts)
        .map(i => sample((i.toLong * sample.length / parts).toInt)),
        ArrayType(keyType, containsNull = false))
      // the index of an equal bound, else -(the number of bounds below) - 1
      val at = Shims.column(ArrayBinarySearch(bounds, Shims.expression(key)))
      when(at >= 0, at).otherwise(-at - 1)
    }
  }

  /** Pack documents into fixed token-budget training sequences: within each
    * `groupCol` (e.g. language), docs ordered by `idCol` fill sequences of
    * at most `budget` tokens — next-fit bin packing as a running sum:
    * `seq_id = floor(exclusive_cumsum / budget)`. The cumsum is
    * [[groupedRunningSum]]'s: the serial window in one task when the input
    * fits one advisory partition, and above that the two-pass form, in
    * which no task sorts a whole group. Docs larger than the budget take
    * dedicated sequences. Deterministic: same corpus → same packing.
    * Callers should prune to the columns they need first — the running
    * sum measures and materializes the input schema as-is. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCountCol: Column,
      budget: Int): DataFrame =
    groupedRunningSum(df.withColumn("n_tokens", tokenCountCol),
      Seq(groupCol), Seq(idCol), col("n_tokens"), "__cum")
      .withColumn("seq_id",
        floor((col("__cum") - col("n_tokens")) / lit(budget)).cast("long"))
      .drop("__cum")

  /** [[packSequences]] plus the LOADER-FACING manifest columns a training
    * data-reader needs to slice token streams without re-tokenizing:
    *
    *  - `seq_offset`: the doc's starting token offset WITHIN its sequence
    *    (`cum_before − seq_id·budget`);
    *  - `spills_into_next`: whether the doc's tokens cross the sequence
    *    boundary (contiguous-stream packing splits the tail into the
    *    following sequence(s) — the standard pack-then-split layout).
    *
    * Same single running sum as [[packSequences]], under the same size
    * rule (the manifest columns are pure projections of it — no extra
    * shuffle), same determinism: corpus → identical manifest on any
    * engine. */
  def packManifest(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCountCol: Column,
      budget: Int): DataFrame =
    groupedRunningSum(df.withColumn("n_tokens", tokenCountCol),
      Seq(groupCol), Seq(idCol), col("n_tokens"), "__cum")
      .withColumn("seq_id",
        floor((col("__cum") - col("n_tokens")) / lit(budget)).cast("long"))
      .withColumn("seq_offset",
        (col("__cum") - col("n_tokens") - col("seq_id") * lit(budget)).cast("long"))
      .withColumn("spills_into_next",
        (col("seq_offset") + col("n_tokens")) > lit(budget))
      .drop("__cum")

  /** Packing-efficiency report over [[packSequences]]' layout: per group,
    * the document/token volume, sequence count, padding waste
    * (`n_seqs·budget − n_tokens` — the tokens the loader pads the final
    * partial sequence with), and how many documents the contiguous-stream
    * layout SPLITS across a sequence boundary (the training-relevance
    * trade of pack-then-split: zero padding inside full sequences, at the
    * price of split documents). Every figure exact BIGINT; rides the same
    * single enumeration as [[packManifest]] plus one group aggregate. */
  def packEfficiency(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      tokenCountCol: Column,
      budget: Int): DataFrame =
    packManifest(df, idCol, groupCol, tokenCountCol, budget)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).alias("n_docs"),
        sum(col("n_tokens")).alias("n_tokens"),
        sum(when(col("spills_into_next"), 1L).otherwise(0L))
          .alias("n_split_docs"))
      .withColumn("n_seqs",
        expr(s"CAST((n_tokens + ${budget - 1}) div $budget AS BIGINT)"))
      .withColumn("waste_tokens",
        col("n_seqs") * budget.toLong - col("n_tokens"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("n_seqs"),
        col("waste_tokens"), col("n_split_docs"))
      .orderBy(groupCol)

  /** Global token vocabulary: the `k` most frequent whitespace tokens with
    * occurrence counts, ties broken lexicographically. Exploded counts
    * partially aggregate map-side; the global top-k plans as
    * TakeOrderedAndProject (per-partition top-k, merged on the driver) —
    * never a single-partition sort of the whole vocabulary. The rank
    * window runs over k rows only (the limit(k) result, never data) —
    * [[BoundedWindow]]'s constant key states that intent in the plan. */
  def topTokens(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val ord = Seq(col("n_occurrences").desc, col("token").asc)
    docs.select(explode(TextAnalysis.tokens(col(textCol))).alias("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).alias("n_occurrences"))
      .orderBy(ord: _*)
      .limit(k)
      .withColumn("rank", row_number().over(BoundedWindow.orderBy(ord: _*)).cast("long"))
  }

  /** Out-of-vocabulary rate per document against a token vocabulary (e.g.
    * [[topTokens]]'s top-k): the coverage check a vocab choice is judged
    * by before a tokenizer trains. The vocabulary folds into ONE array row
    * and broadcasts — membership is a narrow per-row `array_contains`
    * filter (no explode, no per-token join); the only aggregate in the
    * plan is the vocabulary's own. `n_tokens`, `n_oov` are exact counts;
    * `oov_rate` their single-division ratio (0 for empty docs).
    */
  def oovRate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      tokenCol: String): DataFrame = {
    val varr = vocab.agg(sort_array(collect_list(col(tokenCol))).alias("__vocab"))
    val toks = TextAnalysis.tokens(col(textCol))
    docs.crossJoin(broadcast(varr))
      .select(col(idCol),
        size(toks).cast("long").alias("n_tokens"),
        size(filter(toks, t => !array_contains(col("__vocab"), t)))
          .cast("long").alias("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /** Token-id encoding — the tokenizer-apply step: map every token of every
    * document to its vocabulary rank (OOV → 0), preserving order, producing
    * `idCol, token_ids: array<bigint>`. `vocab` is a `(tokenCol, rankCol)`
    * table, e.g. [[topTokens]]'s output.
    *
    * Two physical strategies, because "the vocab fits in a broadcast map" is
    * an assumption, not a law:
    *
    *  - `"broadcast"`: the vocab folds into ONE map row and broadcasts;
    *    encoding is a narrow per-row `transform`/`element_at` — the corpus
    *    never shuffles. Right whenever the vocab is tokenizer-sized (≤ a few
    *    million entries).
    *  - `"join"`: the degrade path for vocabularies past any broadcast
    *    budget (e.g. a raw corpus-wide vocabulary at 100 TB): posexplode to
    *    (id, position, token), left-join the vocab on the token key, and
    *    reassemble per doc with a position-sorted collect. The build side is
    *    unique per token, so Zipf-hot probe keys are a *partition-size* skew,
    *    not a build-side blowup — AQE's skew-join splits the oversized probe
    *    partitions at runtime (the same posture as [[decontaminate]]'s
    *    unhinted semi join). Two shuffles (the join + the per-doc rebuild).
    *  - `"auto"` (default): counts the vocab up to `maxBroadcastVocab + 1`
    *    rows (a LIMIT-bounded job — never a full scan of a huge vocab) and
    *    picks accordingly.
    */
  def encodeTokenIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      tokenCol: String = "token",
      rankCol: String = "rank",
      strategy: String = "auto",
      maxBroadcastVocab: Long = 4000000L): DataFrame = {
    val useBroadcast = strategy match {
      case "broadcast" => true
      case "join"      => false
      case "auto" =>
        vocab.select(col(tokenCol))
          .limit((maxBroadcastVocab + 1L).min(Int.MaxValue.toLong).toInt)
          .count() <= maxBroadcastVocab
      case other =>
        throw new IllegalArgumentException(
          s"encodeTokenIds strategy must be auto|broadcast|join, got '$other'")
    }
    if (useBroadcast) {
      val vmap = vocab.agg(
        map_from_entries(collect_list(struct(col(tokenCol), col(rankCol).cast("long"))))
          .alias("__vmap"))
      docs.crossJoin(broadcast(vmap))
        .select(col(idCol),
          transform(TextAnalysis.tokens(col(textCol)),
            t => coalesce(element_at(col("__vmap"), t), lit(0L))).alias("token_ids"))
    } else {
      val pos = docs.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p", "__t")))
      val encoded = pos
        .join(vocab.select(col(tokenCol).alias("__t"), col(rankCol).cast("long").alias("__r")),
          Seq("__t"), "left")
        .groupBy(col(idCol))
        .agg(transform(
          array_sort(collect_list(struct(col("__p"),
            coalesce(col("__r"), lit(0L)).alias("__id")))),
          s => s("__id")).alias("token_ids"))
      // docs with no tokens produce no exploded rows; restore them with an
      // empty id sequence so both strategies agree row-for-row
      docs.select(col(idCol))
        .join(encoded, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("token_ids"), expr("cast(array() as array<bigint>)"))
            .alias("token_ids"))
    }
  }

  /** RLHF/DPO preference-pair mining: within each `groupCol` group (the
    * "prompt" axis — source, cluster, dedup component …), pair the
    * highest-`scoreCol` member (CHOSEN) with the lowest (REJECTED), ties
    * broken by `idCol` so the pick is deterministic on any engine. Rows
    * with a null group, score, or id are dropped — a null id would void
    * the tiebreak (struct ordering ranks nulls low, so a null-id row
    * could win `max` and emit chosen_id = NULL).
    *
    * 100 TB shape: ONE aggregation — `max(struct(score, id))` /
    * `min(struct(score, id))` partial-aggregate map-side (struct min/max
    * plans as SortAggregate: partition-local sort by the GROUP KEY, never
    * a whole group in one task), so a group's rows reduce before they
    * ever co-locate; no window over the group. Output is one row per
    * group; singleton groups pair
    * a document with itself (chosen_id = rejected_id) — downstream
    * filters drop or keep them by policy. */
  def preferencePairs(
      docs: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String): DataFrame =
    docs.filter(col(groupCol).isNotNull && col(scoreCol).isNotNull &&
        col(idCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(
        max(struct(col(scoreCol), col(idCol))).alias("__c"),
        min(struct(col(scoreCol), col(idCol))).alias("__r"))
      .select(col(groupCol),
        col(s"__c.$idCol").alias("chosen_id"),
        col(s"__r.$idCol").alias("rejected_id"),
        col(s"__c.$scoreCol").alias("chosen_score"),
        col(s"__r.$scoreCol").alias("rejected_score"))

  /** Deterministic negative sampling for contrastive training: for every
    * document, `k` same-group (e.g. same-language) negatives drawn
    * uniformly-but-reproducibly — the counterpart to positive-pair
    * construction (`prep_contrastive`): a contrastive objective needs both.
    *
    * The sample is a HASH RING, not a candidate join: each doc gets a
    * scrambled ring position (the [[splitByHash]] multiplicative scramble,
    * different constants), docs order by ring position within their group,
    * and each doc's negatives are the next `k` docs around the ring
    * (wrapping modulo the group size). Properties:
    *
    *  - deterministic: same corpus → same negatives, any engine;
    *  - uniform-ish: ring order is hash order, uncorrelated with id order
    *    or content;
    *  - positions come from [[groupedRunningSum]]: one task when the ring
    *    fits one advisory partition, and above that the two-pass
    *    enumeration, in which no task sorts a whole group (a
    *    `Window.partitionBy(group)` at any size would serialize each
    *    language through one task at scale); the neighbor lookup is a
    *    position-keyed self-join, hash-parallel across positions;
    *  - wrap-around means every doc gets exactly `min(k, group size − 1)`
    *    negatives (singleton groups get none).
    *
    * Output: one row per (doc, rank 1..k) with the negative's id.
    */
  def negativeSamples(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val ring = docs.select(col(idCol), col(groupCol),
      pmod(col(idCol) * lit(2246822519L) + lit(3266489917L), lit(1000000007L))
        .alias("__ring"))
    // global per-group ring positions; pinned — three consumers (sizes,
    // the exploded targets, the position lookup) must not race (see [[Pin]])
    val posed = Pin(groupedRunningSum(ring, Seq(groupCol),
      Seq("__ring", idCol), lit(1L), "__pos"))
    val sizes = posed.groupBy(col(groupCol)).agg(count(lit(1)).alias("__n"))
    // the i-th negative of the doc at pos is the doc at
    // ((pos − 1 + i) mod n) + 1 — wrap is just modular arithmetic, so one
    // equi-join on (group, position) fetches direct AND wrapped neighbors
    val targets = posed
      .join(broadcast(sizes), Seq(groupCol))
      .select(col(groupCol), col(idCol), col("__n"), col("__pos"),
        explode(sequence(lit(1L), lit(k.toLong))).alias("rank"))
      .filter(col("rank") < col("__n")) // singleton/short groups: no self/dups
      .withColumn("__tpos", pmod(col("__pos") - 1 + col("rank"), col("__n")) + 1)
    val lookup = posed.select(col(groupCol), col("__pos").alias("__tpos"),
      col(idCol).alias("neg_id"))
    targets.join(lookup, Seq(groupCol, "__tpos"))
      .select(col(idCol), col("rank"), col("neg_id"))
  }

  /** The full training-corpus preparation pipeline, composed end-to-end:
    *
    *  1. PII scrub ([[scrubText]]) — narrow;
    *  2. quality gate: token count ≥ `minTokens` and distinct-token ratio
    *     ≥ `minDistinctRatio` ([[TextAnalysis.qualityFilter]] semantics) —
    *     narrow;
    *  3. exact dedup on the scrubbed text, lowest doc_id survives
    *     ([[Dedup.exactByKey]]) — one shuffle on the text fingerprint;
    *  4. deterministic train/val/test split ([[splitByHash]]) — narrow;
    *  5. token-budget sequence packing per (split, lang)
    *     ([[packSequences]]) — one task within an advisory partition, the
    *     two-pass enumeration above it.
    *
    * Output: one row per surviving doc with its split and sequence
    * assignment — the manifest a tokenizer consumes. Wide shuffles: the
    * dedup fingerprint groupBy and, above one advisory partition, the
    * packing's (slice, group) window exchange; the surviving-id
    * join broadcasts while the id list fits (measured plan at test scale)
    * and degrades to an id-keyed shuffle join beyond that — ids only,
    * never text.
    */
  def prepareCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      budget: Int = 512,
      textHash: Column => Column = c => xxhash64(c)): DataFrame = {
    // keep the lowest-id doc per identical scrubbed text — ONE min_by
    // aggregate on the fingerprint instead of the former keeper aggregate
    // + self-join: that spelling evaluated the scrub/tokenize front TWICE
    // (once under the keeper aggregate, once as the join's probe side —
    // the regex scrub is the pipeline's dominant per-row cost) and paid
    // the join's exchanges on top of the keeper's. min_by(struct(row), id)
    // keeps the whole winning row in one partial-aggregated shuffle:
    // map-side partials collapse duplicate fingerprints before the
    // exchange (a boilerplate text duplicated a billion times ships once
    // per map partition — the skew shape a window-min would concentrate
    // into one task), and ids are unique so the min-id row IS the keeper
    // join's survivor set. Only manifest columns enter the struct; the
    // scrubbed payload never crosses the exchange (`textHash` injectable
    // for the cross-engine oracle, like Dedup).
    val surviving = gatedWithFp(docs, idCol, textCol, langCol, minTokens,
        minDistinctRatio, textHash)
      .groupBy(col("__fp"))
      .agg(min_by(
        struct(col(idCol), col(langCol), col("n_tokens"), col("n_redactions")),
        col(idCol)).alias("__r"))
      .select(col("__r.*"))
    packManifest(surviving, idCol, langCol, budget)
  }

  /** Shared narrow front of the corpus pipelines: PII scrub + quality gate
    * + text fingerprint, per row — columns (id, lang, scrubbed,
    * n_redactions, n_tokens, distinct_ratio, __fp). */
  private[ops] def gatedWithFp(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      textHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val scrubbed = docs.select(col(idCol) +: col(langCol) +: scrubbedCols(textCol): _*)
    val toks = TextAnalysis.tokens(col("scrubbed"))
    scrubbed
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .filter(col("n_tokens") >= minTokens && col("distinct_ratio") >= minDistinctRatio)
      .withColumn("__fp", textHash(col("scrubbed")))
  }

  /** Shared tail: hash split + token-budget packing over the kept manifest
    * rows (ids and counts only — the text never reaches the window). */
  private def packManifest(
      kept: DataFrame, idCol: String, langCol: String, budget: Int): DataFrame = {
    val split = splitByHash(kept, idCol)
      .select(col(idCol), col(langCol), col("split"), col("n_tokens"),
        col("n_redactions"))
    groupedRunningSum(split, Seq("split", langCol), Seq(idCol),
      col("n_tokens"), "__cum")
      .withColumn("seq_id",
        floor((col("__cum") - col("n_tokens")) / lit(budget)).cast("long"))
      .select(col(idCol), col(langCol), col("split"), col("n_tokens"),
        col("n_redactions"), col("seq_id"))
  }

  /** [[prepareCorpus]] extended with a NEAR-DUP stage: scrub → quality
    * gate → exact dedup → LSH near-dup components (keep each cluster's
    * min-id representative) → split → pack. `priority` orders the exact
    * keeper before id (lower wins) — [[prepareCorpusIncremental]] passes
    * the batch flag here so "first seen wins" has a from-scratch
    * equivalent to equal. */
  def prepareCorpusNearDup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      budget: Int = 512,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      priority: Column = lit(0L),
      tokenHash: Column => Column = graft.ops.Dedup.xxHash,
      textHash: Column => Column = c => xxhash64(c),
      maxIter: Int = 25): DataFrame = {
    val gated = gatedWithFp(docs, idCol, textCol, langCol, minTokens,
      minDistinctRatio, textHash).withColumn("__prio", priority)
    // min_by keeper on (priority, id) — one partial-aggregated exchange
    // replaces the former keeper aggregate + self-join, which evaluated
    // the scrub/gate front twice (see [[prepareCorpus]]); (priority, id)
    // is unique per row (ids are), so the min row is exactly the old
    // keeper join's survivor
    val surv = CorpusState.keepers(gated, struct(col("__prio"), col(idCol)))
    val pairs = graft.ops.Dedup.minhashLsh(
        surv.select(col(idCol), col("scrubbed")), idCol, "scrubbed",
        k, numHashes, bands, minJaccard, tokenHash)
      .select("id_a", "id_b")
    val comp = graft.ops.Dedup.clustersFast(pairs, maxIter)
    val kept = surv
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(coalesce(col("cluster_id"), col(idCol)) === col(idCol))
      .drop("cluster_id")
    packManifest(kept, idCol, langCol, budget)
  }

  /** The incremental training-data day, composed end to end: day-N docs →
    * Bloom-gated exact dedup against the history → incremental near-dup
    * component fold → quality gate (shared narrow front) → re-pack → the
    * day's corpus manifest over history ∪ batch. Hash-equal to
    * [[prepareCorpusNearDup]] over the merged corpus with batch rows
    * deprioritized (first-seen-wins: a batch doc whose scrubbed text the
    * history already holds is dropped regardless of id order — history is
    * immutable).
    *
    * Cost shape of the fold (the production recurrence):
    *  - scrub/gate/fingerprint: narrow over the BATCH;
    *  - exact dedup: [[graft.ops.Dedup.incrementalBloom]] — a Bloom miss
    *    proves the key new (no history touch on the majority path), only
    *    the maybe-seen remainder enters the exact anti join;
    *  - near-dup: only pairs touching a batch survivor fold via
    *    [[graft.ops.Dedup.clustersIncremental]] (rounds bounded by the
    *    BATCH graph's contracted diameter, spec-proved);
    *  - re-pack: runs on manifest rows (id, counts) of the union — never
    *    the text. Replay-idempotent: folding the same batch twice yields
    *    the identical manifest (every row exact-dups the history).
    *
    * This correctness spelling builds "yesterday" ([[CorpusState.build]])
    * from the history frame so the oracle can check the whole
    * composition; production stores that state as tables (see
    * [[CorpusState.write]]). */
  def prepareCorpusIncremental(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      budget: Int = 512,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenHash: Column => Column = graft.ops.Dedup.xxHash,
      textHash: Column => Column = c => xxhash64(c),
      maxIter: Int = 25): DataFrame = {
    val state = CorpusState.build(history, idCol, textCol, langCol, minTokens,
      minDistinctRatio, minJaccard, k, numHashes, bands, tokenHash, textHash, maxIter)
    incrementalFold(state.gated, state.sigs, state.labels, state.bloom, batch,
      idCol, textCol, langCol, minTokens, minDistinctRatio, budget,
      minJaccard, k, numHashes, bands, tokenHash, textHash, maxIter)
  }

  /** The production daily fold behind [[prepareCorpusIncremental]]: the
    * batch folds into the STORED history state ([[CorpusState]]'s four
    * tables, [[CorpusState.fold]]) so the recurring cost is
    * batch-proportional, and only manifest rows (ids + counts) of the
    * history's and the batch's survivors reach the re-pack. */
  def incrementalFold(
      historyGated: DataFrame,
      historySigs: DataFrame,
      historyLabels: DataFrame,
      bloom: Option[DataFrame],
      batch: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      budget: Int = 512,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenHash: Column => Column = graft.ops.Dedup.xxHash,
      textHash: Column => Column = c => xxhash64(c),
      maxIter: Int = 25): DataFrame = {
    val day = CorpusState.fold(
      CorpusState(historyGated, historySigs, historyLabels, bloom), batch,
      idCol, textCol, langCol, minTokens, minDistinctRatio, minJaccard, k,
      numHashes, bands, tokenHash = tokenHash, textHash = textHash, maxIter = maxIter)
    manifestFromState(historyGated.unionByName(day.survivors), day.labels, idCol, langCol,
      budget)
  }

  /** The manifest read-path over maintained corpus state: keep each
    * near-dup component's representative (docs absent from `labels` are
    * singletons and keep themselves), then split + pack. `gated` is the
    * exact-dedup survivors table, `labels` the (id, cluster_id) component
    * labelling — exactly the tables
    * [[graft.streaming.Streams.sinkWithCorpusMaintenance]] maintains. */
  def manifestFromState(
      gated: DataFrame,
      labels: DataFrame,
      idCol: String,
      langCol: String,
      budget: Int = 512): DataFrame = {
    val kept = gated
      .join(labels.withColumnRenamed("id", idCol)
        .select(col(idCol), col("cluster_id")), Seq(idCol), "left")
      .filter(coalesce(col("cluster_id"), col(idCol)) === col(idCol))
      .drop("cluster_id")
    // prune to the manifest columns (ids + counts, never text): the
    // packing's running sum measures its input, so the keeper join tree
    // (gated ∪ batch ⋈ the incremental label assembly) runs once
    packManifest(kept.select(col(idCol), col(langCol), col("n_tokens"),
      col("n_redactions")), idCol, langCol, budget)
  }

  /** PII scrubbing: replace email-shaped and long-digit-run substrings with
    * placeholder tokens, reporting per-doc redaction counts. Character-class
    * regexes only (identical semantics across regex engines — the oracle
    * runs them in DuckDB's RE2). */
  val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
  val LongNumRe = "[0-9]{4,}"

  def scrubText(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +: scrubbedCols(textCol): _*)

  /** The scrub's two columns: `scrubbed` text and its `n_redactions`. */
  private def scrubbedCols(textCol: String): Seq[Column] = Seq(
    regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>").alias("scrubbed"),
    (regexp_count(col(textCol), lit(EmailRe)) +
      regexp_count(col(textCol), lit(LongNumRe))).cast("long").alias("n_redactions"))

  /** Test-set decontamination: flag every training document that shares at
    * least one word `k`-gram with the contamination corpus (benchmark /
    * eval texts). The standard guard against evaluating on memorized data.
    *
    * Scale shape: both sides' shingle hashes come from the NARROW
    * [[graft.functions.ShingleWindows]] expression (a per-row codegen'd
    * loop — no shuffle to form n-grams); the contamination set collapses
    * to distinct 8-byte hashes. The semi-join strategy is deliberately
    * UNHINTED: under the broadcast threshold AQE broadcasts the hash set
    * from its measured runtime size (the usual case — eval benchmarks are
    * small), and beyond it the join degrades to a hash-keyed shuffle semi
    * join instead of forcing an executor-OOM broadcast — the guard for
    * contamination corpora at eval-suite scale (every benchmark ever
    * published, k-grams of all of them). Returns `docs` + `contam_ngrams`
    * (occurrences of contaminated k-grams) + `is_contaminated`.
    */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      contamination: DataFrame,
      contamTextCol: String,
      k: Int,
      tokenHash: Column => Column = graft.ops.Dedup.xxHash): DataFrame = {
    import graft.functions.SketchArrayExpressions.shingleWindows
    def grams(textC: Column): Column =
      shingleWindows(transform(TextAnalysis.tokens(textC), t => tokenHash(t)), k)
    val contamSet = contamination
      .select(explode(grams(col(contamTextCol))).alias("sh")).distinct()
    val hits = docs
      .select(col(idCol).alias("__id"), explode(grams(col(textCol))).alias("sh"))
      .join(contamSet, Seq("sh"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).alias("contam_ngrams"))
      .withColumnRenamed("__id", idCol)
    docs.join(hits, Seq(idCol), "left")
      .withColumn("contam_ngrams", coalesce(col("contam_ngrams"), lit(0L)))
      .withColumn("is_contaminated", col("contam_ngrams") > 0L)
  }

  /** Source/domain mixture sampling: downsample each source so the output
    * hits `targets` proportions while keeping as many rows as possible —
    * the "data mixing" step of corpus assembly (e.g. 40 % web / 20 % code).
    *
    * The feasible total is `N = min_s(n_s / p_s)`; each source keeps
    * `p_s·N / n_s` of its rows via a deterministic id-hash threshold (no
    * RNG — same corpus in, same sample out, any engine). Everything stays
    * in-plan: per-source counts (tiny aggregate) and the global min join
    * back by broadcast; the base table is filtered in one narrow pass.
    * Sources absent from `targets` are dropped. The scramble constants
    * differ from [[splitByHash]]'s so sampling and split assignment stay
    * decorrelated.
    */
  /** Temperature-flattened source mixing (the GPT-3/PaLM-style
    * `p_s ∝ n_s^(1/T)` re-weighting at T = 2), with EXACT integer
    * arithmetic end to end — every step is cross-engine reproducible:
    *
    *  - source weight `w_s = ⌊√n_s⌋`: IEEE-754 `sqrt` is CORRECTLY
    *    ROUNDED (unlike `pow`/`ln`), so floor of it is the exact integer
    *    square root for any count below 2⁵² in every engine;
    *  - quotas by largest remainder: `base_s = ⌊N·w_s / W⌋` (integer
    *    div), the `N − Σ base` leftovers go to the largest
    *    `(N·w_s) mod W` (ties by source name) — the Hamilton
    *    apportionment, all-integer;
    *  - per-source picks in deterministic hash order (the splitByHash
    *    multiplier), capped at the source's own size — a tiny source
    *    whose flattened quota exceeds its population contributes all of
    *    itself (one-pass; rerunning on the residual redistributes).
    *
    * Scale shape: two codebook-sized aggregates over source counts
    * (window over #sources rows, not data), one broadcast quota join,
    * one per-source WindowGroupLimit pick — the corpus never shuffles
    * except the per-source rank. */
  def temperatureMixture(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      total: Long): DataFrame =
    mixtureFromWeights(docs, idCol, sourceCol, total,
      floor(sqrt(col("n_source"))).cast("long"))

  /** Exact integer t-th root `⌊n^(1/t)⌋` for 1 ≤ n < 2⁵², as a column
    * expression with no loops: seed with libm `pow(n, 1/t)` (faithfully
    * rounded — within 1–2 ulp, i.e. within ±2 of the true integer root at
    * these magnitudes), then pick the LARGEST candidate in seed±2 whose
    * exact integer t-th power (t literal multiplications in BIGINT, no
    * overflow below 2⁵²·small) is ≤ n. The correction step absorbs any
    * cross-engine libm difference, so the result is engine-exact the same
    * way `floor(sqrt(n))` is for t = 2. Inputs ≥ 2⁵² fail loudly
    * (raise_error) rather than silently mis-rooting.
    */
  private[graft] def intRoot(n: Column, t: Int): Column = {
    require(t >= 2, s"intRoot: need t >= 2, got $t")
    def ipow(c: Column): Column = Seq.fill(t)(c).reduce(_ * _)
    val seed = floor(pow(n.cast("double"), lit(1.0 / t))).cast("long")
    val guarded = when(n <= lit(4503599627370496L), seed) // 2^52
      .otherwise(raise_error(format_string(
        "intRoot: count %s exceeds 2^52; the pow seed is no longer " +
          "within the +-2 correction window", n.cast("string"))))
    val cands = (2 to -2 by -1).map(d => greatest(guarded + lit(d.toLong), lit(0L)))
    cands.dropRight(1).foldRight(cands.last: Column)((c, rest) =>
      when(ipow(c) <= n, c).otherwise(rest))
  }

  /** [[temperatureMixture]] at an arbitrary integer temperature t ≥ 2:
    * `p_s ∝ n_s^(1/t)` with the weight spelled as the EXACT integer t-th
    * root ([[intRoot]] — pow-seeded, ±2-corrected, engine-exact), then the
    * same all-integer Hamilton apportionment and deterministic hash-order
    * picks. t = 2 reduces to [[temperatureMixture]] (sqrt seed vs pow seed
    * land on the same corrected root). Scale shape identical: the weight
    * table is #sources rows; the corpus shuffles only for the per-source
    * rank. */
  def temperatureMixtureT(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      total: Long,
      t: Int): DataFrame =
    mixtureFromWeights(docs, idCol, sourceCol, total,
      intRoot(col("n_source"), t))

  private def mixtureFromWeights(
      docs: DataFrame,
      idCol: String,
      sourceCol: String,
      total: Long,
      weight: Column): DataFrame = {
    // the weight table is #sources rows — its two scalar totals are
    // one-row driver lookups, the same bounded class as a probe set
    val weighted = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).alias("n_source"))
      .withColumn("__w", weight)
      .localCheckpoint(false)
    val wSum = weighted.agg(sum(col("__w"))).head.getLong(0)
    require(wSum > 0L, "temperatureMixture: empty corpus")
    val quotas0 = weighted
      .withColumn("__base", expr(s"(${total}L * __w) div ${wSum}L"))
      .withColumn("__rem", expr(s"(${total}L * __w) % ${wSum}L"))
    val bSum = quotas0.agg(sum(col("__base"))).head.getLong(0)
    val er = BoundedWindow.orderBy(col("__rem").desc, col(sourceCol).asc)
    val quotas = quotas0
      .withColumn("__er", row_number().over(er).cast("long"))
      .withColumn("quota",
        col("__base") + when(col("__er") <= lit(total - bSum), 1L)
          .otherwise(0L))
      .select(col(sourceCol), least(col("quota"), col("n_source")).alias("quota"))
    val pick = Window.partitionBy(col(sourceCol))
      .orderBy(pmod(col(idCol) * lit(2654435761L) + lit(40503L),
        lit(1000000007L)).asc, col(idCol).asc)
    docs.select(col(idCol), col(sourceCol))
      .join(broadcast(quotas), Seq(sourceCol))
      .withColumn("pick_rank", row_number().over(pick).cast("long"))
      .filter(col("pick_rank") <= col("quota"))
      .select(col(idCol), col(sourceCol), col("pick_rank"))
  }

  def mixtureSample(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      targets: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).alias("__n"))
    val withP = counts
      .withColumn("__p", element_at(typedLit(targets), col(sourceCol)))
      .filter(col("__p").isNotNull && col("__p") > 0.0)
    val total = withP.agg(min(col("__n") / col("__p")).alias("__total"))
    val rates = withP.crossJoin(broadcast(total))
      .select(col(sourceCol),
        floor(col("__p") * col("__total") / col("__n") * 1000000.0)
          .cast("long").alias("__thr"))
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(pmod(col(idCol) * lit(22695477L) + lit(49297L), lit(1000000L)) < col("__thr"))
      .drop("__thr")
  }

  /** Context-window chunking: split each document into token windows of
    * `size` tokens advancing by `stride` (overlap = size − stride), the
    * step that turns cleaned documents into model-context-sized training
    * examples. Chunk starts are 0, stride, 2·stride, …; the last window
    * begins at the first multiple of stride covering the tail, so every
    * token lands in ≥1 chunk and no start lies beyond the text.
    *
    * Entirely narrow (tokenize → per-row window index sequence → explode →
    * slice): zero shuffles at any corpus size; chunk construction never
    * materializes more than one document's tokens per row. Output: one row
    * per (doc, chunk) with the chunk text and its token count.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val carry = carryCols.map(col)
    docs
      .select(col(idCol) +: carry :+ TextAnalysis.tokens(col(textCol)).alias("__toks"): _*)
      .filter(size(col("__toks")) > 0)
      // exact integer ceil((n - chunkSize) / stride): no double rounding
      .withColumn("__nchunks", expr(
        s"1L + (greatest(0L, cast(size(__toks) as bigint) - ${chunkSize}L) " +
          s"+ ${stride - 1}L) div ${stride}L"))
      .select(col(idCol) +: carry :+ col("__toks") :+
        posexplode(expr(s"transform(sequence(0L, __nchunks - 1L), i -> i * ${stride}L)"))
          .as(Seq("chunk_id", "__start")): _*)
      .select(col(idCol) +: carry :+
        col("chunk_id").cast("long").alias("chunk_id") :+
        expr(s"array_join(slice(__toks, cast(__start + 1 as int), $chunkSize), ' ')")
          .alias("chunk_text") :+
        expr(s"cast(size(slice(__toks, cast(__start + 1 as int), $chunkSize)) as bigint)")
          .alias("n_chunk_tokens"): _*)
  }

  /** Char-offset context-window chunking: the byte-faithful sibling of
    * [[chunkDocuments]]. Token-window chunks rebuild their text with
    * `array_join(tokens, ' ')`, which collapses runs of whitespace — fine
    * when the consumer re-tokenizes, lossy when the original byte stream
    * matters (code, markup, whitespace-sensitive formats). This variant
    * slices the RAW text by character offset (`substring` windows of
    * `chunkSize` chars advancing by `stride`), so concatenating chunks at
    * stride offsets reproduces the document exactly.
    *
    * Same start-index law as the token variant (starts 0, stride, …; the
    * last window begins at the first multiple of stride covering the
    * tail) and the same wholly-narrow plan: zero shuffles at any size.
    */
  def chunkDocumentsChars(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    docs
      .select(col(idCol), col(textCol).alias("__txt"))
      .filter(length(col("__txt")) > 0)
      .withColumn("__nchunks", expr(
        s"1L + (greatest(0L, cast(length(__txt) as bigint) - ${chunkSize}L) " +
          s"+ ${stride - 1}L) div ${stride}L"))
      .select(col(idCol), col("__txt"),
        posexplode(expr(s"transform(sequence(0L, __nchunks - 1L), i -> i * ${stride}L)"))
          .as(Seq("chunk_id", "__start")))
      .select(
        col(idCol),
        col("chunk_id").cast("long").alias("chunk_id"),
        expr(s"substring(__txt, cast(__start + 1 as int), $chunkSize)")
          .alias("chunk_text"),
        expr(s"cast(length(substring(__txt, cast(__start + 1 as int), $chunkSize)) as bigint)")
          .alias("n_chunk_chars"))
  }

  /** The chunked end-to-end corpus pipeline — [[prepareCorpus]] with
    * context-window chunking in the middle, mirroring how a real pipeline
    * feeds a tokenizer: scrub → quality gate → exact dedup → CHUNK →
    * split → pack. The packing unit is the model-context-sized chunk, not
    * the whole document.
    *
    * Split assignment stays DOC-keyed (not chunk-keyed) on purpose:
    * overlapping windows of one document must never straddle train/val —
    * that would leak `chunkSize − stride` shared tokens across the split
    * boundary.
    *
    * Wide stages, same two as [[prepareCorpus]] (PlanSpec pins the count):
    * the dedup fingerprint groupBy and the packing window; scrub, gate,
    * chunking (per-row explode), and the hash split are all narrow.
    */
  def prepareCorpusChunked(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      chunkSize: Int = 32,
      stride: Int = 24,
      budget: Int = 512,
      textHash: Column => Column = c => xxhash64(c)): DataFrame = {
    val scrubbed = docs.select(
      col(idCol), col(langCol),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        LongNumRe, "<NUM>").alias("scrubbed"))
    val toks = TextAnalysis.tokens(col("scrubbed"))
    val gated = scrubbed
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .filter(col("n_tokens") >= minTokens && col("distinct_ratio") >= minDistinctRatio)
    // min_by keeper — same one-exchange, skew-safe dedup as
    // [[prepareCorpus]] (see the comment there); the chunker needs the
    // scrubbed text, so it rides the struct here (it would otherwise
    // cross the former join's exchange identically)
    val surviving = gated
      .withColumn("__fp", textHash(col("scrubbed")))
      .groupBy(col("__fp"))
      .agg(min_by(
        struct(col(idCol), col(langCol), col("scrubbed"), col("n_tokens"),
          col("distinct_ratio")),
        col(idCol)).alias("__r"))
      .select(col("__r.*"))
    val chunks = chunkDocuments(
      surviving, idCol, "scrubbed", chunkSize, stride, carryCols = Seq(langCol))
    // prune to the manifest columns BEFORE the packing (its measurement
    // materializes the input schema as-is; chunk text must not ride along)
    val split = splitByHash(chunks, idCol)
      .select(col(idCol), col("chunk_id"), col(langCol), col("split"),
        col("n_chunk_tokens"))
    groupedRunningSum(split, Seq("split", langCol), Seq(idCol, "chunk_id"),
      col("n_chunk_tokens"), "__cum")
      .withColumn("seq_id",
        floor((col("__cum") - col("n_chunk_tokens")) / lit(budget)).cast("long"))
      .select(col(idCol), col("chunk_id"), col(langCol), col("split"),
        col("n_chunk_tokens"), col("seq_id"))
  }

  /** Corpus bigram-LM familiarity: score each document by how typical its
    * bigrams are of the corpus itself — the shuffle-shaped core of
    * perplexity filtering with exact arithmetic instead of log-space
    * floats (bit-reproducible in any engine):
    *
    *  - `familiarity`  = Σ c(w1,w2) / Σ c(w1): corpus-conditional bigram
    *    mass — low values mean the doc's word transitions are rare given
    *    their contexts (boilerplate scores high, gibberish low);
    *  - `novelty_ratio` = fraction of the doc's bigram instances occurring
    *    exactly once corpus-wide (hapax transitions).
    *
    * Both ratios divide exact BIGINT sums as doubles.
    *
    * Scale shape (natural language is Zipfian — a raw token-keyed shuffle
    * join puts "the"/"of" contexts, double-digit percentages of all
    * instances, in single tasks):
    *
    *  1. ONE pass over the raw bigram instances: reduce to per-doc pair
    *    counts keyed by `(id, w1, w2)` — the doc id spreads hot tokens, so
    *    this only wide stage over corpus cardinality is skew-free, and it
    *    is persisted so the counts and the final join share it instead of
    *    recomputing the explode three times.
    *  2. The pair-count table carries BOTH corpus counts: `c12` by
    *    re-aggregation of the reduction, and the context count `c1` as a
    *    window sum over the pair table partitioned by `w1` — a hot
    *    context's window partition holds its DISTINCT-NEIGHBOR rows
    *    (bounded by vocabulary), never its Zipf-hot instances, so no
    *    second join family exists at all.
    *  3. The ONE remaining count join (per-doc reduction ⋈ enriched pair
    *    table) runs, BY DEFAULT, as a plain shuffle join whose build side
    *    is unique per (w1, w2): Zipf-hot probe partitions are exactly the
    *    shape AQE's skew-join subdivides at runtime (the probe splits,
    *    the 1-row build duplicates — measured working end-to-end in
    *    SCALE.md's SPJ skew section). Measured on the 300 k-doc Zipf
    *    corpus (the `bigram_skew` scenario): the plain join beats the round-5
    *    hot/cold broadcast split 10.7 s vs 14.9 s — after the single-join
    *    restructure, the split's broadcast/anti/union machinery costs
    *    more than the skew it insures against. The split is RETAINED
    *    behind `hotCount`/`hotTopK` for AQE-off deployments: pass a
    *    finite `hotCount` and the `hotTopK` most frequent pairs above it
    *    (top-K-capped — corpus-size-invariant broadcast) resolve via
    *    broadcast, everything else shuffle-joins with per-key probe rows
    *    bounded by max(hotCount, c(K-th pair)). Correctness never depends
    *    on the choice: hot ∪ cold is the full join for any setting
    *    (value-invariance is spec-pinned).
    */
  def bigramFamiliarity(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      hotCount: Long = Long.MaxValue,
      hotTopK: Int = 100000): DataFrame = {
    // (1) skew-free reduction: (id, w1, w2) → instance count n, folded
    // per row by the shared `word_pair_counts` codegen expression (one
    // implementation with pmiPairs) — the per-doc reduction happens inside
    // the scan, so the exchange this groupBy used to pay disappears.
    // Pinned (persist + eager materialize): the hot/cold branches and the
    // broadcast subplans launch concurrent stages over it — a lazy persist
    // lets them race and recompute the explode (see [[Pin]]).
    val perDoc = Pin(docs.select(col(idCol),
        explode(graft.functions.SketchArrayExpressions.wordPairCounts(
          TextAnalysis.tokens(col(textCol)))).alias("bg"))
      .select(col(idCol), col("bg.w1").alias("w1"), col("bg.w2").alias("w2"),
        col("bg.tf").alias("n")))
    // (2) pair counts enriched with their context count in ONE table: the
    // window partitions by w1 over pair rows (distinct neighbors, not
    // instances), so both counts ride the same (w1, w2) join below
    val wCtx = Window.partitionBy(col("w1"))
    val pairCounts = Pin(perDoc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).alias("c12"))
      .withColumn("c1", sum(col("c12")).over(wCtx)))
    // (3) the single count join. Default: plain shuffle join — AQE's
    // skew-join subdivides Zipf-hot probe partitions at runtime, and the
    // split machinery below measures SLOWER than this (the `bigram_skew` scenario).
    // With a finite hotCount: the top-K hot pairs resolve via a broadcast
    // inner join (TakeOrdered over the persisted counts — no full sort),
    // the rest (excluded by a broadcast anti on the same ≤ K-row set)
    // shuffle-join; the probe side is the persisted reduction, so the
    // branch scans are cache reads, not recomputes.
    val joined =
      if (hotCount == Long.MaxValue || hotTopK <= 0)
        perDoc.join(pairCounts, Seq("w1", "w2"))
      else {
        val hotPairs = pairCounts
          .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
          .limit(hotTopK)
          .filter(col("c12") >= hotCount)
        val coldPairs = pairCounts.join(
          broadcast(hotPairs.select(col("w1"), col("w2"))), Seq("w1", "w2"), "left_anti")
        perDoc.join(broadcast(hotPairs), Seq("w1", "w2")).unionByName(
          perDoc.join(broadcast(hotPairs.select(col("w1"), col("w2"))),
              Seq("w1", "w2"), "left_anti")
            .join(coldPairs, Seq("w1", "w2")))
      }
    joined
      .groupBy(col(idCol))
      .agg(
        sum(col("n")).alias("n_bigrams"),
        (sum(col("n") * col("c12")).cast("double") /
          sum(col("n") * col("c1")).cast("double")).alias("familiarity"),
        (sum(when(col("c12") === 1, col("n")).otherwise(0L)).cast("double") /
          sum(col("n")).cast("double")).alias("novelty_ratio"))
  }

  /** DSIR-shaped importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * every document by how target-like its hashed-unigram profile is, so a
    * raw corpus can be resampled toward a target domain. Features are
    * hashed token buckets `b(t) = hash(t) mod numBuckets`; the weight is
    * the frequency-ratio form
    * `weight = Σ_t (tgt[b(t)]+1) / Σ_t (raw[b(t)]+1)` over the document's
    * tokens (add-one smoothed) — exact BIGINT numerator and denominator,
    * one final double division, so any engine reproduces it bit-for-bit
    * (the log-likelihood form would accumulate doubles order-dependently).
    *
    * Scale shape: both count tables are bounded by `numBuckets` rows
    * (partial aggregation collapses the exploded tokens map-side, so the
    * count shuffles carry at most numBuckets rows per task) and the merged
    * weight table is broadcast — the corpus is never shuffled for scoring;
    * the only full shuffle is the per-doc sum on the id key. Zipf-hot
    * tokens cannot skew anything: they hash into a bucket whose count is
    * partial-aggregated before the exchange.
    *
    * Output: docs' id + `imp_num`, `imp_den` (exact sums), `weight`
    * (num/den; 1.0 for docs with no tokens — no evidence either way).
    */
  def importanceWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      numBuckets: Int = 1024,
      tokenHash: Column => Column = graft.ops.Dedup.xxHash): DataFrame = {
    def buckets(df: DataFrame, textC: Column, id: Seq[Column]): DataFrame =
      df.select(id :+ explode(transform(TextAnalysis.tokens(textC),
        t => pmod(tokenHash(t), lit(numBuckets.toLong)))).alias("__b"): _*)
    val tgtCounts = buckets(target, col(targetTextCol), Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).alias("__tgt"))
    val rawCounts = buckets(docs, col(textCol), Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).alias("__raw"))
    val weights = rawCounts.join(tgtCounts, Seq("__b"), "left")
      .select(col("__b"),
        (coalesce(col("__tgt"), lit(0L)) + 1L).alias("__tw"),
        (col("__raw") + 1L).alias("__rw"))
    val scored = buckets(docs, col(textCol), Seq(col(idCol).alias("__id")))
      .join(broadcast(weights), Seq("__b"))
      .groupBy(col("__id"))
      .agg(sum(col("__tw")).alias("imp_num"), sum(col("__rw")).alias("imp_den"))
    docs.select(col(idCol).alias("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").alias(idCol),
        coalesce(col("imp_num"), lit(0L)).alias("imp_num"),
        coalesce(col("imp_den"), lit(0L)).alias("imp_den"),
        when(col("imp_den").isNull || col("imp_den") === 0L, lit(1.0))
          .otherwise(col("imp_num").cast("double") / col("imp_den").cast("double"))
          .alias("weight"))
  }

  /** Deterministic uniform in (0,1) derived from an integer id: Knuth
    * multiplicative hash into 32 bits, then `(h + 0.5) / 2^32` — exact in
    * double (numerator and denominator are small integers), so every engine
    * computes the identical value. */
  private def unitUniform(idC: Column): Column =
    (pmod(idC.cast("long") * lit(2654435761L) + lit(97531L), lit(4294967296L))
      .cast("double") + lit(0.5)) / lit(4294967296.0)

  /** Weighted sample without replacement via priority sampling
    * (Duffield–Lund–Thorup, "Priority sampling for estimation of arbitrary
    * subset sums", JACM 2007): priority q_i = w_i / u_i with u_i uniform in
    * (0,1); the k highest-priority rows are the sample. Inclusion
    * probability ≈ min(1, w_i/τ) — weight-proportional for small weights.
    *
    * Chosen over the Efraimidis–Spirtes u^(1/w) key because q = w/u is ONE
    * correctly-rounded division of exactly-representable values —
    * bit-identical across engines — while pow/ln are libm-dependent.
    *
    * Scale: global top-k plans as TakeOrderedAndProject (per-partition
    * top-k, merge of k×partitions rows) — no global sort, no full shuffle.
    * Deterministic: u is hashed from the id, ties broken by id. */
  def prioritySample(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      k: Int): DataFrame = {
    val keyed = df
      .withColumn("weight", weightCol.cast("double"))
      .withColumn("priority", col("weight") / unitUniform(col(idCol)))
    val picked = keyed
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k)
    val w = BoundedWindow.orderBy(col("priority").desc, col(idCol).asc)
    picked // window runs over k already-limited rows, not the corpus
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col(idCol), col("weight"), col("priority"))
  }

  /** Per-stratum weighted sampling without replacement: [[prioritySample]]'s
    * priority key ranked WITHIN each `groupCol` value — k highest-priority
    * rows per stratum. The rank filter plans as WindowGroupLimit, so each
    * partition prunes to k rows per group before the exchange; the full
    * corpus never sorts globally. */
  def prioritySampleGrouped(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      groupCol: String,
      k: Int): DataFrame = {
    val keyed = df
      .withColumn("weight", weightCol.cast("double"))
      .withColumn("priority", col("weight") / unitUniform(col(idCol)))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("priority").desc, col(idCol).asc)
    keyed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol), col("weight"),
        col("priority"))
  }

  /** Deterministic global training-order shuffle: every row gets a unique
    * contiguous position `pos` (0-based) in hash-of-id order.
    *
    * The ungrouped case of [[groupedRunningSum]], a running count in
    * (hash, id) order, under its size rule:
    *  - input within one advisory partition: the running count is one
    *    sorted window in one task;
    *  - above it, the scalable global-enumeration pattern — NOT a
    *    single-partition window, which would serialize the corpus through
    *    one task: slice the rows by (hash, id) at sampled bounds, so
    *    slices are balanced, count rows per slice (one row per slice),
    *    prefix-sum those counts into per-slice offsets, and
    *    broadcast-join them back to the within-slice running count.
    *    Two passes over the data, every stage parallel — the same shape
    *    RDD `zipWithIndex` uses, expressed in DataFrame operators so
    *    pushdown and codegen survive. */
  def shuffleOrder(df: DataFrame, idCol: String): DataFrame = {
    // Small additive constant: keeps id*mult+add inside 63 bits for any id
    // the oracle engines see — bigint overflow WRAPS in Spark (ANSI off)
    // but ERRORS in DuckDB, so the hash must never overflow on either side.
    val hashed = df.withColumn("h",
      pmod(col(idCol).cast("long") * lit(2654435761L) + lit(40507L),
        lit(4294967296L)))
    groupedRunningSum(hashed, Nil, Seq("h", idCol), lit(1L), "__pos")
      .withColumn("pos", col("__pos") - 1)
      .drop("__pos")
  }
}
