package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Design for 100 TB:
  *  - exact dedup shuffles a *fingerprint*, never the full text, when the
  *    payload is wide (hash-groupBy on a 8-byte key vs TB of strings);
  *  - MinHash/LSH turns near-dup detection into an equi-join on band keys —
  *    Spark's shuffle does the candidate bucketing; no all-pairs O(n²);
  *  - all signatures are computed with deterministic integer arithmetic
  *    (no Random, no JVM hashCode) so results are reproducible across runs
  *    and engines.
  */
object Dedup {

  /** Production token hash: xxhash64 — fastest codegen'd 64-bit hash in
    * Spark. Injectable (see [[shingleHashRows]]) so the exact-oracle
    * harness can swap in [[polyHash]] without touching the pipeline shape. */
  val xxHash: Column => Column = c => xxhash64(c)

  /** Oracle token hash: the reproducible polynomial char fold (seed 31) —
    * any engine with string/ascii primitives replicates it bit-for-bit.
    * 30-bit range: fine at oracle scale, would collide at corpus scale —
    * production stays on [[xxHash]]. */
  val oracleHash: Column => Column = c => polyHash(c, 31L)

  // ── Exact dedup ─────────────────────────────────────────────────────────

  /** Keep the lowest-id row per distinct key column value (deterministic
    * representative — `dropDuplicates` keeps an arbitrary row, which is not
    * reproducible across runs/partitionings). */
  def exactByKey(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(min(col(idCol)).alias(idCol))

  /** Exact-dup groups report: rows per identical value of `keyCol`. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).alias("copies"), min(col(idCol)).alias("keeper"))

  // ── Shingles + MinHash ─────────────────────────────────────────────────

  /** Word k-shingles of a text column, as an array of strings. */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    // n-k+1 shingles; empty array when the doc has fewer than k tokens.
    val idxs = sequence(lit(0), greatest(size(toks) - lit(k), lit(-1)))
    transform(idxs, i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))
  }

  /** Exploded k-shingle hashes: one row per (doc, shingle-hash), WITHOUT
    * ever materializing shingle strings.
    *
    * Shape: hash each token once (inside the posexplode argument, so it is
    * evaluated once per doc), then combine each window of k token-hashes
    * with `lead()` over (doc, position) — wrapping 64-bit arithmetic,
    * deterministic. Hashing-equivalent to hashing the shingle string
    * (equal shingles ⇒ equal hash, collisions 2^-64-grade) and an order of
    * magnitude cheaper than string slice+concat shingling: only 8-byte
    * token hashes are shuffled/sorted, and downstream aggregations reuse
    * this exchange's (doc) partitioning — one shuffle total.
    *
    * `sh` is null for the last k-1 positions of each doc (incomplete
    * windows) and for docs with fewer than k tokens; null-ignoring
    * aggregates (min/collect_set) handle those for free.
    *
    * `tokenHash` defaults to the production [[xxHash]]; the correctness
    * harness injects [[oracleHash]] so the SAME pipeline (this window
    * shingling, the MinhashAgg reduction, the band join) runs under an
    * exact cross-engine oracle.
    */
  def shingleHashRows(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tokenHash: Column => Column = xxHash): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__pos").asc)
    val sh = (0 until k).map { j =>
      val h = if (j == 0) col("__th") else lead(col("__th"), j).over(w)
      h * lit(31L * (j * 2 + 1) + 7L)
    }.reduce(_ + _)
    docs.select(
        col(idCol).alias("__id"),
        posexplode_outer(transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t))))
      .toDF("__id", "__pos", "__th")
      .select(col("__id"), sh.alias("sh"))
  }

  /** Deterministic hash of a string: polynomial rolling hash in a
    * Mersenne-ish prime field. Pure integer arithmetic over character
    * codes — unlike xxhash64, any SQL engine replicates it exactly,
    * which is what makes the sketch pipelines oracle-checkable.
    *
    * r17 (§4): spelled as the native [[graft.functions.PolyHash]]
    * expression (one compiled code-point fold per row) instead of
    * `aggregate(filter(split(s, "")), ...)`, which materialized a
    * one-character string per character and ran two interpreted lambdas
    * per character — this hash runs per TOKEN in every oracle-gated
    * sketch query and per DOCUMENT in the prep_corpus fingerprint, the
    * hottest interpreted loop in the engine (PolyHashBench: 7.1× on the
    * fingerprint+token-hash shape). Bit-identical semantics pinned in
    * VectorExprSpec. */
  def polyHash(s: Column, mulSeed: Long): Column =
    graft.functions.SketchArrayExpressions.polyHash(s, mulSeed)

  /** MinHash signatures as a DataFrame: `(mh_id, sig: array<long>)`.
    *
    * Shape chosen for scale: explode shingle hashes (one pass over the
    * text, [[shingleHashRows]]), then reduce per doc with the custom
    * [[graft.functions.MinhashAgg]] TypedImperativeAggregate — one
    * primitive-array buffer per group, every permutation minimum updated
    * in a tight loop per row, partial aggregation map-side. The shuffle
    * carries `numHashes` longs per doc per partition, never the shingles.
    * (A per-row higher-order-function formulation re-evaluates the shingle
    * pipeline once per permutation — measured 40× slower at sf0.1.)
    *
    * Permutations are `h_i(x) = (a_i*x + b_i) mod p` with fixed LCG-derived
    * coefficients — deterministic, no RNG. Empty docs get sentinel `p`.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      tokenHash: Column => Column = xxHash): DataFrame =
    // A doc's signature never crosses row boundaries, so the whole stage is
    // one narrow per-row chain — tokens → hashes → window sums → permutation
    // minima ([[graft.functions.ShingleWindows]]/[[graft.functions.MinhashArray]],
    // compiled loops) — with NO exchange at all. The exploded
    // window+aggregate twin ([[shingleHashRows]] + [[graft.functions.MinhashAgg]])
    // computes identical values for pre-exploded inputs; swapping it in here
    // measured +1 shuffle of every token hash and an ObjectHashAggregate for
    // the same result (~2× wall-clock on the LSH pipeline at sf0.1).
    docs.select(
      col(idCol).alias("mh_id"),
      graft.functions.SketchArrayExpressions.minhashArray(
        graft.functions.SketchArrayExpressions.shingleWindows(
          transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t)), k),
        numHashes).alias("sig"))

  /** MinHash + LSH near-dup candidate pairs.
    *
    * signature → split into `bands` bands of `rowsPerBand` values → one
    * bucket key per (band, band-slice hash) → self-equi-join on bucket key.
    * The join IS the LSH: Spark shuffles docs into buckets and only
    * intra-bucket pairs are compared. Output: candidate (id_a, id_b) pairs
    * with their estimated Jaccard (fraction of agreeing signature slots).
    *
    * Note: the signature table is persisted for the duration of the query
    * (it feeds the band join and both scoring joins); in a long-lived
    * session, release it afterwards with `spark.catalog.clearCache()`.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5,
      tokenHash: Column => Column = xxHash): DataFrame = {
    // The signature table is referenced three times below (both sides of
    // the band join + the scoring join); persist it so the shingle
    // explode/aggregate pipeline runs once. It is tiny relative to the
    // corpus: numHashes longs per doc.
    val sig = minhashSignatures(docs, idCol, textCol, k, numHashes, tokenHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashLshFromSigs(sig, numHashes, bands, minJaccard)
  }

  /** (band, bucket) keys for a signature table — sig stays behind, only
    * the 8-byte bucket key + id travel into the band join. */
  private def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sig.select(
      col("mh_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(numHashes / bands) + lit(1),
          lit(numHashes / bands))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** [[minhashLsh]] from a PRECOMPUTED signature table (mh_id, sig) — what
    * an incremental pipeline stores instead of re-shingling its corpus
    * every day. */
  def minhashLshFromSigs(
      sig: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    val banded = bandKeys(sig, numHashes, bands)
    // candidate pairs first (dedup across bands BEFORE scoring, so each
    // pair's signature comparison happens exactly once)
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.mh_id") < col("b.mh_id"))
      .select(col("a.mh_id").alias("id_a"), col("b.mh_id").alias("id_b"))
      .distinct()
    scorePairs(cand, sig, numHashes, minJaccard)
  }

  /** The DAILY pair generation of an incremental near-dup pipeline: every
    * LSH candidate pair touching at least one NEW document — the band
    * join probes the batch's keys against the full key set (stored sigs ∪
    * batch sigs), so its cost scales with the BATCH's band keys, not the
    * corpus squared. `allSigs` must contain `newSigs`' rows. Identical to
    * filtering [[minhashLshFromSigs]](allSigs) down to pairs with a new
    * end (the replay spelling the oracle checks). */
  def minhashPairsAgainst(
      newSigs: DataFrame,
      allSigs: DataFrame,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    val bNew = bandKeys(newSigs, numHashes, bands)
    val bAll = bandKeys(allSigs, numHashes, bands)
    val cand = bNew.alias("a")
      .join(bAll.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.mh_id") =!= col("b.mh_id"))
      .select(
        least(col("a.mh_id"), col("b.mh_id")).alias("id_a"),
        greatest(col("a.mh_id"), col("b.mh_id")).alias("id_b"))
      .distinct()
    scorePairs(cand, allSigs, numHashes, minJaccard)
  }

  private def scorePairs(
      cand: DataFrame, sig: DataFrame, numHashes: Int,
      minJaccard: Double): DataFrame = {
    cand
      .join(sig.select(col("mh_id").alias("id_a"), col("sig").alias("sig_a")), "id_a")
      .join(sig.select(col("mh_id").alias("id_b"), col("sig").alias("sig_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        // codegen'd signature agreement — one compiled loop per candidate
        // pair vs two interpreted intermediate arrays for the zip_with
        // spelling (identical result; oracle pins it)
        (graft.functions.VectorFunctions.eqCount(col("sig_a"), col("sig_b"))
          .cast("double") / lit(numHashes.toDouble)).alias("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  // ── SimHash ────────────────────────────────────────────────────────────

  /** 64-bit SimHash per doc as a DataFrame `(sh_id, sim: long)`: per-token
    * xxhash64; for each bit position sum ±1 across tokens (duplicates
    * weighted); bit set where the sum is positive.
    *
    * Same scale shape as [[minhashSignatures]]: explode tokens, one groupBy
    * with 64 small sum aggregates — partial aggregation map-side, 64 longs
    * per doc on the shuffle. Empty docs hash to 0.
    */
  def simhashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tokenHash: Column => Column = xxHash): DataFrame =
    // narrow per-row fold, same rationale as [[minhashSignatures]] (the
    // tokens array has no null elements, so no xxhash64(null)=42 guard is
    // needed here — empty docs yield an empty array → simhash 0, matching
    // the aggregate twin's empty-group semantics)
    docs.select(
      col(idCol).alias("sh_id"),
      graft.functions.SketchArrayExpressions.simhashArray(
        transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t))).alias("sim"))

  /** SimHash near-dup candidates: docs whose 64-bit simhash differs in at
    * most `maxHamming` bits. Self-join blocked on the 4 16-bit quarters of
    * the hash (pigeonhole: ≤3 differing bits → at least one identical
    * quarter), so the join is an equi-join on the block key, not a cross
    * join — the same shuffle-bucketing trick as LSH, which is what makes
    * this runnable at 100 TB. */
  def simhashDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = xxHash): DataFrame = {
    hammingPairs(simhashes(docs, idCol, textCol, tokenHash), "sh_id", "sim", maxHamming)
  }

  /** All pairs of 64-bit hashes within `maxHamming` bits, via pigeonhole
    * blocking: split the hash into `maxHamming + 1` contiguous chunks — a
    * pair differing in ≤ maxHamming bits must agree on at least one whole
    * chunk (pigeonhole), so the candidate join is an EQUI-join on
    * (chunk index, chunk value) and is provably COMPLETE. Exact hamming
    * re-check after; no all-pairs comparison anywhere. Works for any
    * 64-bit content hash — text SimHash ([[simhashDups]]) and image
    * average-hash ([[Multimodal.imageNearDups]]) share this path. */
  def hammingPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(blocks >= 1 && blocks <= 64, s"maxHamming $maxHamming out of range")
    // both sides of the self-join read this frame: persist the 16-byte
    // (id, hash) rows so the upstream pipeline (sketch fold, or a DECODE
    // stage for image/audio fingerprints) runs once, not twice. Trade-off:
    // CacheManager holds the entry until the session unpersists it —
    // right for batch jobs (one dedup per session), while a long-lived
    // service running many corpora should clear caches between runs
    // (spark.catalog.clearCache), as the Bench harness does.
    val pinned = hashes.select(col(idCol), col(hashCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val width = 64 / blocks
    val chunks = (0 until blocks).map { q =>
      val lo = q * width
      val hi = if (q == blocks - 1) 64 else (q + 1) * width // last takes remainder
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      shiftright(col(hashCol), lo).bitwiseAND(lit(mask))
    }
    val blocked = pinned.select(
      col(idCol).alias("__hid"), col(hashCol).alias("__h"),
      posexplode(array(chunks: _*)))
      .withColumnRenamed("pos", "block")
      .withColumnRenamed("col", "blockkey")
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    val hamming = bit_count(col("a.__h").bitwiseXOR(col("b.__h"))).cast("long")
    a.join(b,
        col("a.block") === col("b.block") &&
        col("a.blockkey") === col("b.blockkey") &&
        col("a.__hid") < col("b.__hid"))
      .select(
        col("a.__hid").alias("id_a"),
        col("b.__hid").alias("id_b"),
        hamming.alias("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ── Near-dup clustering + corpus dedup ─────────────────────────────────

  /** Connected components over a near-dup pair table by min-label
    * propagation: every node's label becomes the smallest id reachable
    * within `maxIter` hops (converges in ≤ diameter iterations; near-dup
    * clusters are small, so a handful suffices — pass the observed max
    * cluster diameter, not a guess, when it matters).
    *
    * Each iteration is one shuffle (groupBy node); intermediate label
    * frames are localCheckpoint'd so the plan doesn't grow exponentially
    * with iterations — the standard Spark iterative-algorithm hygiene.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 5): DataFrame =
    clustersCounted(pairs, maxIter)._1

  /** The static symmetric edge table of the label-propagation loops,
    * checkpointed — and, when the graph is big enough that the per-round
    * `edges ⋈ labels(dst)` join will be SORT-MERGE, hash-partitioned +
    * sorted on the join key FIRST: LogicalRDD preserves partitioning and
    * ordering, so every iteration's SMJ reuses this one layout instead
    * of re-shuffling (and re-sorting) the biggest table in the loop once
    * per round. The regime is DERIVED, not assumed: the label table has
    * at most 2·|pairs| rows, so when its conservative broadcast-side
    * size (~32 B/row) is under `spark.sql.autoBroadcastJoinThreshold`
    * AQE will broadcast the labels and the layout would never be
    * consulted — the upfront exchange+sort is skipped (measured +0.15 s
    * of pure overhead per query at sf0.1). The pair count is read from
    * the already-checkpointed pair table, a near-free job it needed
    * before round one anyway. */
  private[graft] def edgeTable(p0: DataFrame): DataFrame = {
    val spark = p0.sparkSession
    val edgesRaw = p0.select(col("id_a").alias("src"), col("id_b").alias("dst"))
      .unionByName(p0.select(col("id_b").alias("src"), col("id_a").alias("dst")))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    // threshold <= 0 disables broadcast joins outright -> always SMJ
    val labelsBroadcastable =
      threshold > 0 && p0.count() * 2L * 32L <= threshold
    if (labelsBroadcastable) edgesRaw.localCheckpoint(false)
    // every round's sort-merge join then consumes the edge side with no
    // exchange and no sort (pinned in GraphSpec)
    else Pin.clustered(edgesRaw, Seq(col("dst")),
      spark.sessionState.conf.defaultNumShufflePartitions)
  }

  /** [[clusters]] plus the executed round count — the pure-propagation
    * baseline [[graft.GraphSkewBench]] measures pointer doubling against. */
  private[graft] def clustersCounted(
      pairs: DataFrame, maxIter: Int = 5): (DataFrame, Int) = {
    // pin the pair table FIRST: the symmetric union references it twice,
    // and an unpinned union evaluates the (possibly expensive — LSH) pair
    // pipeline once per branch at materialization
    val p0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    val edges = edgeTable(p0)
    // carry the prior round's checksum forward — re-aggregating the
    // previous label table every round would double the probe cost; the
    // checksum itself rides each checkpoint's materialization job
    // ([[checkpointWithChecksum]]), so no round pays a separate probe scan
    var (labels, lastSum) = checkpointWithChecksum(
      edges.select(col("src").alias("id")).distinct()
        .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").alias("id"))
        .agg(min(col("label")).alias("nbr_label"))
      val (next, nextSum) = checkpointWithChecksum(
        labels.join(propagated, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).alias("label")))
      converged = nextSum == lastSum
      lastSum = nextSum
      labels = next
      iter += 1
    }
    (labels.withColumnRenamed("label", "cluster_id"), iter)
  }

  /** Convergence probe for the label-propagation loops: per-node labels
    * are MONOTONICALLY NON-INCREASING (every update is a `least`), so the
    * label sum strictly decreases on any round that changed anything and
    * is invariant exactly at the fixpoint. Comparing sums replaces the
    * per-round convergence JOIN (a full label-table shuffle + isEmpty
    * action) with one partial-aggregated scan — measured ~30 % off
    * `q_connected_components`. DECIMAL(38) accumulation: sums of 1e9
    * node ids overflow int64, and a wrapped sum could alias two distinct
    * label states. */
  private[graft] def labelChecksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("label").cast("decimal(38,0)")))
      .collect()(0).getDecimal(0)

  /** [[labelChecksum]] fused into the round's checkpoint: the decimal
    * label sum rides the EAGER localCheckpoint's own materialization job
    * as an observed metric (CollectMetrics is a streaming pass-through,
    * and eager Dataset.checkpoint runs its count under withAction, which
    * publishes the metric when the materialization finishes) — the
    * convergence probe costs ZERO extra jobs instead of the standalone
    * checksum aggregate's exchange + final stage per round. The
    * checkpoint MUST be eager here: a lazy checkpoint's withAction fires
    * the observation listener at definition time with the empty default
    * row, latching a null metric forever (probed on the live engine —
    * old form 4 jobs/round, fused 3, identical sums). Same DECIMAL(38)
    * accumulation and null-on-empty semantics as [[labelChecksum]]
    * (pinned against it in OpsSpec, along with the no-extra-job
    * property). */
  private[graft] def checkpointWithChecksum(
      labels: DataFrame): (DataFrame, java.math.BigDecimal) = {
    val obs = new org.apache.spark.sql.Observation()
    val ck = labels
      .observe(obs, sum(col("label").cast("decimal(38,0)")).alias("labelSum"))
      .localCheckpoint(true)
    (ck, obs.get("labelSum").asInstanceOf[java.math.BigDecimal])
  }

  /** Connected components in O(log diameter) rounds: min-label propagation
    * WITH POINTER DOUBLING (shortcutting) — each round every node takes the
    * minimum of (its label, its neighbors' labels, its LABEL'S label). The
    * third term is the doubling step: the distance a label has travelled
    * doubles every round, so a path graph of diameter D converges in
    * ~log₂ D rounds where [[clusters]]' pure propagation needs D — the
    * difference between 17 rounds and 100 000 on a 100 k-node chain. Same
    * output as a converged [[clusters]]: every node labelled with the
    * smallest id in its component.
    *
    * Each round is two shuffles (the neighbor-min aggregate and the
    * label-table self-join) over the LABEL table — never more than one
    * row per node — plus one pass of the static edge list and one
    * partial-aggregated convergence scan ([[labelChecksum]]: label sums
    * are strictly decreasing until the fixpoint, so a scalar comparison
    * replaces a join).
    * Intermediate frames are localCheckpoint'd (the [[clusters]] /
    * [[graft.ops.Graph.pageRank]] iterative-lineage hygiene). This is the
    * default component engine for the dedup pipelines; near-dup clusters
    * have tiny diameters, but a boilerplate chain (doc A≈B, B≈C, …) is
    * exactly the adversarial shape crawl corpora produce.
    */
  def clustersFast(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    clustersFastCounted(pairs, maxIter)._1

  /** [[clustersFast]] plus the number of rounds the loop executed —
    * exposed so [[clustersIncremental]] can PROVE its round count is
    * bounded by the new batch's diameter, not the corpus's. */
  private[graft] def clustersFastCounted(
      pairs: DataFrame, maxIter: Int = 25,
      prePartition: Boolean = true): (DataFrame, Int) = {
    val p0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    val edges =
      if (prePartition) edgeTable(p0)
      else p0.select(col("id_a").alias("src"), col("id_b").alias("dst"))
        .unionByName(p0.select(col("id_b").alias("src"), col("id_a").alias("dst")))
        .localCheckpoint(false)
    // carry the prior round's checksum forward (see [[clusters]]); the
    // checksum rides each checkpoint's own job ([[checkpointWithChecksum]])
    var (labels, lastSum) = checkpointWithChecksum(
      edges.select(col("src").alias("id")).distinct()
        .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNbr = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").alias("id"))
        .agg(min(col("label")).alias("nbr_label"))
      val stepped = labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .alias("label"))
      // doubling: labels are always node ids, so label's label exists
      val (next, nextSum) = checkpointWithChecksum(
        stepped
          .join(stepped.select(col("id").alias("pid"), col("label").alias("plabel")),
            stepped("label") === col("pid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("plabel"), col("label")))
              .alias("label")))
      converged = nextSum == lastSum
      lastSum = nextSum
      labels = next
      iter += 1
    }
    (labels.withColumnRenamed("label", "cluster_id"), iter)
  }

  /** Incremental connected components: fold a batch of NEW pairs into
    * yesterday's converged labels without re-walking the history graph.
    *
    * `history` is `(id, cluster_id)` — a converged labelling where
    * `cluster_id` is the smallest id in the component (any prior
    * [[clustersFast]] / [[clustersIncremental]] output; singleton nodes
    * carry their own id). Because the labelling is converged, each history
    * component can be CONTRACTED to its representative: the new pairs'
    * endpoints are mapped through their labels (ids absent from history
    * pass through — they're new nodes), intra-cluster pairs vanish as
    * self-loops, and pointer doubling runs on that contracted batch graph
    * only. Representatives are component minima, so the contracted
    * component's minimum IS the merged component's true minimum — the
    * output equals a from-scratch [[clustersFast]] over the union graph
    * (history edges + new pairs) exactly, while rounds scale with the NEW
    * batch's contracted diameter, O(log D_batch). The history contributes
    * two label joins (shuffles sized by the BATCH, since the pair table
    * drives them) plus one relabel join over the label table — at 100 TB,
    * the daily cost of corpus-wide component maintenance becomes the
    * day's batch, not the corpus.
    *
    * Output covers every history id plus every id in `newPairs`.
    */
  def clustersIncremental(
      history: DataFrame, newPairs: DataFrame, maxIter: Int = 25): DataFrame =
    clustersIncrementalCounted(history, newPairs, maxIter)._1

  private[graft] def clustersIncrementalCounted(
      history: DataFrame, newPairs: DataFrame,
      maxIter: Int = 25): (DataFrame, Int) = {
    val h = history.select(col("id"), col("cluster_id"))
    val p0 = newPairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    // contract each endpoint to its history representative; new ids pass
    // through (they are their own contracted node)
    val byA = h.select(col("id").alias("id_a"), col("cluster_id").alias("__ra"))
    val byB = h.select(col("id").alias("id_b"), col("cluster_id").alias("__rb"))
    val contracted = p0
      .join(byA, Seq("id_a"), "left")
      .join(byB, Seq("id_b"), "left")
      .select(
        coalesce(col("__ra"), col("id_a")).alias("id_a"),
        coalesce(col("__rb"), col("id_b")).alias("id_b"))
      .filter(col("id_a") =!= col("id_b")) // intra-cluster edges contract away
    val (cl, rounds) = clustersFastCounted(contracted, maxIter,
      prePartition = false)
    // history members follow their representative's new label (unchanged
    // representatives are absent from `cl` — keep the old label)
    val rep = cl.select(
      col("id").alias("cluster_id"), col("cluster_id").alias("__relabel"))
    val hOut = h.join(rep, Seq("cluster_id"), "left")
      .select(col("id"),
        coalesce(col("__relabel"), col("cluster_id")).alias("cluster_id"))
    // batch-only nodes: labelled by the contracted run, or themselves if
    // every one of their pairs contracted to a self-loop
    val newNodes = p0.select(col("id_a").alias("id"))
      .unionByName(p0.select(col("id_b").alias("id")))
      .distinct()
      .join(h.select(col("id")), Seq("id"), "left_anti")
    val nOut = newNodes.join(cl, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).alias("cluster_id"))
    (hOut.unionByName(nOut), rounds)
  }

  /** End-to-end corpus dedup: MinHash-LSH near-dup pairs above
    * `minJaccard` → connected components → keep the lowest-id doc per
    * cluster. Docs in no near-dup pair survive untouched. Returns the
    * surviving rows of `docs`. */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenHash: Column => Column = xxHash,
      maxIter: Int = 5): DataFrame = {
    val pairs = minhashLsh(docs, idCol, textCol, k, numHashes, bands, minJaccard, tokenHash)
      .select("id_a", "id_b")
    val comp = clustersFast(pairs, maxIter)
    val drop = comp.filter(col("id") =!= col("cluster_id")).select(col("id"))
    docs.join(drop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Semantic corpus dedup: drop all but one document per cluster of
    * embedding-cosine near-duplicates — the model-space companion to the
    * lexical [[dedupCorpus]] (catches paraphrases and translations that
    * share no n-grams). Pairs come from the SRP-bucketed
    * [[Similarity.cosineNearDups]] (equi-join candidates, never
    * all-pairs), components from the same min-label propagation, keeper =
    * lowest id. Returns the surviving rows of `corpus`. */
  def dedupCorpusByEmbedding(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bits: Int = 6,
      tables: Int = 4,
      maxIter: Int = 8): DataFrame = {
    val pairs = Similarity
      .cosineNearDups(corpus, idCol, vecCol, dim, threshold, bits, tables)
      .select(col("id_a"), col("id_b"))
    val comp = clustersFast(pairs, maxIter)
    val drop = comp.filter(col("id") =!= col("cluster_id")).select(col("id"))
    corpus.join(drop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  // ── N-gram Jaccard ─────────────────────────────────────────────────────

  /** Exact n-gram Jaccard similarity for candidate pairs produced by an LSH
    * pass (or any (id_a, id_b) pair table). Joins the shingle sets back in
    * and computes |A∩B| / |A∪B| over distinct word k-shingles — compared
    * as 64-bit shingle hashes (set operations on longs, not strings; same
    * result modulo 2^-64 collisions). */
  def ngramJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tokenHash: Column => Column = xxHash): DataFrame = {
    // per-row distinct shingle-hash set — narrow, no explode/collect_set
    val sh = docs.select(
      col(idCol).alias("j_id"),
      array_distinct(graft.functions.SketchArrayExpressions.shingleWindows(
        transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t)), k)).alias("sh"))
    pairs
      .join(sh.select(col("j_id").alias("id_a"), col("sh").alias("sh_a")), "id_a")
      .join(sh.select(col("j_id").alias("id_b"), col("sh").alias("sh_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).alias("jaccard"))
  }

  /** Corpus-level mergeable MinHash: ONE signature per group (source,
    * shard, crawl …) via [[graft.functions.MinhashAgg]], then pairwise
    * estimated Jaccard between groups from signature-slot agreement — the
    * O(groups² · numHashes) overlap ESTIMATE that stands in for the exact
    * shared-n-gram join ([[graft.ops.TextAnalysis.sourceOverlap]]) when
    * all you need is leakage triage: at 100 TB the exact join moves every
    * distinct (group, hash) pair; this moves `numHashes` longs per group
    * per map partition (the aggregate is mergeable, partials combine
    * map-side), and group pairs compare in constant time.
    */
  def groupSketchOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      tokenHash: Column => Column = xxHash): DataFrame = {
    import graft.functions.SketchArrayExpressions.shingleWindows
    // pre-reduce the window hash mod p BEFORE the aggregate: the permuted
    // product then stays under 2^62 (no JVM-specific wrap), which is what
    // makes the signature engine-reproducible
    val sh = docs.select(col(groupCol),
      explode(transform(
        shingleWindows(
          transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t)), k),
        h => pmod(h, lit(2147483647L)))).alias("__sh"))
    val sigs = sh.groupBy(col(groupCol))
      .agg(graft.functions.SketchAggregates.minhashAgg(col("__sh"), numHashes)
        .alias("sig"))
    val a = sigs.select(col(groupCol).alias("source_a"), col("sig").alias("__sa"))
    val b = sigs.select(col(groupCol).alias("source_b"), col("sig").alias("__sb"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        graft.functions.VectorFunctions.eqCount(col("__sa"), col("__sb"))
          .cast("long").alias("eq_slots"))
      .withColumn("est_jaccard",
        col("eq_slots").cast("double") / lit(numHashes.toDouble))
  }

  /** Asymmetric n-gram containment for candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| (Broder's containment) — the near-dup signal when one text
    * CONTAINS the other (a quoted tweet inside an article), where Jaccard
    * stays low because the union is dominated by the longer side. Same
    * per-row distinct shingle-hash sets and join shape as [[ngramJaccard]];
    * docs with fewer than k tokens score 0 on their side. */
  def ngramContainment(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tokenHash: Column => Column = xxHash): DataFrame = {
    val sh = docs.select(
      col(idCol).alias("j_id"),
      array_distinct(graft.functions.SketchArrayExpressions.shingleWindows(
        transform(TextAnalysis.tokens(col(textCol)), t => tokenHash(t)), k)).alias("sh"))
    def contain(inter: Column, own: Column): Column =
      when(size(own) === 0, lit(0.0))
        .otherwise(inter / size(own).cast("double"))
    pairs
      .join(sh.select(col("j_id").alias("id_a"), col("sh").alias("sh_a")), "id_a")
      .join(sh.select(col("j_id").alias("id_b"), col("sh").alias("sh_b")), "id_b")
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        contain(col("__i"), col("sh_a")).alias("containment_a"),
        contain(col("__i"), col("sh_b")).alias("containment_b"))
  }

  /** Duplicated-span detection: for every k-token window, find windows
    * whose hash occurs in at least `minDocs` distinct documents, and report
    * per document how many of its window positions are corpus-duplicated —
    * the signal behind exact-substring deduplication (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499; there via suffix arrays, here as the Spark-shaped
    * hash-window equivalent over [[graft.functions.SketchArrayExpressions.shingleWindows]]).
    *
    * Scale shape: window hashes are computed narrow per row; every exchange
    * carries only (id, 8-byte hash) pairs, never text. The per-hash
    * document count runs on DISTINCT (doc, hash) first, so a boilerplate
    * span occurring millions of times inside one document contributes one
    * row per document to the hot key — the count aggregate is partial
    * (map-side) on top of that. The join back is a left-semi against the
    * deduplicated qualifying-hash set (one row per hash), so the probe side
    * streams and no hash key can skew the build.
    *
    * Output: one row per input doc — `n_spans` (windows in the doc),
    * `dup_spans` (windows whose hash is shared across >= minDocs docs),
    * `dup_frac` (their ratio; 0 for docs shorter than k tokens).
    */
  def spanDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDocs: Int = 2,
      tokenHash: Column => Column = xxHash): DataFrame = {
    import graft.functions.SketchArrayExpressions.shingleWindows
    def windows(textC: Column): Column =
      shingleWindows(transform(TextAnalysis.tokens(textC), t => tokenHash(t)), k)
    val grams = docs.select(col(idCol).alias("__id"),
      explode(windows(col(textCol))).alias("sh"))
    val shared = grams.distinct()
      .groupBy(col("sh")).agg(count(lit(1)).alias("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("sh"))
    val dup = grams.join(shared, Seq("sh"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).alias("dup_spans"))
    docs.select(col(idCol).alias("__id"),
        size(windows(col(textCol))).cast("long").alias("n_spans"))
      .join(dup, Seq("__id"), "left")
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_spans") === 0L, lit(0.0))
          .otherwise(col("dup_spans").cast("double") / col("n_spans").cast("double")))
      .withColumnRenamed("__id", idCol)
  }

  /** EXACT duplicate-span EXCISION (Lee et al., arXiv:2107.06499 — the
    * "deduplicating training data" substring pass): any `k`-token window
    * whose hash occurs MORE THAN ONCE in the corpus (across docs or
    * within one) keeps its FIRST occurrence (smallest (doc, pos)) and is
    * cut from every other; overlapping cut windows merge implicitly.
    * The complement to [[spanDups]], which only counts: this one rewrites
    * the text. Output per doc: original token count, tokens removed, and
    * the cleaned text (surviving tokens joined by single spaces —
    * tokenizer-normalized, like every token-level op here).
    *
    * Scale shape: windows come from the narrow
    * [[graft.functions.ShingleWindows]] expression (per-row loop, no
    * shuffle); the occurrence count + first-occurrence argmin is ONE
    * hash-keyed aggregate carrying (8-byte hash, id, pos) — never text;
    * the cut positions come back as one doc-keyed aggregation (positions
    * bounded by the doc's own length); and the excision itself is the
    * sorted-cuts two-pointer merge
    * ([[graft.functions.ExciseKeepIndices]] — O(len + cuts) per doc; a
    * `filter` × `exists` HOF spelling is O(len × cuts), quadratic on the
    * book-length dense-dup docs this pass exists for — measured in
    * SCALE.md §excise). The corpus text is scanned three
    * times, all narrow (the window pass feeding the span aggregate, the
    * window pass probing it, the rewrite) — re-scanning is deliberate:
    * materializing the (hash, id, pos) table to save a scan would
    * persist ~24 bytes per TOKEN, a corpus-sized intermediate.
    * PlanSpec pins the shape. */
  def exciseDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      tokenHash: Column => Column = xxHash): DataFrame = {
    import graft.functions.SketchArrayExpressions.shingleWindows
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol).alias("__id"), toks.alias("__toks"))
      .withColumn("__hs",
        shingleWindows(transform(col("__toks"), t => tokenHash(t)), k))
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
    val keptIdx = graft.functions.SketchArrayExpressions
      .exciseKeepIndices(size(col("__toks")), col("__xs"), k)
    joined.select(
      col("__id").alias(idCol),
      size(col("__toks")).cast("long").alias("n_tokens"),
      (size(col("__toks")) - size(keptIdx)).cast("long").alias("n_removed"),
      array_join(transform(keptIdx,
        i => element_at(col("__toks"), i + 1)), " ").alias("clean_text"))
  }

  /** [[dedupCorpus]] keeping the best-QUALITY member of every near-dup
    * cluster instead of the smallest id (ties → smaller id) — the
    * canonical-selection policy real cleaning pipelines want: when a
    * boilerplate family collapses, keep its longest / highest-scoring
    * representative, not whichever crawled first. `quality` is any
    * deterministic per-row Column over `docs`' columns (`length(text)`,
    * a [[graft.ops.TextAnalysis.qualityScore]] metric, a
    * `prep_quality_logit` score…).
    *
    * Scale shape: identical to [[dedupCorpus]] (LSH band joins, pointer-
    * doubling components) plus ONE cluster-keyed argmax — `max(struct)`
    * partial-aggregates map-side, so the exchange carries one candidate
    * row per (partition, cluster), and the winner list semi-joins back.
    * Ids are negated inside the struct so the tie-break is min-id under
    * max (ids ≥ 0 by the same convention the family's oracles assume). */
  def dedupCorpusCanonical(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      quality: Column,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenHash: Column => Column = xxHash,
      maxIter: Int = 5): DataFrame = {
    val pairs = minhashLsh(docs, idCol, textCol, k, numHashes, bands, minJaccard, tokenHash)
      .select("id_a", "id_b")
    val comp = clustersFast(pairs, maxIter)
    val labeled = docs
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("__cl", coalesce(col("cluster_id"), col(idCol)))
    val winners = labeled
      .groupBy(col("__cl"))
      .agg(max(struct(quality.alias("q"),
        (-col(idCol)).alias("nid"))).alias("best"))
      .select((-col("best.nid")).alias(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Edit-distance near-duplicate pairs with prefix+length blocking: report
    * every doc pair whose texts are within `maxDist` Levenshtein edits, the
    * character-exact complement to the token-set sketches (MinHash/SimHash
    * miss transpositions and near-miss typo dups inside shared shingles;
    * edit distance is the ground-truth metric typo-class dup detection is
    * judged by).
    *
    * All-pairs Levenshtein is O(n²·len²) — never. Candidates come from an
    * equi-join on a blocking key (`substring(text, 1, prefixLen)`,
    * `length(text) div lengthBucket`): near-identical texts agree on both
    * unless the edit falls in the first `prefixLen` chars (the standard
    * prefix-blocking recall trade-off, stated rather than hidden — raise
    * `prefixLen` for adversarial corpora, add a suffix-block pass for
    * belt-and-braces). The join shuffles (id, text-per-block) pairs; block
    * sizes are bounded by how many docs share a prefix AND a length bucket,
    * and the O(len²) DP runs only inside blocks, with Spark's thresholded
    * `levenshtein(l, r, maxDist)` bailing out at `maxDist` (band DP — cost
    * O(len·maxDist), not O(len²), per candidate).
    */
  def editDistanceDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 8,
      prefixLen: Int = 24,
      lengthBucket: Int = 16,
      blockCap: Int = 256): DataFrame = {
    val blocked = docs.select(
      substring(col(textCol), 1, prefixLen).alias("__pfx"),
      floor(length(col(textCol)) / lengthBucket).alias("__lb"),
      col(idCol), col(textCol))
    // Champion-list cap on block participation: pair fanout is quadratic
    // in block size, and real crawl corpora concentrate boilerplate-prefix
    // documents (license headers, templated pages) into single blocks —
    // unbounded, one hot block is O(n²) pairs that AQE can re-balance but
    // never shrink. Rank-within-block + filter plans as WindowGroupLimit
    // (each map task prunes to ≤ blockCap rows per block BEFORE the
    // exchange), so the worst block costs ≤ blockCap² candidate pairs.
    // Deterministic (lowest ids win, matching the lowest-id-survives
    // convention elsewhere in this file); recall inside a hot block
    // degrades gracefully and the cap is stated, like
    // [[graft.ops.TextAnalysis]]'s `maxPostings` champion lists.
    val capW = Window.partitionBy(col("__pfx"), col("__lb"))
      .orderBy(col(idCol).asc)
    val capped = blocked
      .withColumn("__brank", row_number().over(capW))
      .filter(col("__brank") <= blockCap)
      .drop("__brank")
    val a = capped.select(col("__pfx"), col("__lb"),
      col(idCol).alias("doc_a"), col(textCol).alias("__ta"))
    val b = capped.select(col("__pfx"), col("__lb"),
      col(idCol).alias("doc_b"), col(textCol).alias("__tb"))
    a.join(b, Seq("__pfx", "__lb"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_distance") >= 0L) // thresholded form returns -1 past maxDist
      .select(col("doc_a"), col("doc_b"), col("edit_distance"))
  }

  /** Incremental dedup — the daily-ingest shape: given an already-deduped
    * `history` and a new `batch`, return one surviving row per batch key
    * that history has never seen (lowest `idCol` wins inside the batch,
    * like [[exactByKey]]), with the batch's copy count. At 100 TB the point
    * is what does NOT move: history contributes only its DISTINCT keys
    * (fingerprints in practice — 8-byte columns, never payloads) to an
    * anti join, the batch — typically orders of magnitude smaller — is the
    * only side aggregated, and yesterday's corpus is never re-deduped. The
    * anti join is deliberately unhinted: AQE broadcasts the smaller side
    * from measured runtime size, and degrades to a shuffle anti join when
    * both sides are large ([[graft.ops.TrainPrep.decontaminate]]'s
    * posture).
    */
  def incremental(
      history: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      idCol: String): DataFrame = {
    val histKeys = history.select(keyCols.map(col): _*).distinct()
    batch.join(histKeys, keyCols, "left_anti")
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).alias(idCol), count(lit(1)).alias("n_batch_copies"))
  }

  /** [[incremental]] with a Bloom-filter pre-gate — SAME output, exactly
    * (asserted in OpsSpec under both negligible and adversarial
    * false-positive rates), different cost shape at scale.
    *
    * History's keys fold into one `bits/8`-byte bitset
    * ([[graft.functions.BloomAgg]] — OR-mergeable, so in production it is
    * MAINTAINED across days like the corpus itself rather than rebuilt:
    * yesterday's filter ORs with the new batch's), which broadcasts to the
    * aggregated batch. Bloom filters have no false negatives, so a miss
    * PROVES history never saw the key: those rows ship straight to the
    * output, and only the possibly-seen remainder — true dups plus the fp
    * rate — enters the exact anti join. On a fresh-content daily batch
    * (most keys genuinely new) the join's probe side shrinks from the
    * whole batch to its duplicate fraction, and with a persisted filter
    * the history table isn't even scanned for the majority path. False
    * positives only route rows to the slow exact path — correctness never
    * depends on the sketch.
    */
  def incrementalBloom(
      history: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      numBits: Int = graft.functions.BloomFunctions.DefaultBits,
      numHashes: Int = graft.functions.BloomFunctions.DefaultHashes,
      precomputed: Option[DataFrame] = None): DataFrame = {
    import graft.functions.BloomFunctions.{bloom_agg, bloom_might_contain}
    val kh = xxhash64(keyCols.map(col): _*)
    // `precomputed`: a persisted one-row (bloom: array<bigint>, num_bits:
    // int, num_hashes: int) frame — e.g. the table
    // [[graft.streaming.Streams.sinkWithBloomMaintenance]] maintains —
    // built over the history's xxhash64 key hashes. BOTH build parameters
    // ride with the bitset, and a mismatch is NOT a soft error: a filter
    // built at different numBits indexes the wrong bits, and one built
    // with different numHashes tests the wrong bit count — either way
    // probes yield FALSE NEGATIVES (dup rows skipping the exact join) —
    // so a mismatched filter fails the query loudly instead. With a
    // matching filter the history table isn't scanned to build the gate
    // at all.
    val words = numBits / 64
    val bloom = precomputed.map { pf =>
      require(
        pf.columns.contains("num_bits") && pf.columns.contains("num_hashes"),
        "incrementalBloom: precomputed filter must carry its build " +
          "parameters as (num_bits, num_hashes) columns next to the " +
          "bitset — without them a numHashes mismatch is unwitnessable " +
          "and probing would yield false negatives (missed duplicates)")
      pf.select(
        when(size(col("bloom")) === words &&
            col("num_bits") === numBits && col("num_hashes") === numHashes,
          col("bloom"))
          .otherwise(raise_error(format_string(
            "incrementalBloom: precomputed filter was built with " +
              "num_bits=%s, num_hashes=%s (%s 64-bit words) but the probe " +
              s"expects numBits=$numBits, numHashes=$numHashes ($words " +
              "words) — probing it would yield false negatives (missed " +
              "duplicates)",
            col("num_bits"), col("num_hashes"), size(col("bloom")))))
          .alias("__bloom"))
    }.getOrElse(history.agg(bloom_agg(kh, numBits, numHashes).alias("__bloom")))
    val gated = batch
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).alias(idCol), count(lit(1)).alias("n_batch_copies"))
      .crossJoin(broadcast(bloom))
      .withColumn("__maybe",
        bloom_might_contain(col("__bloom"), kh, numBits, numHashes))
      .drop("__bloom")
    val definitelyNew = gated.filter(!col("__maybe")).drop("__maybe")
    val histKeys = history.select(keyCols.map(col): _*).distinct()
    val checked = gated.filter(col("__maybe")).drop("__maybe")
      .join(histKeys, keyCols, "left_anti")
    definitelyNew.unionByName(checked)
  }

  /** Distributed suffix-array ranks by prefix doubling (Manber & Myers,
    * SODA 1990; the distributed spelling of Flick & Aluru, SC'15) over the
    * corpus's TOKEN stream: for every (doc, position), the global rank of
    * the token suffix starting there among all suffixes of all documents.
    * This is the index structure Lee et al. (arXiv:2107.06499 §4) build
    * their exact substring dedup on — adjacent ranks with long common
    * prefixes are the duplicated spans [[spanDups]]/[[exciseDuplicateSpans]]
    * find by fixed-k hashing; the suffix array answers it for EVERY k at
    * once, and equal ranks are exactly the suffixes duplicated verbatim.
    *
    * Round structure: ranks over 2^j-token prefixes refine to 2^(j+1) by
    * pairing each position's rank with the rank at `pos + 2^j` (0 past the
    * end — a proper prefix sorts before every extension, matching
    * lexicographic list order), so ⌈log₂(longest doc)⌉ rounds total, NOT
    * O(longest doc). Each round is three bounded shuffles: the (doc,pos)
    * self-join that aligns the shifted ranks (per-key fanout exactly 1 —
    * no skew at any corpus shape), a DISTINCT over rank pairs, and the
    * [[graft.ops.TrainPrep.groupedRunningSum]] range-sort enumeration that
    * assigns dense ranks to the distinct pairs — never a data-wide
    * single-partition window. Rounds exit early once all ranks are unique
    * (checked against the pinned distinct-pair count, one cached scalar).
    * Iterative lineage is localCheckpoint-truncated, the
    * [[clustersFast]]/PageRank hygiene.
    *
    * Output: (doc, 1-based pos, rank) with ranks dense over the whole
    * corpus — equal rank ⇔ byte-identical suffix.
    */
  def suffixRanks(
      docs: DataFrame, idCol: String, textCol: String,
      startWidth: Int = 8): DataFrame =
    suffixRankLevels(docs, idCol, textCol, startWidth)._1
      .select(col("__id").alias(idCol), col("pos"), col("r").alias("rank"))

  /** [[suffixRanks]] keeping every round's rank table: returns
    * `(final ranks, levels)` where `levels(j)` ranks `startWidth·2^j`-token
    * blocks — the level stack [[lcpStats]]'s descending-doubling LCP walk
    * consumes (all frames are localCheckpoint'd, columns `(__id, pos, r)`).
    *
    * `startWidth` (a power of two) is the Flick–Aluru initial-k-mer
    * optimization: round 0 ranks the first `startWidth` tokens of every
    * suffix directly (one enumeration ordered on the token-array slice —
    * array ordering is shorter-prefix-first, exactly the suffix sentinel
    * convention), so log₂(startWidth) doubling rounds never run. Natural
    * text is near-unique by 8 tokens, so `startWidth = 8` typically
    * converges in 1-2 doubling rounds instead of 4-5; each skipped round
    * is a global sort + two joins. [[lcpStats]] passes 1 because its LCP
    * walk needs every power-of-two level. */
  private[graft] def suffixRankLevels(
      docs: DataFrame, idCol: String, textCol: String, startWidth: Int = 1)
      : (DataFrame, Seq[DataFrame]) = {
    import graft.ops.{TrainPrep => TP}
    require(startWidth >= 1 && Integer.bitCount(startWidth) == 1,
      s"startWidth must be a power of two, got $startWidth")
    val toks = graft.ops.TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol).alias("__id"),
        posexplode(
          if (startWidth == 1) toks
          else transform(sequence(lit(1), size(toks)),
            p => slice(toks, p, lit(startWidth))))
          .as(Seq("__p0", "__tok")))
      .select(col("__id"), (col("__p0") + 1L).cast("long").alias("pos"),
        col("__tok"))
      .localCheckpoint(false)
    val nRows = base.count()
    val maxLen = base.groupBy(col("__id")).agg(count(lit(1)).alias("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    // round 0: dense ranks of startWidth-token blocks (single tokens →
    // vocabulary-sized; slices → suffix-prefix-sized)
    val tokRanks = TP.groupedRunningSum(
      base.select(col("__tok")).distinct(), Nil, Seq("__tok"), lit(1L), "r")
    var cur = base.join(tokRanks, Seq("__tok"))
      .select(col("__id"), col("pos"), col("r"))
      .localCheckpoint(false)
    val levels = scala.collection.mutable.ArrayBuffer(cur)
    var k = startWidth.toLong
    var converged = false
    // distinct-rank count of the PREVIOUS round: ranks refine
    // monotonically, so an unchanged count means no class split this
    // round — and a round with zero splits is a fixpoint (any class still
    // differing at offset δ implies the class shifted to δ−2^j differs
    // within 2^j+1 ≤ 2^{j+1} and would have split), so further rounds are
    // provably no-ops. `== nRows` (all unique) alone never fires on a
    // corpus with verbatim-duplicated suffixes — exactly the corpora this
    // operator exists for, since equal final ranks ARE those duplicates.
    var prevRanks = -1L
    while (k < maxLen && !converged) {
      val shifted = cur.select(col("__id"), (col("pos") - k).alias("pos"),
        col("r").alias("__r2"))
      val paired = cur.withColumnRenamed("r", "__r1")
        .join(shifted, Seq("__id", "pos"), "left")
        .select(col("__id"), col("pos"), col("__r1"),
          coalesce(col("__r2"), lit(0L)).alias("__r2"))
        .localCheckpoint(false)
      val keys = Pin(paired.select(col("__r1"), col("__r2")).distinct())
      val ranks = TP.groupedRunningSum(keys, Nil, Seq("__r1", "__r2"),
        lit(1L), "r")
      cur = paired.join(ranks, Seq("__r1", "__r2"))
        .select(col("__id"), col("pos"), col("r"))
        .localCheckpoint(false)
      levels += cur
      val nRanks = keys.count()
      converged = nRanks == nRows || nRanks == prevRanks
      prevRanks = nRanks
      keys.unpersist()
      k *= 2
    }
    (cur, levels.toSeq)
  }

  /** Suffix-array LCP statistics — the repeated-span report Lee et al.
    * (arXiv:2107.06499 §4) derive from the suffix array: one row per
    * DISTINCT suffix (= per dense rank), with its occurrence count (> 1 ⇔
    * that whole suffix is duplicated verbatim) and the longest common
    * prefix with the NEXT suffix in rank order, capped at `lcpCap` tokens.
    * `max(lcp_prev, lcp_next) ≥ k` is exactly "a duplicated k-token span
    * starts here" — the every-k-at-once generalization of the fixed-k
    * [[spanDups]].
    *
    * The LCP walk is the classic descending doubling over
    * [[suffixRankLevels]]' level stack: starting from `acc = 0`, for block
    * sizes 2^j from the largest level under the cap down to 1, if the two
    * suffixes' level-j ranks at offset `acc` agree (both present — a
    * missing position means one suffix ended, which can never extend a
    * common prefix), the prefix provably extends by 2^j. Each level is ONE
    * (doc,pos)-keyed join of the rank-class-representative pair table
    * (≤ one row per distinct suffix) against that level's rank table —
    * per-key fanout 1, log(cap) rounds, never a comparison of token
    * arrays.
    *
    * Output: `(rank, n_occurrences, doc, pos, lcp_next)` — `(doc, pos)`
    * is the rank class's smallest occurrence, `lcp_next` is 0 for the
    * highest rank. */
  def lcpStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lcpCap: Int = 32): DataFrame = {
    val (ranks, levels) = suffixRankLevels(docs, idCol, textCol)
    lcpClasses(ranks, levels, startWidth = 1, cap = lcpCap)
      .select(col("r").alias("rank"), col("n_occurrences"),
        col("doc_a").alias(idCol), col("pos_a").alias("pos"),
        col("acc").alias("lcp_next"))
  }

  /** The shared LCP core: one row per dense rank class —
    * `(r, n_occurrences, doc_a, pos_a, acc)` where `(doc_a, pos_a)` is
    * the class's smallest occurrence and `acc = min(lcp with the next
    * class in rank order, cap)`. The walk is the classic descending
    * doubling over [[suffixRankLevels]]' level stack, generalized to its
    * `startWidth`: `levels(j)` ranks `startWidth·2^j`-token blocks, so
    * each agreeing level extends the proven common prefix by that width.
    * `cap` must be reachable by the available widths (guaranteed when
    * `startWidth` divides it). */
  private def lcpClasses(
      ranks: DataFrame,
      levels: Seq[DataFrame],
      startWidth: Int,
      cap: Int): DataFrame = {
    // one representative (smallest (doc,pos)) + occurrence count per rank
    val classes = ranks
      .groupBy(col("r"))
      .agg(count(lit(1)).alias("n_occurrences"),
        min(struct(col("__id"), col("pos"))).alias("rep"))
      .select(col("r"), col("n_occurrences"),
        col("rep.__id").alias("doc_a"), col("rep.pos").alias("pos_a"))
      .localCheckpoint(false)
    // rank-adjacent pairs: class r against class r+1's representative
    var pairs = classes.join(
        classes.select((col("r") - 1L).alias("r"),
          col("doc_a").alias("doc_b"), col("pos_a").alias("pos_b")),
        Seq("r"), "left")
      .withColumn("acc", lit(0L))
      .localCheckpoint(false)
    // descending doubling under the cap, so the emitted value is exactly
    // least(true lcp, cap)
    val top = math.min(levels.size - 1,
      31 - Integer.numberOfLeadingZeros(math.max(1, cap / startWidth)))
    for (j <- top to 0 by -1) {
      val lvl = levels(j)
      val width = startWidth.toLong << j
      val ra = lvl.select(col("__id").alias("__da"), col("pos").alias("__pa"),
        col("r").alias("__ra"))
      val rb = lvl.select(col("__id").alias("__db"), col("pos").alias("__pb"),
        col("r").alias("__rb"))
      pairs = pairs
        .join(ra, col("doc_a") === col("__da") &&
          (col("pos_a") + col("acc")) === col("__pa"), "left")
        .join(rb, col("doc_b") === col("__db") &&
          (col("pos_b") + col("acc")) === col("__pb"), "left")
        .withColumn("acc",
          when(col("__ra").isNotNull && col("__rb").isNotNull &&
            col("__ra") === col("__rb") && col("acc") + width <= cap,
            col("acc") + width).otherwise(col("acc")))
        .drop("__da", "__pa", "__ra", "__db", "__pb", "__rb")
        .localCheckpoint(false)
    }
    pairs.select(col("r"), col("n_occurrences"),
      col("doc_a"), col("pos_a"), col("acc"))
  }

  /** [[exciseDuplicateSpans]] driven by the SUFFIX ARRAY instead of
    * fixed-k window hashes — Lee et al.'s (arXiv:2107.06499 §4) actual
    * construction: build the rank/LCP index ONCE, then derive any span
    * length's cut list from it. Two positions host the same k-token
    * window iff their suffixes share a k-prefix, i.e. they fall in the
    * same maximal RUN of rank-adjacent classes chained by
    * `lcp_next >= k` — so runs ARE the distinct duplicated windows, the
    * run's smallest (doc, pos) is the kept first occurrence, and every
    * other valid window start in the run is cut. Output and semantics
    * are bit-identical to the fixed-k path (same oracle); the win is
    * that ONE index answers every k (re-run this derivation per k), vs
    * one full hash pass per k.
    *
    * Scale shape: the index is [[suffixRankLevels]]' log-round bounded
    * shuffles (built with `startWidth` = the largest power of two
    * dividing k, so the LCP walk's widths can express exactly k); the
    * run assignment is one two-pass [[graft.ops.TrainPrep
    * .groupedRunningSum]] over the CLASS table in rank order; cuts and
    * the rewrite are the fixed-k path's own tail (one run-keyed
    * aggregate, the two-pointer excision). */
  def exciseDuplicateSpansSA(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"span length must be positive, got $k")
    val sw = Integer.highestOneBit(k & -k) // largest power of two dividing k
    val (ranks, levels) = suffixRankLevels(docs, idCol, textCol, sw)
    val cls = lcpClasses(ranks, levels, sw, cap = k).localCheckpoint(false)
    val base = docs.select(col(idCol).alias("__id"),
      TextAnalysis.tokens(col(textCol)).alias("__toks"))
    deriveSpanExcision(ranks, cls, base, idCol, k)
  }

  /** [[exciseDuplicateSpansSA]] for MANY span lengths off ONE index —
    * the amortization the suffix array exists for: the rank/LCP build
    * (the log-round shuffles, the expensive half) runs once with
    * `cap = max k` and a start width dividing every requested k, and
    * each k's cut list is just the per-k run derivation (one grouped
    * running count + one run-keyed aggregate — batch-bounded). The LCP
    * cap generalizes exactly: `acc = min(lcp, max k) ≥ k ⟺ lcp ≥ k`
    * for every k ≤ max k, so each returned frame is bit-identical to
    * the single-k path (spec-pinned). */
  def exciseDuplicateSpansSAMany(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ks: Seq[Int]): Map[Int, DataFrame] = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad span lengths: $ks")
    // the start width must divide EVERY k it serves (the LCP walk's
    // reachable lengths are its multiples): the smallest of the per-k
    // power-of-two divisors divides them all
    val sw = ks.map(k => Integer.highestOneBit(k & -k)).min
    val (ranks, levels) = suffixRankLevels(docs, idCol, textCol, sw)
    val cls = lcpClasses(ranks, levels, sw, cap = ks.max)
      .localCheckpoint(false)
    val base = docs.select(col(idCol).alias("__id"),
        TextAnalysis.tokens(col(textCol)).alias("__toks"))
      .localCheckpoint(false)
    ks.distinct.map(k =>
      k -> deriveSpanExcision(ranks, cls, base, idCol, k)).toMap
  }

  /** The derive-half shared by the single-k and many-k span excisions:
    * run assignment over the class table, cut list, two-pointer rewrite.
    * `cls`'s `acc` may be capped at any value ≥ k. */
  private def deriveSpanExcision(
      ranks: DataFrame,
      cls: DataFrame,
      base: DataFrame,
      idCol: String,
      k: Int): DataFrame = {
    import graft.ops.{TrainPrep => TP}
    // a class STARTS a new run when its predecessor does not k-extend
    // into it (lcp(prev, this) < k); run id = inclusive running count of
    // starts in rank order — rank-contiguity of equal k-prefixes makes
    // runs exactly the distinct duplicated windows
    val prevLcp = cls.select((col("r") + 1L).alias("r"),
      col("acc").alias("__plcp"))
    val brk = cls.join(prevLcp, Seq("r"), "left")
      .select(col("r"),
        when(coalesce(col("__plcp"), lit(0L)) >= k, 0L).otherwise(1L)
          .alias("__brk"))
    val runs = TP.groupedRunningSum(brk, Nil, Seq("r"), col("__brk"), "run")
      .select(col("r"), col("run"))
    val lens = base.select(col("__id"),
      size(col("__toks")).cast("long").alias("__len"))
    // only positions that can START a k-window count or get cut
    val valid = ranks.join(lens, Seq("__id"))
      .filter(col("pos") <= col("__len") - k + 1)
      .join(runs, Seq("r"))
    val dupRuns = valid.groupBy(col("run"))
      .agg(count(lit(1)).alias("__n"),
        min(struct(col("__id"), col("pos"))).alias("__keep"))
      .filter(col("__n") >= 2)
    val cuts = valid.join(dupRuns, Seq("run"))
      .filter(!(col("__keep.__id") === col("__id") &&
        col("__keep.pos") === col("pos")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_set((col("pos") - 1).cast("int")))
        .alias("__xs")) // ranks are 1-based; the excision is 0-based
    val joined = base.join(cuts, Seq("__id"), "left")
      .withColumn("__xs", coalesce(col("__xs"), array().cast("array<int>")))
    val keptIdx = graft.functions.SketchArrayExpressions
      .exciseKeepIndices(size(col("__toks")), col("__xs"), k)
    joined.select(
      col("__id").alias(idCol),
      size(col("__toks")).cast("long").alias("n_tokens"),
      (size(col("__toks")) - size(keptIdx)).cast("long").alias("n_removed"),
      array_join(transform(keptIdx,
        i => element_at(col("__toks"), i + 1)), " ").alias("clean_text"))
  }
}
