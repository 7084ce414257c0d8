package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.BloomFunctions.{DefaultBits, DefaultHashes, bloomRow}

/** The stored state of the incremental training-data day, what
  * [[TrainPrep.incrementalFold]] reads so that the recurring work tracks
  * the day's batch, not the corpus (the one-stored-state shape of
  * incremental top-k maintenance, EDBT 2020):
  *
  *  - `gated`: the exact-dedup survivors' gated rows (id, lang, scrubbed,
  *    n_redactions, n_tokens, distinct_ratio, __fp);
  *  - `sigs`: their minhash signatures (mh_id, sig), which the band join
  *    re-uses instead of re-shingling the corpus;
  *  - `labels`: converged component labels (id, cluster_id) over every
  *    survivor, a singleton labelled with its own id;
  *  - `bloom`: optionally, the one-row fingerprint filter with its build
  *    parameters (bloom, num_bits, num_hashes), so the exact gate skips the
  *    history scan on the provably-new majority.
  *
  * Ids are longs. */
final case class CorpusState(
    gated: DataFrame, sigs: DataFrame, labels: DataFrame, bloom: Option[DataFrame]) {

  /** Writes each table as parquet under `dir/<name>`, the layout
    * [[CorpusState.read]] reads; a state without a bloom row writes no
    * `bloom` table. */
  def write(dir: String): Unit =
    (Seq("gated" -> gated, "sigs" -> sigs, "labels" -> labels) ++ bloom.map("bloom" -> _))
      .foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name") }
}

object CorpusState {

  /** One batch folded into a state: the batch's exact-dedup survivors
    * (gated rows), their signatures, and the labels over the state's ids
    * plus every survivor that pairs with something. */
  final case class Day(survivors: DataFrame, sigs: DataFrame, labels: DataFrame)

  /** The state over `history`: the lowest-id survivor per scrubbed-text
    * fingerprint (one `min_by` aggregate over the gated front), their
    * signatures, the labels of every survivor, and the bloom row over
    * their fingerprints. Survivors and signatures are lazy checkpoints:
    * the label run materializes both, and every consumer reads them once
    * computed. */
  def build(
      history: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenHash: Column => Column = Dedup.xxHash,
      textHash: Column => Column = c => xxhash64(c),
      maxIter: Int = 25): CorpusState = {
    val gated = keepers(TrainPrep.gatedWithFp(history, idCol, textCol, langCol,
      minTokens, minDistinctRatio, textHash), col(idCol)).localCheckpoint(false)
    val sigs = signatures(gated, idCol, k, numHashes, tokenHash).localCheckpoint(false)
    val pairs = Dedup.minhashLshFromSigs(sigs, numHashes, bands, minJaccard)
      .select("id_a", "id_b")
    CorpusState(gated, sigs,
      Dedup.labelEvery(gated.select(col(idCol).alias("id")), Dedup.clustersFast(pairs, maxIter)),
      Some(bloomRow(gated, xxhash64(col("__fp")))))
  }

  /** The state over zero documents. Its tables have the schemas that
    * [[build]] and [[fold]] produce, because they come from analysing the
    * same operators, and analysis runs no job. Zero rows form no
    * component, so the labels are every id labelling itself. Only the
    * bloom parameters reach the data (the one bloom row); the source text
    * column, the shingle size and the signature length change no output
    * schema, so the zero-row input names its text `__text` and the
    * signatures take any size. */
  def empty(
      spark: SparkSession,
      idCol: String,
      langCol: String,
      bloomBits: Int = DefaultBits,
      bloomHashes: Int = DefaultHashes): CorpusState = {
    val docs = spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Seq(
      StructField(idCol, LongType), StructField("__text", StringType),
      StructField(langCol, StringType))))
    val gated = keepers(TrainPrep.gatedWithFp(docs, idCol, "__text", langCol), col(idCol))
    CorpusState(gated, signatures(gated, idCol, 1, 1, Dedup.xxHash),
      gated.select(col(idCol).alias("id"), col(idCol).alias("cluster_id")),
      Some(bloomRow(gated, xxhash64(col("__fp")), bloomBits, bloomHashes)))
  }

  /** The state [[CorpusState.write]] left under `dir`, each table read with
    * the schema of [[empty]]'s: no parquet footer is opened to infer one,
    * so neither the read nor its planning runs a job. The bloom row is
    * `None` when `dir` holds no `bloom` table. */
  def read(spark: SparkSession, dir: String, idCol: String, langCol: String): CorpusState = {
    val e = empty(spark, idCol, langCol)
    def table(name: String, like: DataFrame) =
      spark.read.schema(like.schema).parquet(s"$dir/$name")
    val bloomDir = new Path(s"$dir/bloom")
    val hasBloom = bloomDir.getFileSystem(spark.sessionState.newHadoopConf()).exists(bloomDir)
    CorpusState(table("gated", e.gated), table("sigs", e.sigs), table("labels", e.labels),
      e.bloom.filter(_ => hasBloom).map(table("bloom", _)))
  }

  /** Folds `batch` into `state`: the batch gates narrowly, exact-dedups
    * through the bloom gate (first seen wins: a fingerprint the state holds
    * never re-enters), its band keys probe stored ∪ batch keys
    * ([[Dedup.minhashPairsAgainst]], batch-proportional), and its pairs
    * fold into the stored labels ([[Dedup.clustersIncremental]], rounds
    * bounded by the batch graph). */
  def fold(
      state: CorpusState,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 20,
      minDistinctRatio: Double = 0.5,
      minJaccard: Double = 0.5,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      bloomBits: Int = DefaultBits,
      bloomHashes: Int = DefaultHashes,
      tokenHash: Column => Column = Dedup.xxHash,
      textHash: Column => Column = c => xxhash64(c),
      maxIter: Int = 25): Day = {
    // The batch's narrow front (two regexp_replace + two regexp_count +
    // tokenize — the fold's dominant per-row cost) feeds BOTH the Bloom
    // gate's (fp, id) aggregate and the survivor join's probe side, so it
    // is materialized once. A lazy checkpoint: it is narrow over the batch
    // scan, whose size estimate is already right. Carrying the payload
    // through a min_by(struct) gate instead forced a sort aggregate and a
    // payload shuffle (4.6 → 6.4 s at sf0.1); balancing the batch before
    // the front (a repartition below one scan split) measured net-slower
    // (3.47 → 3.79 s median): the exchange of the batch text costs more
    // than the serialization it removes.
    val gb = TrainPrep.gatedWithFp(batch, idCol, textCol, langCol, minTokens,
      minDistinctRatio, textHash).localCheckpoint(false)
    // Measured (Pin.measured): the survivors cross the gate's aggregate and
    // joins, so a plain checkpoint would carry their multiplied size
    // estimate into the signature, pair and manifest joins below.
    val (survivors, _) = Pin.measured(gb.join(
      Dedup.incrementalBloom(state.gated, gb, Seq("__fp"), idCol, bloomBits, bloomHashes,
          precomputed = state.bloom)
        .select(col(idCol)), Seq(idCol)))
    // minhashPairsAgainst references the batch signatures three times (its
    // own band keys, the stored ∪ batch band keys and the scoring join's
    // signature lookup); checkpointed, the shingle chain runs once
    val sigs = signatures(survivors, idCol, k, numHashes, tokenHash).localCheckpoint(false)
    val pairs = Dedup.minhashPairsAgainst(sigs, state.sigs.unionByName(sigs),
        numHashes, bands, minJaccard)
      .select("id_a", "id_b")
    Day(survivors, sigs, Dedup.clustersIncremental(state.labels, pairs, maxIter))
  }

  /** The gated row with the least `order` per fingerprint, in one
    * partial-aggregated exchange (`order` is unique per row, so the min row
    * is the keeper). */
  private[ops] def keepers(gated: DataFrame, order: Column): DataFrame =
    gated.groupBy(col("__fp"))
      .agg(min_by(struct(gated.columns.map(col): _*), order).alias("__r"))
      .select(col("__r.*"))

  private def signatures(gated: DataFrame, idCol: String, k: Int, numHashes: Int,
      tokenHash: Column => Column): DataFrame =
    Dedup.minhashSignatures(gated.select(col(idCol), col("scrubbed")), idCol, "scrubbed",
      k, numHashes, tokenHash)
}
