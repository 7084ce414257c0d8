package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Persist AND eagerly materialize a multi-consumer reduction.
  *
  * A lazy `persist()` alone does not serialize its consumers: when the
  * downstream plan fans out (a self-join's two shuffle stages, a broadcast
  * subplan racing the main stage), Spark submits the consumer stages
  * concurrently, each finds the cache unpopulated, and each recomputes EVERY
  * partition of the supposedly-shared reduction — duplicate work plus cache
  * write contention ("Block rdd_N already exists" warnings). Measured on
  * this repo's bench: `text_source_overlap` swung 1.7–10.1 s across
  * identical runs at sf0.1 (the round-5 warm>cold inversion) purely from
  * this race.
  *
  * The fix is the standard one: force the reduction once (a `count()` — full
  * materialization, no driver-side result beyond the long) before handing
  * the cached frame to its consumers. At cluster scale this matters more,
  * not less: the racing recompute would duplicate a 100 TB-input stage.
  *
  * The cost is an eager action at DataFrame-BUILD time, which is why this is
  * applied only inside operators whose reduction is always consumed (their
  * result is meaningless without it), never at API boundaries.
  *
  * Both entry points plan under confs of their own in a clone of the
  * caller's session ([[Shims.withConf]]) and never write the caller's conf:
  * a query planned concurrently on the same session keeps its own plan.
  */
private[graft] object Pin {
  def apply(df: DataFrame): DataFrame = {
    // Cache WITH adaptive partitioning (r17): by default Spark compiles a
    // cached plan with AQE off (to keep the cache's output partitioning
    // stable), so a Pin'ed reduction materialized at the full initial
    // shuffle-partition count — and every consumer stage then ran that
    // many near-empty tasks over a pair-table-sized cache. Measured
    // signature (BENCH_r16 scaling): text_pmi / prep_bigram_lm /
    // text_kneser_ney ran ~2x FASTER at 8 cores than 32, purely from
    // fewer empty tasks. With the flag on in the session that plans the
    // cache, the cached plan coalesces by AQE's advisory bytes —
    // scale-adaptive, identical rows, and the cache partitioning tracks
    // data size instead of core count. Scoped HERE, not session-wide: an
    // un-Pin'ed persist like the LSH signature table (a no-shuffle narrow
    // chain — nothing to coalesce) measured ~10% SLOWER under the global
    // flag from the extra adaptive machinery per consumer.
    // A/B (sf0.1, best-of-tail): text_pmi 0.91 -> 0.79 s,
    // prep_bigram_lm 1.30 -> 1.16 s, text_kneser_ney 1.16 -> 0.70 s.
    // Spark's CacheManager turns automatic bucketed-scan selection off for
    // every cache, cloning the session once more unless it already is.
    Shims.withConf(df, SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING -> true,
        SQLConf.AUTO_BUCKETED_SCAN_ENABLED -> false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** `df` hash-partitioned on `keys` into `nParts` partitions, sorted on
    * `keys` within each, then `within` (a step that keeps that layout, such
    * as a window or a distinct on `keys`), lazily local-checkpointed. The
    * checkpoint's LogicalRDD reports `hashpartitioning(keys, nParts)` and
    * the `keys` ordering, so a join or aggregate on `keys` downstream
    * consumes it with no exchange and no sort. A `df` that already reports
    * that partitioning, such as an earlier result of this method, is not
    * shuffled again (Spark's planner drops such a repartition itself only
    * when `nParts > 1`).
    *
    * It is planned with AQE off because only a static plan reports its
    * layout: under AQE `localCheckpoint` captures the
    * AdaptiveSparkPlanExec's pre-finalization UnknownPartitioning, and
    * every consumer re-plans the exchange the layout was built to skip
    * (measured in r17 on the connected-components edge table; a cache
    * reports UnknownPartitioning under AQE as well). Under AQE `execute()`
    * would also run the shuffle eagerly — one more job — where the static
    * lazy checkpoint runs inside its first consumer's job. AQE has nothing
    * to adapt here: the plan is one fixed shuffle and a sort. */
  def clustered(df: DataFrame, keys: Seq[Column], nParts: Int,
      within: DataFrame => DataFrame = identity): DataFrame = {
    val in = Shims.withConf(df, SQLConf.ADAPTIVE_EXECUTION_ENABLED -> false)
    val reported = in.queryExecution.executedPlan.outputPartitioning
    val hashed =
      if (reported.satisfies(ClusteredDistribution(in.select(keys: _*)
          .queryExecution.analyzed.output, requiredNumPartitions = Some(nParts)))) in
      else in.repartition(nParts, keys: _*)
    val laidOut = within(hashed.sortWithinPartitions(keys: _*))
    Shims.onSession(laidOut.localCheckpoint(false), df.sparkSession)
  }
}
