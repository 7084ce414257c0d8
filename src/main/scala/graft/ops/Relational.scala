package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators beyond the reference's surface: as-of join and
  * sessionization. Both are built on Spark's window machinery so they scale
  * with one shuffle on the partition key — no cross joins, no driver state.
  */
object Relational {

  /** Backward as-of join: for every left row, the single right row with the
    * greatest `rightTime <= leftTime` within the same `key` group.
    *
    * Implementation is the union-window trick, NOT an inequality join:
    * tag both inputs, sort each key group by (time, side) with right rows
    * first on ties, and carry the last-seen right time forward with
    * `last(..., ignoreNulls)`. One shuffle on `key`, linear per group —
    * at 100 TB this is the difference between a sort within partitions and
    * an O(n·m) broadcast-nested-loop inequality join.
    *
    * Returns the left rows plus `asof_time` (matched right time, null when
    * no right row precedes) — the caller re-joins right-side payload on
    * (key, asof_time) when needed, an equi-join.
    */
  def asofJoinTime(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTimeCol: String,
      rightTimeCol: String): DataFrame = {
    val leftCols = left.columns
    val l = left.withColumn("__side", lit(1))
      .withColumn("__t", col(leftTimeCol))
    val r = right.select(col(keyCol), col(rightTimeCol).alias("__t"))
      .withColumn("__side", lit(0))
    // align schemas: right side carries nulls for left payload columns
    val rAligned = leftCols.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select((leftCols.map(col) :+ col("__side") :+ col("__t")): _*)
    val unioned = l.select((leftCols.map(col) :+ col("__side") :+ col("__t")): _*)
      .unionByName(rAligned)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("asof_time",
        last(when(col("__side") === 0, col("__t")), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__t")
  }

  /** Gap-based sessionization: rows within `key` whose successive `timeCol`
    * values differ by more than `gap` start a new session. Returns input
    * plus a per-key `session_id` (1-based, ordered by time).
    *
    * Classic two-window construction (boundary flag → running sum), one
    * shuffle on `key`. The streaming analogue with identical semantics is
    * [[graft.streaming.Sessions]].
    */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String, tieCol: String, gap: Long): DataFrame = {
    val order = Window.partitionBy(col(keyCol)).orderBy(col(timeCol).asc, col(tieCol).asc)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(timeCol), 1).over(order))
      .withColumn("__new",
        when(col("__prev").isNull || col(timeCol) - col("__prev") > gap, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(running))
      .drop("__prev", "__new")
  }

  /** Salted broadcast-free join for skewed keys: the fact side spreads each
    * key over `nSalts` sub-keys (deterministic hash of a unique column, no
    * RNG), the dim side replicates each row `nSalts` times, and the join
    * runs on (key, salt). Shuffle partitions then hold ~1/nSalts of a hot
    * key's rows — the manual fallback when a dim is too big to broadcast
    * and AQE's skew splitting can't kick in (e.g. non-sort-merge plans).
    * Result is row-identical to the plain join. */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      factUniqueCol: String,
      nSalts: Int): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(col(factUniqueCol)), lit(nSalts)).cast("int"))
    val expanded = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(expanded, Seq(key, "__salt")).drop("__salt")
  }

  /** Scale-shaped range (interval-containment) join: every (point, interval)
    * pair with `lo <= point <= hi`.
    *
    * Spark plans a raw `BETWEEN` join as a broadcast-nested-loop — O(n·m)
    * and a non-starter at scale. This formulation bins the number line:
    * points land in one bin, intervals explode into every bin they cover,
    * and the join becomes an EQUI-join on the bin id with an exact
    * containment filter after. Completeness: a containing interval covers
    * the point's bin by construction. Cost: interval replication =
    * span/binWidth rows — pick `binWidth` near the median interval width
    * so replication stays O(1) per interval while bins stay selective.
    */
  def rangeJoin(
      points: DataFrame,
      pointCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      binWidth: Double): DataFrame = {
    val p = points.withColumn("__bin",
      floor(col(pointCol) / lit(binWidth)).cast("long"))
    val i = intervals.withColumn("__bin",
      explode(sequence(
        floor(col(loCol) / lit(binWidth)).cast("long"),
        floor(col(hiCol) / lit(binWidth)).cast("long"))))
    p.join(i, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bin")
  }

  /** SCD Type-2 merge: apply a batch of timestamped attribute updates to a
    * dimension history table, closing changed rows and opening new ones.
    *
    * `history` rows: `keyCol, attrCols..., valid_from, valid_to,
    * is_current` (open rows have null `valid_to`). `updates` rows:
    * `keyCol, attrCols..., tsCol, tieCol` — multiple updates per key per
    * batch are applied in `(ts, tie)` order; consecutive updates with
    * unchanged attributes are no-ops (no spurious versions). Updates are
    * assumed to be at-or-after the open row's `valid_from` (the daily-batch
    * contract; late data belongs in a reprocessing run).
    *
    * Construction: union the open rows (as the key's initial state) with
    * the updates, change-detect against the previous state with `lag` over
    * `(ts, side, tie)`, then stitch validity ranges with `lead`. Both
    * windows share one partitioning and ordering, so the whole merge is a
    * single shuffle on `keyCol` plus one sort — no joins, no per-key
    * driver work; closed history unions back untouched. At 100 TB the
    * update batch is tiny next to the history, and only the history's OPEN
    * rows (one per key) enter the window.
    */
  def scd2Merge(
      history: DataFrame,
      updates: DataFrame,
      keyCol: String,
      attrCols: Seq[String],
      tsCol: String,
      tieCol: String): DataFrame = {
    val closed = history.filter(!col("is_current"))
    val open = history.filter(col("is_current"))
    val pseudo = open.select(
      (col(keyCol) +: attrCols.map(col) :+
        col("valid_from").alias("__ts")): _*)
      .withColumn("__side", lit(0)).withColumn("__tie", lit(0L))
    val upd = updates.select(
      (col(keyCol) +: attrCols.map(col) :+
        col(tsCol).alias("__ts") :+ col(tieCol).cast("long").alias("__tie")): _*)
      .withColumn("__side", lit(1))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
    val state = struct(attrCols.map(col): _*)
    val stitched = pseudo.unionByName(upd)
      .withColumn("__prev", lag(state, 1).over(ord))
      // drop no-op updates: equal to the immediately preceding state ⇒
      // equal to the last KEPT state (equal-state runs collapse to their
      // first row), so lag-filtering is exact change detection
      .filter(col("__prev").isNull || !(state <=> col("__prev")))
      .withColumn("valid_from", col("__ts"))
      .withColumn("valid_to", lead(col("__ts"), 1).over(ord))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__prev", "__ts", "__side", "__tie")
    val outCols = (keyCol +: attrCols) ++ Seq("valid_from", "valid_to", "is_current")
    closed.select(outCols.map(col): _*)
      .unionByName(stitched.select(outCols.map(col): _*))
  }

  /** Time-series resampling with forward fill: snap each observation to a
    * fixed `period` (integer division of the long time column — exact,
    * no double rounding at nanosecond magnitudes), keep the LAST
    * observation per (key, period) (ties broken by `tieCol`), expand each
    * key to its full min..max period grid, and carry the last observed
    * value forward into the gaps — the gap-fill step between raw events
    * and any windowed feature/metric computation.
    *
    * Scale shape: everything partitions by the key — the last-observation
    * window, the span aggregate, the grid join, and the fill window reuse
    * the same key-hash exchange family; the grid explode is narrow and
    * bounded by each key's own span, never a global cross product. Values
    * pass through untouched (no arithmetic), so results hash-match any
    * engine.
    *
    * Output: (key, period, value forward-filled, is_observed).
    */
  def resampleFill(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      tieCol: String,
      valueCol: String,
      period: Long): DataFrame = {
    val snapped = df.select(col(keyCol), col(timeCol), col(tieCol),
      col(valueCol), expr(s"`$timeCol` div ${period}L").alias("period"))
    val wLast = Window.partitionBy(col(keyCol), col("period"))
      .orderBy(col(timeCol).desc, col(tieCol).desc)
    val rep = snapped
      .withColumn("__rn", row_number().over(wLast))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("period"), col(valueCol))
    val grid = snapped.groupBy(col(keyCol))
      .agg(min(col("period")).alias("__mn"), max(col("period")).alias("__mx"))
      .select(col(keyCol), explode(sequence(col("__mn"), col("__mx"))).alias("period"))
    val wFill = Window.partitionBy(col(keyCol)).orderBy(col("period").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(rep, Seq(keyCol, "period"), "left")
      .withColumn("is_observed", col(valueCol).isNotNull)
      .withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(wFill))
  }

  /** MERGE-INTO snapshot maintenance (SCD2's current-state sibling): apply
    * a CDC changelog of upserts and deletes to a base snapshot and return
    * the new snapshot. Latest change per key wins (by `seqCol`; `seqCol`
    * must be unique per key, the standard CDC ordering contract — base
    * rows rank below every change); `delete` ops drop the key.
    *
    * ONE shuffle on the key (union + per-key window), no join — at
    * cluster scale the exchange is the cost, and this plan moves each row
    * once where the join-per-op alternative (anti join deletes +
    * full-outer upserts) moves snapshot-sized inputs twice. All three
    * candidate shapes are measured head-to-head in the `maintenance` scenario
    * (SCALE.md): the window form also wins locally over a `max_by` hash
    * aggregate, whose struct buffer forces ObjectHashAggregate (2.4×
    * slower measured) — a declarative-looking "optimization" the
    * measurement rejected.
    */
  def mergeUpsert(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      seqCol: String,
      opCol: String): DataFrame = {
    val dataCols = base.columns.toSeq
    val baseSide = base
      .withColumn("__seq", lit(Long.MinValue))
      .withColumn("__op", lit("upsert"))
    val changeSide = changes.select(
      (dataCols.map(col) :+ col(seqCol).cast("long").alias("__seq")
        :+ col(opCol).alias("__op")): _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__seq").desc)
    baseSide.unionByName(changeSide)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") =!= "delete")
      .select(dataCols.map(col): _*)
  }

  /** Top-N per group by a ranking column, fully deterministic (ties broken
    * by `tieCol`). row_number + filter — Spark pushes the rank limit into
    * the sort within each partition group. */
  def topNPerGroup(
      df: DataFrame,
      groupCol: String,
      rankExpr: Column,
      tieCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(rankExpr, col(tieCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }
}
