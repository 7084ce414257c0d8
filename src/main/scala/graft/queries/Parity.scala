package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

/** SURVEY.md §2.6's declared query inventory, parameterized over the driver
  * testdata (TESTDATA.md). Each query here has a matching DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]] and is hash-compared by the driver at
  * sf0.01.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - money/measure doubles are 2-decimal values; aggregate them as
  *    DECIMAL(18,2) (exact) and cast the final result to DOUBLE — identical
  *    bits in both engines regardless of partial-aggregation order;
  *  - every query ORDER BYs a key column — cheap at these result sizes and
  *    immune to any order-sensitivity in the comparator;
  *  - no raw TIMESTAMP columns in outputs (events.ts has shipped as both
  *    parquet NANOS and MICROS-NTZ, which the two engines surface
  *    differently — [[eventsUs]] normalizes to epoch-micros BIGINT);
  *    dates are compared as DATE.
  *
  * Scale notes are on each query — the plan shapes here (partial agg before
  * shuffle, broadcast dims, pushed filters) are the ones that survive 100 TB.
  */
object Parity {

  /** The one reader of a testdata table: the exact file scan, under the
    * schema [[graft.sources.Tables.schemas]] declares, so reading and
    * planning run no job and write no session conf. The session is
    * expected to be tuned already ([[graft.Engine.tune]], where it was built or
    * adopted). `events` alone is read with its footer's schema, resolved
    * on the driver ([[Shims.parquetSchema]]): its `ts` has shipped in two
    * parquet shapes, which [[eventsUs]] tells apart. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    graft.sources.Tables.schemas.get(name)
      .fold(spark.read.schema(Shims.parquetSchema(spark, path)))(spark.read.schema(_))
      .parquet(path)
  }

  /** [[t]] plus the input-skew guard of optimization guide §2.5 ("one
    * huge unsplittable file"): the driver's testdata ships each table as
    * ONE parquet file with ONE row group, so a scan is a single task no
    * matter the core count and every narrow per-row stage (tf scoring,
    * hash-embedding, byte decoding) serializes on one core of local[32].
    * When the file layout cannot reach the session's parallelism — total
    * input below one scan split (`spark.sql.files.maxPartitionBytes`) —
    * round-robin repartition right after the read so the narrow front
    * runs wide.
    *
    * OPT-IN per query, not the default read: the exchange pays off only
    * where serial narrow work dominates the plan's first stage — measured
    * per query (r16 A/B sweep, OPTIMIZATION_r16.md). Queries whose first
    * exchange arrives early anyway (partial-aggregated explodes, joins)
    * measured NET-SLOWER balanced — the repartition also resets the
    * relation's size estimate, which can flip downstream broadcast
    * decisions — so [[t]] stays the exact scan and the winners name
    * [[tWide]] explicitly.
    *
    * Scale-adaptive by DERIVATION, not a tuned constant: any input that
    * splits naturally (≥ one split of bytes) skips the exchange entirely,
    * so cluster-scale scans are untouched; inputs under 256 KiB stay
    * serial too (below that the exchange costs more than the few
    * milliseconds of single-core work it parallelizes — and the sf0.001
    * plan-shape pins stay meaningfully narrow). */
  def tWide(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = t(spark, sfDir, name)
    val bytes = inputBytes(new java.io.File(s"$sfDir/$name.parquet"))
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes >= 256L * 1024 && bytes < maxSplit)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  private def inputBytes(f: java.io.File): Long =
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children == null) 0L else children.map(inputBytes).sum
    } else f.length()

  /** Exact 2-decimal aggregation helper: DECIMAL(18,2) sum cast back to
    * DOUBLE — bit-identical across engines and partition orders. */
  private def dsum(c: String) = sum(col(c).cast("decimal(18,2)")).cast("double")

  /** `events` with `ts` normalized to exact epoch-MICROSECONDS BIGINT —
    * the unit every events-time oracle uses (DuckDB `epoch_us(ts)`).
    *
    * The driver's testdata has shipped `ts` in two parquet shapes across
    * generations, and this helper accepts both:
    *  - TIMESTAMP(NANOS): Spark can't represent nanos, so under
    *    `spark.sql.legacy.parquet.nanosAsLong` (set in [[graft.Engine.tune]]) it
    *    surfaces as plain LongType of nanos → `div 1000` is exact micros;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ → cast to the pinned-UTC session's TIMESTAMP and
    *    take `unix_micros` (the NTZ wall-clock IS the UTC instant, same
    *    value DuckDB's `epoch_us` computes on the naive timestamp);
    *  - TIMESTAMP(MICROS, adjusted): plain `unix_micros`.
    * A one-column projection on top of the scan — stays inside whole-stage
    * codegen, column pruning unaffected. */
  def eventsUs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val e = t(spark, sfDir, "events")
    val us = e.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType    => unix_micros(col("ts"))
      case dt => throw new IllegalStateException(
        s"events.ts: unsupported parquet-surfaced type $dt (expected " +
          "LongType nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
    e.withColumn("ts", us)
  }

  // ── Q-bronze: wrap a raw JSON-string column with a run-date partition key
  //    (reference: breweries_bronze_processors.py:139-146). Narrow, no
  //    shuffle; at 100 TB this is a pure map stage.
  def bronzeWrap(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .orderBy("event_id")
      .select(
        col("props").alias("raw_json"),
        lit(java.sql.Date.valueOf("2024-01-15")).alias("extraction_date"))

  // ── Q-silver-extract: JSON path extraction + cast, null-tolerant
  //    (reference: breweries_silver_processors.py:35-49). get_json_object is
  //    codegen'd; missing path / bad cast → null (ANSI off).
  def silverExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").alias("k_str"),
        get_json_object(col("props"), "$.k").cast("double").alias("k_num"),
        col("event_type"))
      .orderBy("event_id")

  // ── Q-silver-clean: trim/lower/upper/regexp_replace normalization + the
  //    not-null validity filter (reference: silver:52-67).
  def silverClean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_name").isNotNull)
      .select(
        col("c_custkey"),
        upper(trim(col("c_name"))).alias("name_up"),
        lower(trim(col("c_mktsegment"))).alias("segment_lo"),
        regexp_replace(col("c_name"), "[^0-9]", "").alias("name_digits"))
      .orderBy("c_custkey")

  // ── Q-gold-agg: multi-key grouped aggregate with count(*) and exact
  //    distinct count (reference: breweries_gold_processors.py:28-45).
  //    countDistinct expands to a two-phase aggregate with bounded state —
  //    the scalable replacement for the reference's collect_set (SURVEY
  //    §7.4-1). Partial aggregation runs map-side before the 2-key shuffle.
  def goldAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).alias("row_count"),
        countDistinct(col("l_orderkey")).alias("unique_orders"))
      .orderBy("l_returnflag", "l_linestatus")

  // ── Q-gold-agg over orders: 2-key group with an exact money sum.
  def goldAggOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("order_count"),
        countDistinct(col("o_custkey")).alias("unique_customers"),
        dsum("o_totalprice").alias("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  // ── TPC-H Q1-shaped pricing summary: the classic scan-heavy aggregate.
  //    Filter pushes to the parquet scan; all arithmetic exact decimal.
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val qty = col("l_quantity").cast("decimal(18,2)")
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val tax = col("l_tax").cast("decimal(18,2)")
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").alias("sum_qty"),
        sum(price).cast("double").alias("sum_base_price"),
        sum(price * (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - disc)).cast("double").alias("sum_disc_price"),
        sum(price * (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") - disc) * (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") + tax)).cast("double").alias("sum_charge"),
        count(lit(1)).alias("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ── Q-total: global aggregate (reference: gold:55).
  def totalQuantity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(dsum("l_quantity").alias("total_qty"))

  // ── Q-slice: compound boolean predicate slice (reference tests P4).
  //    Both predicates push to the parquet scan (PushedFilters).
  def slice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 1000.0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")

  // ── Date-partition-style pruning filter (reference P1): predicate on the
  //    date column reaches the scan; on a date-partitioned lakehouse table
  //    this is partition pruning.
  def dateFilterAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("order_count"))
      .orderBy("o_orderstatus")

  // ── Window functions (absent from the reference — §2.5 — but part of a
  //    complete engine surface). All deterministic: ties broken by key.
  def windowTopN(s: SparkSession, dir: String): DataFrame =
    graft.ops.Relational.topNPerGroup(
        t(s, dir, "orders"), "o_orderpriority", col("o_totalprice").desc, "o_orderkey", 3)
      .select(col("o_orderpriority"), col("rn").cast("long").alias("rn"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderpriority", "rn")

  def windowRunningTotal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
          .cast("double").alias("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def windowLag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).alias("prev_value"),
        (col("value") - lag(col("value"), 1).over(w)).alias("delta"))
      .orderBy("user_id", "event_id")
  }

  // ── As-of join: latest 'view' event at-or-before each 'purchase' per
  //    user (union-window implementation — one shuffle, no inequality join).
  def asofPurchaseView(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"))
    graft.ops.Relational.asofJoinTime(purchases, views, "user_id", "event_id", "event_id")
      .withColumnRenamed("asof_time", "matched_view_event")
      .orderBy("user_id", "event_id")
  }

  // ── Gap sessionization over the event stream (12 h inactivity gap),
  //    compared on exact integer microseconds.
  def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val e = eventsUs(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").alias("us"))
    graft.ops.Relational.sessionize(e, "user_id", "us", "event_id", gap = 43200000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).alias("n_events"),
        min(col("event_id")).alias("first_event"),
        max(col("event_id")).alias("last_event"))
      .orderBy("user_id", "session_id")
  }

  // ── Exact percentiles per group (sort-based `percentile`, identical
  //    linear interpolation to DuckDB's quantile_cont — verified
  //    bit-for-bit). approx_percentile is the 100 TB single-pass variant;
  //    exact mode is the checkable one.
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").alias("p50"),
        expr("percentile(o_totalprice, 0.9)").alias("p90"),
        max(col("o_totalprice")).alias("p100"))
      .orderBy("o_orderstatus")

  // ── Rollup: hierarchical totals in one pass (grouping-sets family,
  //    absent from the reference — §2.5). grouping_id disambiguates
  //    NULL-as-subtotal rows.
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("total_price"),
        grouping_id().cast("long").alias("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // ── Cube: every grouping-set combination in one pass — rollup's sibling
  //    (2^k sets instead of k+1). Same scale shape: partial aggregation
  //    replicates per grouping set map-side, one shuffle total.
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("total_price"),
        grouping_id().cast("long").alias("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // ── Pivot: status values rotated into columns, one count + one exact sum
  //    per cell. The value list is explicit, so the plan is a single
  //    grouped aggregate (no distinct-value pre-pass) — the 100 TB form.
  //    Empty cells are 0, matching the oracle's FILTERed aggregates.
  def pivotStatus(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(
        count(lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("rev"))
    wide.select(
        col("o_orderpriority") +:
          Seq("F", "O", "P").flatMap(v => Seq(
            coalesce(col(s"${v}_cnt"), lit(0L)).alias(s"cnt_${v.toLowerCase}"),
            coalesce(col(s"${v}_rev"), lit(0.0)).alias(s"rev_${v.toLowerCase}"))): _*)
      .orderBy("o_orderpriority")
  }

  // ── Unpivot (melt): wide per-status metrics back to (status, metric,
  //    value) rows. Narrow after the aggregate — the unpivot itself is a
  //    per-row expansion, no extra shuffle at any scale.
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).cast("double").alias("order_count"),
        dsum("o_totalprice").alias("total_price"),
        max(col("o_totalprice")).alias("max_price"))
    wide.unpivot(
        Array(col("o_orderstatus")),
        Array(col("order_count"), col("total_price"), col("max_price")),
        "metric", "value")
      .orderBy("o_orderstatus", "metric")
  }

  // ── Set operations (absent from the reference — §2.5): INTERSECT /
  //    EXCEPT / UNION with set semantics.
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val rich = c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    building.intersect(rich)
      .unionByName(auto.except(rich))
      .distinct()
      .orderBy("c_custkey")
  }

  // ── Ranking-statistics window family (§2.5): ntile buckets,
  //    percent_rank and cume_dist are exact rationals of ranks —
  //    bit-reproducible double divisions, unlike running double sums.
  def windowRankStats(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  // ── Exact distributed moments (§2.5): mean/variance/stddev from DECIMAL
  //    power sums — Σx and Σx² aggregate exactly (order-independent,
  //    map-side partial), the final moment arithmetic runs in DOUBLE once
  //    per group. The scalable alternative to Welford-style running stats,
  //    and unlike float accumulation it hash-matches any engine.
  //    Sample variance = (n·Σx² − (Σx)²) / (n·(n−1)).
  def statsMoments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).alias("__s1"),
        sum((col("o_totalprice").cast("decimal(18,2)") *
          col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,4)")).alias("__s2"))
      .select(
        col("o_orderstatus"), col("n"),
        (col("__s1").cast("double") / col("n").cast("double")).alias("mean"),
        ((col("n").cast("double") * col("__s2").cast("double")
          - col("__s1").cast("double") * col("__s1").cast("double"))
          / (col("n").cast("double") * (col("n") - 1).cast("double"))).alias("variance"))
      .withColumn("stddev", sqrt(col("variance")))
      .orderBy("o_orderstatus")

  // ── RANGE-frame trailing window: 7-day moving revenue per status — the
  //    value-based frame (RANGE BETWEEN 6 PRECEDING), distinct from every
  //    ROWS-frame window above: the frame follows the day VALUE, so date
  //    gaps shrink it. Pre-aggregating to (status, day) first bounds the
  //    window input to one row per day — at 100 TB the window runs over
  //    thousands of rows, not billions; DECIMAL sums keep it exact.
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
      .cast("long").alias("day")
    val daily = t(s, dir, "orders")
      .groupBy(col("o_orderstatus"), day)
      .agg(
        count(lit(1)).alias("d_cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).alias("__rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus")).orderBy(col("day"))
      .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("rev_7d", sum(col("__rev")).over(w).cast("double"))
      .withColumn("cnt_7d", sum(col("d_cnt")).over(w))
      .drop("__rev")
      .orderBy("o_orderstatus", "day")
  }

  // ── σ-outlier detection: orders beyond 1.5 standard deviations of their
  //    status group (a uniform-ish distribution tops out at z = √3, so 2σ
  //    would never fire on this data) — the moments come from the same
  //    exact DECIMAL power sums as statsMoments (order-independent),
  //    broadcast back as a 3-row table; the outlier scan itself is narrow.
  //    The z-score is a fixed-order double expression, bit-equal in any
  //    engine.
  def outliers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val m = o.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).alias("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).alias("__s1"),
        sum((col("o_totalprice").cast("decimal(18,2)") *
          col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,4)")).alias("__s2"))
      .select(
        col("o_orderstatus"),
        (col("__s1").cast("double") / col("n").cast("double")).alias("mean"),
        sqrt((col("n").cast("double") * col("__s2").cast("double")
          - col("__s1").cast("double") * col("__s1").cast("double"))
          / (col("n").cast("double") * (col("n") - 1).cast("double"))).alias("sd"))
    o.join(broadcast(m), Seq("o_orderstatus"))
      .filter(abs(col("o_totalprice") - col("mean")) > lit(1.5) * col("sd"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        ((col("o_totalprice") - col("mean")) / col("sd")).alias("z"))
      .orderBy("o_orderkey")
  }

  // ── Deterministic stratified sampling: a FIXED-SIZE sample per stratum
  //    by scrambled-id order — the "n per group" sibling of
  //    TrainPrep.mixtureSample's rate-based sampling. No RNG: the scramble
  //    is pure integer arithmetic, so reruns and any engine agree.
  //    row_number + filter plans WindowGroupLimit: each task keeps at most
  //    n rows per group before the shuffle.
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val scramble = pmod(col("o_orderkey") * lit(2654435761L) + lit(101L),
      lit(1000003L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(scramble.asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 50)
      .select(col("o_orderstatus"), col("o_orderkey"), col("rn"))
      .orderBy("o_orderstatus", "rn")
  }

  // ── Value histogram: fixed-width bins over order totals — one grouped
  //    aggregate (partial map-side), bin boundaries from a single floored
  //    division both engines compute identically. min/max of 2-decimal
  //    doubles are exact.
  def histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / lit(25000.0)))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).alias("n"),
        min(col("o_totalprice")).alias("lo"),
        max(col("o_totalprice")).alias("hi"))
      .orderBy("bucket")

  // ── Exact Pearson correlation per group from DECIMAL power sums —
  //    corr(quantity, price) via n, Σx, Σy, Σxy, Σx², Σy², aggregated
  //    exactly (order-independent) with the final correlation arithmetic
  //    one fixed-order double expression. The distributed-exact sibling of
  //    Spark's corr(), whose double accumulation is partition-order
  //    dependent and so cannot hash-match any oracle.
  def corrStats(s: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity").cast("decimal(18,2)")
    val p = col("l_extendedprice").cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).alias("n"),
        sum(q).alias("__sx"), sum(p).alias("__sy"),
        sum((q * p).cast("decimal(38,4)")).alias("__sxy"),
        sum((q * q).cast("decimal(38,4)")).alias("__sx2"),
        sum((p * p).cast("decimal(38,4)")).alias("__sy2"))
      .select(col("l_returnflag"), col("n"),
        ((col("n").cast("double") * col("__sxy").cast("double")
          - col("__sx").cast("double") * col("__sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("__sx2").cast("double")
              - col("__sx").cast("double") * col("__sx").cast("double"))
            * sqrt(col("n").cast("double") * col("__sy2").cast("double")
              - col("__sy").cast("double") * col("__sy").cast("double"))))
          .alias("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  // ── Semi/anti joins (§2.5): customers with vs without orders — the
  //    EXISTS / NOT EXISTS shape; only the key travels, never payload.
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("with_orders").alias("segment"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").alias("segment"))
    withOrders.unionByName(withoutOrders).orderBy("c_custkey")
  }

  // ── Broadcast-join aggregate: fact ⋈ small dim. customer is tiny relative
  //    to orders at every SF — broadcast() pins the plan that avoids
  //    shuffling the fact table (the 100 TB-correct choice; AQE would pick
  //    it too, but we declare intent).
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("revenue"))
      .orderBy("c_mktsegment")

  // ── Multi-way dim join: region ⋈ nation ⋈ customer, all broadcastable.
  def joinMulti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).alias("customer_count"),
        dsum("c_acctbal").alias("total_acctbal"))
      .orderBy("r_name", "n_name")
}
