package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (extension beyond the reference, which is
  * strictly daily batch — SURVEY §1.4). Three pieces:
  *
  *  1. the Silver/Gold transforms are *reused verbatim* on streaming
  *     DataFrames — they are narrow projections/filters and grouped
  *     aggregates, so the same [[graft.layers.Silver]] code runs under
  *     `readStream` unchanged (batch/stream unification is the point of
  *     declaring transforms as `DataFrame => DataFrame`);
  *  2. watermarked tumbling-window aggregation over an event-time column
  *     (the canonical streaming shape Spark plans with state-store-backed
  *     incremental aggregation + late-data eviction);
  *  3. gap sessionization with `flatMapGroupsWithState` — explicit keyed
  *     state, the streaming analogue of [[graft.ops.Relational.sessionize]].
  *
  * Scale notes: state size is bounded — windowed aggs keep one row per
  * (window, key) until the watermark passes; sessionization keeps one
  * open-session struct per active key. Shuffle partitioning is by group
  * key, identical to the batch plans.
  */
object Streams {

  /** Watermarked tumbling-window counts/sums per event type. `events` must
    * carry an event-time TIMESTAMP column `ts`. Late rows beyond the
    * watermark are dropped; state for closed windows is evicted. */
  def windowedEventCounts(
      events: DataFrame,
      watermarkDelay: String = "1 hour",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).alias("n_events"), sum(col("value")).alias("total_value"))
      .select(col("window.start").alias("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Input row for streaming sessionization. `ts` = event-time millis. */
  final case class SessionEvent(user_id: Long, event_id: Long, ts: Long)

  /** Open-session state carried between micro-batches. */
  final case class SessionState(
      sessionIndex: Long, startTs: Long, lastTs: Long, nEvents: Long,
      firstEvent: Long, lastEvent: Long)

  /** A closed (emitted) session. */
  final case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      start_ts: Long, end_ts: Long)

  /** Gap sessionization over a keyed event stream: a session closes when
    * the next event of the key arrives more than `gapMs` after the last.
    * Sessions are emitted when *closed by a later event* (NoTimeout keeps
    * the example deterministic under MemoryStream tests; production would
    * add EventTimeTimeout to also flush idle sessions at the watermark).
    *
    * Semantics match the batch construction in
    * [[graft.ops.Relational.sessionize]]: same gap rule, 1-based ids in
    * event-time order per key.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val closed = Seq.newBuilder[SessionOut]
          var cur = state.getOption.orNull
          batch.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
            if (cur == null) {
              cur = SessionState(1L, e.ts, e.ts, 1L, e.event_id, e.event_id)
            } else if (e.ts - cur.lastTs > gapMs) {
              closed += SessionOut(userId, cur.sessionIndex, cur.nEvents, cur.startTs, cur.lastTs)
              cur = SessionState(cur.sessionIndex + 1, e.ts, e.ts, 1L, e.event_id, e.event_id)
            } else {
              cur = cur.copy(lastTs = math.max(cur.lastTs, e.ts),
                nEvents = cur.nEvents + 1, lastEvent = e.event_id)
            }
          }
          if (cur != null) state.update(cur)
          closed.result().iterator
      }
  }

  /** Input row for watermarked sessionization: real event-time column. */
  final case class TimedEvent(user_id: Long, event_id: Long, ts: Timestamp)

  /** Production sessionization: like [[sessionize]], but ALSO flushes idle
    * open sessions once the event-time watermark passes `lastTs + gap` —
    * `EventTimeTimeout` + `GroupState.setTimeoutTimestamp`. State per key
    * is one open-session struct, evicted on flush; the watermark bounds
    * how long a silent key occupies the state store. */
  def sessionizeWatermarked(
      events: Dataset[TimedEvent],
      gapMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: the open session can never be
            // extended by in-watermark data — flush it
            val cur = state.get
            state.remove()
            Iterator.single(
              SessionOut(userId, cur.sessionIndex, cur.nEvents, cur.startTs, cur.lastTs))
          } else {
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption.orNull
            batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (cur == null) {
                cur = SessionState(1L, t, t, 1L, e.event_id, e.event_id)
              } else if (t - cur.lastTs > gapMs) {
                closed += SessionOut(userId, cur.sessionIndex, cur.nEvents, cur.startTs, cur.lastTs)
                cur = SessionState(cur.sessionIndex + 1, t, t, 1L, e.event_id, e.event_id)
              } else {
                cur = cur.copy(lastTs = math.max(cur.lastTs, t),
                  nEvents = cur.nEvents + 1, lastEvent = e.event_id)
              }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup with BOUNDED state: drop rows whose `keyCols`
    * were already seen, keeping dedup state only within the event-time
    * watermark (`dropDuplicatesWithinWatermark`) — the 100 TB-stream
    * version of [[graft.ops.Dedup.exactByKey]]. Plain `dropDuplicates` on
    * a stream accumulates every key forever; bounding by watermark is what
    * keeps the state store finite under unbounded input. */
  def dedupExactStream(
      events: DataFrame,
      timeCol: String,
      watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming document sketches: the narrow per-row signature expressions
    * ([[graft.functions.SimhashArray]]/[[graft.functions.MinhashArray]])
    * are STATELESS, so they run on a stream unchanged — each micro-batch's
    * docs get (simhash, minhash sig) columns with zero streaming state.
    * Feed the output to a sink table; batch LSH band joins over the sink
    * then find near-dups across the accumulated corpus. */
  def sketchStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.SketchArrayExpressions._
    val th = transform(graft.ops.TextAnalysis.tokens(col(textCol)), t => xxhash64(t))
    docs.select(
      col(idCol),
      simhashArray(th).alias("simhash"),
      minhashArray(shingleWindows(th, 3), 32).alias("minhash_sig"))
  }

  /** Watermarked stream-stream interval join: for each purchase, the views
    * by the same user within `[p_ts - lookback, p_ts]` — streaming
    * attribution, the continuous analogue of the batch as-of join
    * ([[graft.ops.Relational.asofJoinTime]]). Both sides carry watermarks
    * AND the join condition bounds event-time distance, which is exactly
    * what lets Spark evict join state: a view older than
    * `watermark + lookback` can never match a future purchase. Without
    * the time bound the state store grows without limit.
    */
  def purchaseAttribution(
      purchases: DataFrame,
      views: DataFrame,
      lookback: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("event_id").alias("purchase_id"),
        col("ts").alias("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val v = views
      .select(col("user_id").alias("v_user_id"), col("event_id").alias("view_id"),
        col("ts").alias("v_ts"))
      .withWatermark("v_ts", watermarkDelay)
    p.join(v,
        col("user_id") === col("v_user_id") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookback"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Stream → V2 catalog sink: each micro-batch appends through the
    * catalog's transactional write path (`foreachBatch` + WriterV2), so
    * every batch becomes one snapshot — time-travel per batch for free.
    *
    * foreachBatch itself is at-least-once (a failure between the table
    * commit and the streaming checkpoint replays the batch), so the append
    * carries a writer transaction (appId = checkpoint dir, version =
    * batchId) that commits atomically with the data in the snapshot
    * manifest; [[graft.storage.GraftCatalog]] skips a replayed batchId,
    * making the sink exactly-once per batch end to end. */
  def sinkToCatalog(
      stream: DataFrame,
      table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.writeTo(table)
          .option(graft.storage.GraftCatalog.TxnAppIdOption, checkpointDir)
          .option(graft.storage.GraftCatalog.TxnVersionOption, batchId.toString)
          .append()
      }
      .start()

  /** Quality-gated streaming sink: each micro-batch is checked against a
    * [[graft.quality.Expectations]] suite (one extra scan of the batch);
    * passing batches append to `table`, failing batches land whole in
    * `quarantineTable` for repair/replay — bad data never reaches the
    * serving table, and the run doesn't die (the streaming version of the
    * reference's fail-the-DAG-run data-quality intent).
    *
    * Replay-safe like [[sinkToCatalog]]: the batchId travels as a writer
    * transaction. A replayed batch re-runs the gate on identical data
    * (checkpointed source offsets), reaches the same verdict, and the
    * target table's manifest-recorded batchId makes the re-append a no-op. */
  def sinkToCatalogValidated(
      stream: DataFrame,
      table: String,
      quarantineTable: String,
      checkpointDir: String,
      expectations: Seq[graft.quality.Expectations.Expectation])
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pinned = batch.localCheckpoint(true) // scanned twice: gate + write
        val target =
          if (graft.quality.Expectations.validate(pinned, expectations)) table
          else quarantineTable
        pinned.writeTo(target)
          .option(graft.storage.GraftCatalog.TxnAppIdOption, checkpointDir)
          .option(graft.storage.GraftCatalog.TxnVersionOption, batchId.toString)
          .append()
      }
      .start()

  /** Streaming CDC upsert into a MERGE-ON-READ catalog table: each
    * micro-batch resolves to one row per key (highest `seqCol` wins,
    * `opCol` ∈ upsert/delete — [[graft.ops.Relational.mergeUpsert]]'s
    * changelog convention) and applies as ONE SQL `MERGE INTO`. Because
    * the target declares `write.merge.mode=merge-on-read`, every batch
    * is a DELTA commit — appended rows plus an equality-delete sidecar,
    * never a table rewrite — so per-batch cost tracks the BATCH, the
    * streaming analogue of SCALE.md §merge-on-read (the truncating
    * [[graft.storage.V2CatalogWarehouse.upsert]] rewrites the table per
    * batch; at 100 TB that is the difference between a sink that keeps
    * up and one that can't). Compaction on a cadence folds the
    * accumulated sidecars, exactly as for batch merges.
    *
    * Effect-idempotent under at-least-once replay WITHOUT a writer txn:
    * a keyed MERGE re-applied over the same source rows maps inserts of
    * already-inserted keys to identical updates, updates to identical
    * updates, and deletes of deleted keys to no matches — the end state
    * is unchanged (the batch itself must be deterministic, as with every
    * foreachBatch sink here). */
  def sinkMergeMor(
      stream: DataFrame,
      table: String,
      keyCol: String,
      seqCol: String,
      opCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val dataCols = spark.table(table).schema.fieldNames.toSeq
        require(dataCols.contains(keyCol), s"$table has no column $keyCol")
        require(dataCols.exists(_ != keyCol),
          s"$table has no non-key columns — the generated MERGE's UPDATE " +
            "SET clause would be empty; a key-only table has nothing to " +
            "upsert (use a plain append or delete-only CDC)")
        // every table column must arrive in the batch, or the generated
        // MERGE fails deep in analysis with an opaque unresolved-column
        // error — surface the contract violation here, by name
        val missing = dataCols.filterNot(batch.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"sinkMergeMor batch is missing table column(s) " +
            s"${missing.mkString(", ")} required to MERGE into $table " +
            s"(batch columns: ${batch.schema.fieldNames.mkString(", ")})")
        // one row per key: the batch's newest change wins (keyed window,
        // deterministic tie-break on the op so replays resolve alike)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))
          .orderBy(col(seqCol).desc, col(opCol).asc)
        val resolved = batch
          .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .localCheckpoint(true) // scanned by the merge's join twice
        val view = s"__mor_sink_${math.abs(table.hashCode)}_$batchId"
        resolved.createOrReplaceTempView(view)
        val sets = dataCols.filterNot(_ == keyCol)
          .map(c => s"$c = s.$c").mkString(", ")
        val ins = dataCols.mkString(", ")
        val insVals = dataCols.map(c => s"s.$c").mkString(", ")
        spark.sql(s"""MERGE INTO $table t USING $view s
          ON t.$keyCol = s.$keyCol
          WHEN MATCHED AND s.$opCol = 'delete' THEN DELETE
          WHEN MATCHED THEN UPDATE SET $sets
          WHEN NOT MATCHED AND s.$opCol != 'delete'
            THEN INSERT ($ins) VALUES ($insVals)""")
        spark.catalog.refreshTable(table)
        spark.catalog.dropTempView(view)
        ()
      }
      .start()

  /** WAP streaming sink: every micro-batch runs a full
    * write–audit–publish cycle on an ephemeral catalog branch
    * ([[graft.storage.Wap]]). Unlike [[sinkToCatalogValidated]]'s
    * per-batch gate, the audit runs against the MERGED table state on the
    * branch — so CROSS-batch invariants (a key unique corpus-wide, a set
    * membership over the whole table) gate the publish, which a
    * batch-only check cannot express. Failing batches leave main
    * untouched and land whole in `quarantineTable`; replayed batches
    * (at-least-once sources) publish trivially via the same batchId
    * writer-txn watermark, threaded through the branch commit. */
  def sinkToCatalogWap(
      stream: DataFrame,
      catalog: graft.storage.GraftCatalog,
      ident: org.apache.spark.sql.connector.catalog.Identifier,
      table: String,
      quarantineTable: String,
      checkpointDir: String,
      expectations: Seq[graft.quality.Expectations.Expectation])
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pinned = batch.localCheckpoint(true) // audited + maybe quarantined
        val res = graft.storage.Wap.writeAuditPublish(
          pinned.sparkSession, catalog, ident, table, pinned, expectations,
          branch = s"wap_b$batchId",
          txn = Some((checkpointDir, batchId)))
        if (!res.published) {
          pinned.writeTo(quarantineTable)
            .option(graft.storage.GraftCatalog.TxnAppIdOption, s"$checkpointDir-q")
            .option(graft.storage.GraftCatalog.TxnVersionOption, batchId.toString)
            .append()
        }
      }
      .start()

  /** Drift-gated streaming sink: each micro-batch's distribution of
    * `valueCol` is compared against a pinned reference corpus
    * ([[graft.quality.Drift.chiSquare]]); batches within `maxChi2` append
    * to `table`, drifted batches land whole in `quarantineTable` — the
    * statistical companion to the rule-based
    * [[sinkToCatalogValidated]] ("the new data doesn't LOOK like the
    * training distribution" caught before it reaches the serving table).
    * Same exactly-once batchId transaction as the other catalog sinks;
    * a replayed batch recomputes the same statistic on the same rows and
    * routes identically. */
  def sinkToCatalogDriftGated(
      stream: DataFrame,
      table: String,
      quarantineTable: String,
      reference: DataFrame,
      valueCol: String,
      maxChi2: Double,
      checkpointDir: String,
      bits: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    // persist (not localCheckpoint): the reference is read every batch for
    // the stream's lifetime, and a lost cached partition must be
    // recomputable from lineage — a local checkpoint truncates lineage and
    // would kill the query permanently on the first executor loss
    val ref = reference.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pinned = batch.localCheckpoint(true) // scanned twice: gate + write
        val chi2 = graft.quality.Drift.chiSquare(ref, pinned, valueCol, bits)
        // NaN (no measurable rows on either side — e.g. an upstream schema
        // break nulling the metric) fails the `<=` and quarantines: a gate
        // that cannot measure must not wave data through
        val target = if (chi2 <= maxChi2) table else quarantineTable
        pinned.writeTo(target)
          .option(graft.storage.GraftCatalog.TxnAppIdOption, checkpointDir)
          .option(graft.storage.GraftCatalog.TxnVersionOption, batchId.toString)
          .append()
      }
      .start()
  }

  /** Streaming materialized view: every micro-batch appends to `baseTable`
    * AND folds into the grouped aggregate in `aggTable`
    * ([[graft.ops.Incremental.refreshAgg]] with the batch as an
    * insert-only changelog) — the aggregate stays current without ever
    * rescanning the base. Both writes carry the batchId as a writer
    * transaction (separate app-ids), so a replayed batch re-appends
    * neither: each table independently skips versions it has already
    * committed, and the view converges to exactly
    * `Incremental.aggregate(baseTable)`.
    *
    * At scale this is the pattern that keeps a 100 TB event table's
    * dashboards fresh for the cost of each micro-batch plus the (small)
    * aggregate rewrite — and the aggregate table is itself snapshotted,
    * so `VERSION AS OF` gives per-batch history of the view. */
  def sinkWithAggMaintenance(
      stream: DataFrame,
      baseTable: String,
      aggTable: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val pinned = batch.localCheckpoint(true) // read twice: append + fold
        pinned.writeTo(baseTable)
          .option(TxnAppIdOption, s"$checkpointDir#base")
          .option(TxnVersionOption, batchId.toString)
          .append()
        val spark = pinned.sparkSession
        val prev = spark.table(aggTable)
        val next = graft.ops.Incremental.refreshAgg(
          prev,
          pinned.withColumn("_change", org.apache.spark.sql.functions.lit("insert")),
          groupCols, sumCols)
        next.localCheckpoint(true) // materialize BEFORE truncating its input
          .writeTo(aggTable)
          .option(TxnAppIdOption, s"$checkpointDir#agg")
          .option(TxnVersionOption, batchId.toString)
          .overwrite(org.apache.spark.sql.functions.lit(true))
      }
      .start()

  /** Streaming Count-Min maintenance: fold each micro-batch's token stream
    * into ONE stored depth×width sketch row — continuous heavy-hitter
    * tracking with bounded state (the sketch size never grows with the
    * corpus, unlike a token-count table).
    *
    * Mergeability is the whole point: [[graft.functions.CountMinAgg]]
    * tables merge by elementwise addition, so `stored ⊕ batch` equals the
    * sketch of the full history — proved bit-exact against a batch-built
    * sketch in StreamingSpec. Writes are exactly-once per batch via the
    * writer-transaction options (replayed batches no-op), so a recovered
    * stream cannot double-count into the sketch. */
  def sinkWithSketchMaintenance(
      docs: DataFrame,
      textCol: String,
      sketchTable: String,
      depth: Int,
      width: Int,
      checkpointDir: String,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.ops.Dedup.xxHash): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val batchCms = batch
          .select(explode(graft.ops.TextAnalysis.tokens(col(textCol))).alias("token"))
          .withColumn("h", tokenHash(col("token")))
          .agg(graft.functions.SketchAggregates.countMinAgg(col("h"), depth, width)
            .alias("cms"))
        val merged = spark.table(sketchTable).alias("p")
          .crossJoin(batchCms.alias("b")) // 1 row × 1 row
          .select(zip_with(col("p.cms"), col("b.cms"), (a, b) => a + b)
            .alias("cms"))
        merged.localCheckpoint(true) // materialize BEFORE truncating input
          .writeTo(sketchTable)
          .option(TxnAppIdOption, s"$checkpointDir#cms")
          .option(TxnVersionOption, batchId.toString)
          .overwrite(lit(true))
      }
      .start()

  /** Guard for parameter-carrying bloom tables: a filter persisted BEFORE
    * the (num_bits, num_hashes) columns were added would otherwise fail
    * the sinks with an unresolved-column AnalysisException deep inside the
    * merge select — a confusing schema error instead of the designed
    * parameter-mismatch message. Fails with a targeted migration hint
    * instead: the legacy row cannot be adopted, because its numHashes is
    * exactly the unwitnessable parameter the columns exist to witness. */
  private def requireBloomSchema(stored: DataFrame, site: String): DataFrame = {
    val missing = Seq("num_bits", "num_hashes").filterNot(stored.columns.contains)
    require(missing.isEmpty,
      s"$site: the stored bloom table lacks column(s) ${missing.mkString(", ")} " +
        "— it predates parameter-carrying filters. Its build parameters are " +
        "unwitnessable (a numHashes mismatch would silently skip real " +
        "duplicates), so rebuild the filter with the current code (e.g. " +
        "bootstrapCorpusState, or drop the table and let the sink re-create " +
        "it) before resuming")
    stored
  }

  /** The stored one-row filter `stored` OR-merged with the filter over
    * `rows`' hashes `h`, as (bloom, num_bits, num_hashes). zip_with
    * NULL-PADS on length mismatch — a stored row built with different
    * numBits would silently merge into a corrupt filter whose probes miss
    * real duplicates; a different numHashes is invisible to the bitset but
    * equally corrupting, which is why the stored row carries BOTH
    * parameters as columns. A mismatch fails the merge loudly (a sink's
    * checkpoint retries the batch after the operator is fixed). */
  private def mergeBloom(stored: DataFrame, rows: DataFrame,
      h: org.apache.spark.sql.Column, site: String, numBits: Int,
      numHashes: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = numBits / 64
    requireBloomSchema(stored, site).alias("p")
      .crossJoin(graft.functions.BloomFunctions.bloomRow(rows, h, numBits, numHashes)
        .alias("b")) // 1 row × 1 row
      .select(
        when(size(col("p.bloom")) === words &&
            col("p.num_bits") === numBits &&
            col("p.num_hashes") === numHashes,
          zip_with(col("p.bloom"), col("b.bloom"),
            (a, b) => a.bitwiseOR(b)))
        .otherwise(raise_error(format_string(
          s"$site: stored filter was " +
            "built with num_bits=%s, num_hashes=%s (%s 64-bit words) " +
            s"but the sink runs at numBits=$numBits, " +
            s"numHashes=$numHashes ($words words) — refusing to merge " +
            "(a parameter mismatch would corrupt the gate)",
          col("p.num_bits"), col("p.num_hashes"), size(col("p.bloom")))))
        .alias("bloom"),
        lit(numBits).alias("num_bits"),
        lit(numHashes).alias("num_hashes"))
  }

  /** Streaming maintenance of the dedup Bloom filter
    * ([[graft.functions.BloomAgg]]): each micro-batch's key-hash bitset ORs
    * into ONE stored `bits/64`-long row — OR is commutative and idempotent,
    * so the folded filter is bit-identical to one built over the whole
    * corpus in batch (proved in StreamingSpec), and the batchId writer txn
    * makes replays no-ops. The day's ingest then gates its exact dedup
    * with `spark.table(bloomTable)` via
    * [[graft.ops.Dedup.incrementalBloom]]'s `precomputed` parameter —
    * membership state for an unbounded corpus in a constant-size row,
    * maintained exactly like the corpus itself. */
  def sinkWithBloomMaintenance(
      events: DataFrame,
      keyCols: Seq[String],
      bloomTable: String,
      checkpointDir: String,
      numBits: Int = graft.functions.BloomFunctions.DefaultBits,
      numHashes: Int = graft.functions.BloomFunctions.DefaultHashes)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val merged = mergeBloom(spark.table(bloomTable), batch,
          xxhash64(keyCols.map(col): _*), s"sinkWithBloomMaintenance($bloomTable)",
          numBits, numHashes)
        merged.localCheckpoint(true) // materialize BEFORE truncating input
          .writeTo(bloomTable)
          .option(TxnAppIdOption, s"$checkpointDir#bloom")
          .option(TxnVersionOption, batchId.toString)
          .overwrite(lit(true))
      }
      .start()

  /** Append a stream into a catalog table and keep its FILE BLOOM INDEX
    * ([[graft.storage.GraftCatalog.buildBloomIndex]]) fresh: every
    * `indexEvery`-th batch extends the index over exactly the files that
    * lack an entry — batch-proportional work, never a table rescan, the
    * same incremental contract the other maintenance sinks keep. The
    * append is a writer txn ((checkpoint, batchId) — replays are no-ops);
    * the index build is IDEMPOTENT BY CONSTRUCTION (a replayed build sees
    * no missing files and writes nothing), so the cadence needs no
    * maintenance log. Files appended between cadence firings simply have
    * no entry yet: point-lookup pruning keeps them conservatively —
    * correctness never waits on maintenance, only the skip rate does. */
  def sinkWithFileBloomIndex(
      rows: DataFrame,
      table: String,
      bloomCols: Seq[String],
      checkpointDir: String,
      indexEvery: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val spark = batch.sparkSession
        if (!spark.catalog.tableExists(table))
          batch.limit(0).writeTo(table).using("parquet").create()
        batch.writeTo(table)
          .option(TxnAppIdOption, s"$checkpointDir#fbloom")
          .option(TxnVersionOption, batchId.toString)
          .append()
        if (indexEvery > 0 && (batchId + 1) % indexEvery == 0) {
          val parts = table.split("\\.", 2)
          spark.sessionState.catalogManager.catalog(parts(0)) match {
            case g: graft.storage.GraftCatalog =>
              g.buildBloomIndex(spark, parts(1), bloomCols)
            case other => throw new IllegalArgumentException(
              s"sinkWithFileBloomIndex: $table resolves to ${other.getClass.getName}, " +
                "not a GraftCatalog — the file bloom index lives in its sidecars")
          }
        }
        ()
      }
      .start()

  /** Create the four corpus-state tables [[sinkWithCorpusMaintenance]]
    * maintains, seeded empty (stream everything through the sink) with
    * [[graft.ops.CorpusState.empty]]'s tables — schemas come from
    * analysing the real operators over zero rows, so they can never drift
    * from what the sink writes:
    *
    *  - `<prefix>_gated`  — exact-dedup survivors' gated rows;
    *  - `<prefix>_sigs`   — their minhash signatures;
    *  - `<prefix>_labels` — APPEND-ONLY component-label deltas
    *    (id, cluster_id, seq): a batch appends rows only for ids whose
    *    label changed or is new, and readers resolve latest-seq-wins
    *    ([[latestLabels]]) — the corpus-sized labelling is never
    *    rewritten, the day's write is the day's changes;
    *  - `<prefix>_bloom`  — the one-row OR-folded fingerprint filter,
    *    carrying its (num_bits, num_hashes) build parameters so every
    *    probe/merge site can witness them (a mismatch means false
    *    negatives, so it fails loudly instead).
    *
    * Only `dim` and `numHashes` reach the data (the bloom row). `textCol`,
    * `k` and `sigHashes` name the sink's text column and signature
    * parameters, which no empty table's schema depends on.
    */
  def bootstrapCorpusState(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      idCol: String,
      textCol: String,
      langCol: String,
      dim: Int = graft.functions.BloomFunctions.DefaultBits,
      numHashes: Int = graft.functions.BloomFunctions.DefaultHashes,
      k: Int = 3,
      sigHashes: Int = 32): Unit = {
    val state = graft.ops.CorpusState.empty(spark, idCol, langCol, dim, numHashes)
    def create(t: String, df: DataFrame): Unit =
      df.writeTo(s"${tablePrefix}_$t").using("parquet").createOrReplace()
    create("gated", state.gated)
    create("sigs", state.sigs)
    create("labels", state.labels.withColumn("seq", lit(null).cast("long")))
    state.bloom.foreach(create("bloom", _))
  }

  /** Latest-seq-wins resolution of the append-only label-delta table:
    * (id, cluster_id) as of the newest delta per id. One groupBy over
    * the STORED delta rows — which is why the delta table needs a
    * [[squashLabels]] cadence: without one the read side grows with every
    * batch ever appended (O(all deltas)), with one it is O(corpus). */
  def latestLabels(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String): DataFrame =
    spark.table(s"${tablePrefix}_labels")
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("cluster_id"))).alias("__w"))
      .select(col("id"), col("__w.cluster_id").alias("cluster_id"))

  /** Compact the append-only label-delta table to ONE row per id — the
    * checkpoint that bounds [[latestLabels]]'s read. Delta APPEND is the
    * right per-batch write shape (the day's write is the day's changes),
    * but the read side replays the whole delta history; squashing on a
    * cadence rewrites `<prefix>_labels` to latest-(seq, cluster_id)-per-id
    * under one truncating snapshot — the same maintenance class as
    * [[graft.storage.GraftCatalog.compact]], and every resolved label is
    * unchanged (latest-seq-wins over a squashed table is the identity;
    * spec-proved). Each id keeps its winning `seq`, so deltas appended
    * after the squash still resolve by the same rule. The `(appId,
    * version)` writer txn makes a replayed squash a no-op. */
  def squashLabels(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      txn: Option[(String, Long)] = None): Unit = {
    val latest = spark.table(s"${tablePrefix}_labels")
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("cluster_id"))).alias("__w"))
      .select(col("id"), col("__w.cluster_id").alias("cluster_id"),
        col("__w.seq").alias("seq"))
      .localCheckpoint(true) // materialize BEFORE truncating the input
    val w = latest.select(col("id"), col("cluster_id"), col("seq"))
      .writeTo(s"${tablePrefix}_labels")
    import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
    txn.fold(w) { case (app, v) =>
      w.option(TxnAppIdOption, app).option(TxnVersionOption, v.toString)
    }.overwrite(lit(true))
  }

  /** Streaming maintenance of the WHOLE incremental-corpus state
    * ([[graft.ops.TrainPrep.incrementalFold]]'s inputs) — the
    * training-data pipeline as a maintained system rather than a nightly
    * rebuild. Each micro-batch folds into the stored state
    * ([[graft.ops.CorpusState.fold]]), which
    *
    *  1. gates narrowly;
    *  2. exact-dedups through the MAINTAINED bloom row (first-seen wins —
    *     a fingerprint the corpus ever saw never re-enters);
    *  3. probes the batch's band keys against the STORED signatures
    *     ([[graft.ops.Dedup.minhashPairsAgainst]] — batch-proportional);
    *  4. folds components ([[graft.ops.Dedup.clustersIncremental]]);
    *
    * and the sink then
    *
    *  5. appends only the CHANGED labels as deltas, appends survivors +
    *     signatures and OR-folds the bloom row;
    *  6. every `squashLabelsEvery` batches (0 = never), [[squashLabels]]
    *     compacts the delta table to latest-per-id so the per-batch
    *     [[latestLabels]] read stays O(corpus) instead of growing with
    *     every delta ever appended.
    *
    * Every write carries the batchId writer txn, so a replayed
    * micro-batch re-commits nothing; and re-INGESTING already-seen docs
    * is a pipeline-level no-op (they exact-dup the history). The current
    * manifest is [[graft.ops.TrainPrep.manifestFromState]] over
    * `<prefix>_gated` × [[latestLabels]] at any point — StreamingSpec
    * proves it equals the batch [[graft.ops.TrainPrep
    * .prepareCorpusNearDup]] over everything ingested, arrival-ordered. */
  def sinkWithCorpusMaintenance(
      docs: DataFrame,
      tablePrefix: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      langCol: String,
      minJaccard: Double = 0.5,
      k: Int = 3,
      sigHashes: Int = 32,
      bands: Int = 8,
      numBits: Int = graft.functions.BloomFunctions.DefaultBits,
      numHashes: Int = graft.functions.BloomFunctions.DefaultHashes,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.ops.Dedup.xxHash,
      textHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => xxhash64(c),
      maxIter: Int = 25,
      squashLabelsEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val spark = batch.sparkSession
        def txnTo(t: String)(w: org.apache.spark.sql.DataFrameWriterV2[_]) = w
          .option(TxnAppIdOption, s"$checkpointDir#$t")
          .option(TxnVersionOption, batchId.toString)
        def stored(t: String) = spark.table(s"${tablePrefix}_$t")
        // materialize each state delta BEFORE any table it reads is
        // appended to (same discipline as the sketch sinks): the fold
        // checkpoints its survivors eagerly, its signatures read only them
        val cur = latestLabels(spark, tablePrefix).localCheckpoint(true)
        val day = graft.ops.CorpusState.fold(
          graft.ops.CorpusState(stored("gated"), stored("sigs"), cur, Some(stored("bloom"))),
          batch, idCol, textCol, langCol, minJaccard = minJaccard, k = k,
          numHashes = sigHashes, bands = bands, bloomBits = numBits, bloomHashes = numHashes,
          tokenHash = tokenHash, textHash = textHash, maxIter = maxIter)
        val delta = day.labels
          .join(cur.withColumnRenamed("cluster_id", "__old"), Seq("id"), "left")
          .filter(col("__old").isNull || col("__old") =!= col("cluster_id"))
          .select(col("id"), col("cluster_id"), lit(batchId).alias("seq"))
          .localCheckpoint(true)
        val mergedBloom = mergeBloom(stored("bloom"), day.survivors, xxhash64(col("__fp")),
            s"sinkWithCorpusMaintenance($tablePrefix)", numBits, numHashes)
          .localCheckpoint(true)
        txnTo("gated")(day.survivors.writeTo(s"${tablePrefix}_gated")).append()
        txnTo("sigs")(day.sigs.writeTo(s"${tablePrefix}_sigs")).append()
        txnTo("labels")(delta.writeTo(s"${tablePrefix}_labels")).append()
        txnTo("bloom")(mergedBloom.writeTo(s"${tablePrefix}_bloom"))
          .overwrite(lit(true))
        // the squash rides its own writer txn (distinct appId), so a
        // replayed batch re-runs neither the delta append nor the compact
        if (squashLabelsEvery > 0 && (batchId + 1) % squashLabelsEvery == 0)
          squashLabels(spark, tablePrefix,
            txn = Some((s"$checkpointDir#labelsquash", batchId)))
      }
      .start()

  /** Streaming maintenance of a persisted IVF index
    * ([[graft.ops.VectorIndex]]): each micro-batch of new embeddings is
    * assigned against the FROZEN codebook and appended to the
    * cell-partitioned inverted lists — the day's index cost is the day's
    * vectors, served queries see them at the next batch boundary, and the
    * batchId writer txn makes replays no-ops.
    *
    * With `maintainEvery > 0` the sink also CLOSES the maintenance loop
    * every that-many batches (the gates the index owns but an append-only
    * sink never consulted):
    *
    *  - [[graft.ops.VectorIndex.refreshRecommended]] reads the batch's
    *    assignment-fit against the frozen codebook; on fire it runs the
    *    full [[graft.ops.VectorIndex.refresh]] — retrain, re-assign,
    *    write-audit-publish, so queries only ever see the old index or
    *    the audited new one, never a partial state;
    *  - `splitCapFactor > 0` additionally runs
    *    [[graft.ops.VectorIndex.splitHotCells]] (itself WAP-committed),
    *    bounding any inverted list a skewed stream grows past the cap.
    *
    * Actions are recorded in `<prefix>_maintenance` (batch_id, action)
    * under the batch's writer txn. A replayed maintenance batch whose
    * prior attempt LOGGED skips the gates entirely (checked against the
    * log) and the txn'd append re-logs nothing; one that crashed before
    * logging re-runs its gates — each action is WAP-committed and
    * self-quiescing (a refreshed codebook reads as fit, a split cell as
    * under-cap), so the worst case is paying a gate check twice, never a
    * partial index or duplicate log rows. The gate checks cost a
    * corpus-SAMPLE pass plus a
    * codebook-bounded size aggregate (not batch-proportional), which is
    * exactly why they ride a cadence instead of every batch; appends
    * between maintenance batches stay the day's-rows cost. */
  def sinkWithIndexMaintenance(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      tablePrefix: String,
      checkpointDir: String,
      maintainEvery: Int = 0,
      driftThreshold: Double = 0.2,
      splitCapFactor: Double = 0.0,
      numCentroids: Int = 16,
      kmeansIters: Int = 2,
      samplePerMille: Int = 100): org.apache.spark.sql.streaming.StreamingQuery =
    embeddings.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val spark = batch.sparkSession
        val maintaining = maintainEvery > 0 && (batchId + 1) % maintainEvery == 0
        // the batch feeds both the drift gate and the append on a
        // maintenance batch — pin it so the source isn't re-read across
        // the two consumers. Ordinary batches have ONE consumer (the
        // append); pinning them too would pay an eager materialization on
        // every batch for nothing.
        val b = if (maintaining) batch.localCheckpoint(true) else batch
        val maintT = s"${tablePrefix}_maintenance"
        // replay detection: a replayed maintenance batch whose prior
        // attempt already LOGGED must not re-run the gates (the actions
        // are self-quiescing — a refreshed codebook reads as fit, a split
        // cell as under-cap — but a re-run would still pay the retrain
        // and could double-log). A prior attempt that crashed BEFORE
        // logging re-runs its gates on replay; every action behind them
        // is WAP-committed, so the index is never left partial either way.
        val alreadyLogged = maintaining && spark.catalog.tableExists(maintT) &&
          !spark.table(maintT).filter(col("batch_id") === batchId).isEmpty
        // gate BEFORE append: the question is whether the INCOMING batch
        // fits the codebook as-it-stands — appending first would fold the
        // batch into the very corpus sample it is compared against
        val driftFired = maintaining && !alreadyLogged &&
          graft.ops.VectorIndex.refreshRecommended(spark, b, idCol, vecCol,
            tablePrefix, threshold = driftThreshold,
            samplePerMille = samplePerMille)
        graft.ops.VectorIndex.append(spark, b, idCol, vecCol,
          tablePrefix, txn = Some((s"$checkpointDir#vidx", batchId)))
        // when the PQ layer exists, keep it fresh in the same batch: codes
        // fold in against the FROZEN sub-codebook under their own writer
        // txn (same batchId → replays are no-ops on both tables)
        val pqMaintained =
          spark.catalog.tableExists(s"${tablePrefix}_pq_codebook")
        if (pqMaintained)
          graft.ops.VectorIndex.appendPqCodes(spark, b, idCol, vecCol,
            tablePrefix, txn = Some((s"$checkpointDir#vidxpq", batchId)))
        if (maintaining && !alreadyLogged) {
          val actions = scala.collection.mutable.ArrayBuffer.empty[String]
          var cellsRewritten = false
          if (driftFired) {
            val published = graft.ops.VectorIndex.refresh(spark, tablePrefix,
              numCentroids = numCentroids, kmeansIters = kmeansIters,
              samplePerMille = samplePerMille)
            cellsRewritten ||= published
            actions += (if (published) "refresh" else "refresh_audit_failed")
          }
          if (splitCapFactor > 0) {
            val nSplit = graft.ops.VectorIndex.splitHotCells(spark, tablePrefix,
              capFactor = splitCapFactor)
            cellsRewritten ||= nSplit > 0
            if (nSplit > 0) actions += s"split:$nSplit"
          }
          // a refresh/split rewrites cell assignments, which the code
          // table carries for partition pruning — re-align it from the
          // rewritten lists. The codes themselves stay valid (the frozen
          // sub-codebook quantizes vectors, not cells), so this is an
          // id-keyed cell rewrite, never a re-encode.
          if (pqMaintained && cellsRewritten) {
            graft.ops.VectorIndex.refreshPqCells(spark, tablePrefix)
            actions += "pq_cells_realigned"
          }
          if (actions.nonEmpty) {
            import spark.implicits._
            val log = actions.toSeq.map(a => (batchId, a))
              .toDF("batch_id", "action")
            // create the table EMPTY first so the data rows only ever land
            // through the txn'd append — a crash between an untxn'd
            // create-with-rows and the checkpoint commit would duplicate
            // them on replay
            if (!spark.catalog.tableExists(maintT))
              log.limit(0).writeTo(maintT).using("parquet").create()
            log.writeTo(maintT)
              .option(TxnAppIdOption, s"$checkpointDir#vidxmaint")
              .option(TxnVersionOption, batchId.toString)
              .append()
          }
        }
      }
      .start()

  /** Bootstrap the tokenizer-monitor state: train the initial merge table
    * and vocabulary over a seed corpus and persist all three tables the
    * sink maintains (`<prefix>_docs` — the accumulated corpus,
    * `<prefix>_merges`, `<prefix>_vocab`). */
  def bootstrapTokenizer(
      spark: org.apache.spark.sql.SparkSession,
      seed: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      numMerges: Int = 6,
      topK: Int = 64): Unit = {
    seed.select(col(idCol), col(textCol))
      .writeTo(s"${tablePrefix}_docs").using("parquet").createOrReplace()
    val (m, v) = graft.ops.TextAnalysis.bpeTrainArtifacts(
      spark.table(s"${tablePrefix}_docs"), textCol, numMerges, topK)
    m.writeTo(s"${tablePrefix}_merges").using("parquet").createOrReplace()
    v.writeTo(s"${tablePrefix}_vocab").using("parquet").createOrReplace()
  }

  /** Streaming tokenizer-staleness maintenance — the
    * [[sinkWithIndexMaintenance]] pattern applied to the BPE artifacts:
    * each micro-batch appends to the accumulated corpus under the batchId
    * writer txn; every `checkEvery` batches the gate measures the
    * INCOMING batch's instance-weighted UNK share under the SHIPPED
    * merges+vocab ([[graft.ops.TextAnalysis.bpeUnkRate]] — the fraction
    * of the batch that would encode to id 0). Past `maxUnkRate`, the
    * tokenizer retrains IN-ENGINE over everything accumulated
    * ([[graft.ops.TextAnalysis.bpeTrainArtifacts]] — one corpus scan plus
    * vocabulary-priced rounds) and both artifact tables are replaced;
    * the next drifted batch then measures against the refreshed
    * tokenizer and the gate is quiet — fires once per drift, not per
    * batch.
    *
    * Replay semantics mirror the index sink: actions log to
    * `<prefix>_maintenance` under the batch's txn; a replayed maintenance
    * batch whose prior attempt logged skips the gate, one that crashed
    * pre-log re-runs it (the retrain is a full createOrReplace of both
    * artifacts — idempotent over the same accumulated corpus, since the
    * trainer is deterministic). The gate itself costs batch-vocabulary-
    * sized folds, not a corpus pass — why it rides the batch cadence
    * while the retrain rides the gate. */
  def sinkWithTokenizerMonitor(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      checkpointDir: String,
      checkEvery: Int = 1,
      maxUnkRate: Double = 0.3,
      numMerges: Int = 6,
      topK: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val spark = batch.sparkSession
        val maintaining = checkEvery > 0 && (batchId + 1) % checkEvery == 0
        val b = if (maintaining) batch.localCheckpoint(true) else batch
        val maintT = s"${tablePrefix}_maintenance"
        val alreadyLogged = maintaining && spark.catalog.tableExists(maintT) &&
          !spark.table(maintT).filter(col("batch_id") === batchId).isEmpty
        // gate BEFORE append, against the CURRENT artifacts: the question
        // is whether the incoming batch still tokenizes well under what
        // is shipped
        val unk =
          if (maintaining && !alreadyLogged) {
            val merges = spark.table(s"${tablePrefix}_merges")
              .orderBy("merge_rank").collect()
              .map(r => (r.getString(1), r.getString(2))).toSeq
            graft.ops.TextAnalysis.bpeUnkRate(b, textCol, merges,
              spark.table(s"${tablePrefix}_vocab"))
          } else 0.0
        b.select(col(idCol), col(textCol))
          .writeTo(s"${tablePrefix}_docs")
          .option(TxnAppIdOption, s"$checkpointDir#tokdocs")
          .option(TxnVersionOption, batchId.toString)
          .append()
        if (maintaining && !alreadyLogged && unk > maxUnkRate) {
          val (m, v) = graft.ops.TextAnalysis.bpeTrainArtifacts(
            spark.table(s"${tablePrefix}_docs"), textCol, numMerges, topK)
          m.writeTo(s"${tablePrefix}_merges").using("parquet").createOrReplace()
          v.writeTo(s"${tablePrefix}_vocab").using("parquet").createOrReplace()
          import spark.implicits._
          val log = Seq((batchId, f"retrain:unk=$unk%.3f"))
            .toDF("batch_id", "action")
          if (!spark.catalog.tableExists(maintT))
            log.limit(0).writeTo(maintT).using("parquet").create()
          log.writeTo(maintT)
            .option(TxnAppIdOption, s"$checkpointDir#tokmaint")
            .option(TxnVersionOption, batchId.toString)
            .append()
        }
      }
      .start()

  /** Bootstrap the WordPiece-monitor state ([[sinkWithWordPieceMonitor]]):
    * accumulate the seed corpus and train the initial positional-piece
    * vocabulary (`<prefix>_docs`, `<prefix>_vocab` — WordPiece ships one
    * artifact, the vocabulary; there is no merge list). */
  def bootstrapWordPiece(
      spark: org.apache.spark.sql.SparkSession,
      seed: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      maxPieceLen: Int = 4,
      topK: Int = 64): Unit = {
    seed.select(col(idCol), col(textCol))
      .writeTo(s"${tablePrefix}_docs").using("parquet").createOrReplace()
    graft.ops.TextAnalysis.wordPieceVocab(
        spark.table(s"${tablePrefix}_docs"), textCol, maxPieceLen, topK)
      .writeTo(s"${tablePrefix}_vocab").using("parquet").createOrReplace()
  }

  /** [[sinkWithTokenizerMonitor]]'s loop for the WordPiece scheme: each
    * batch appends to the accumulated corpus under the batchId writer txn;
    * every `checkEvery` batches the gate measures the incoming batch's
    * instance-weighted whole-word UNK share under the SHIPPED vocabulary
    * ([[graft.ops.TextAnalysis.wordPieceUnkRate]] — greedy segmentation
    * failing on any word collapses the whole word, so drift to unseen
    * scripts fires it immediately); past `maxUnkRate` the vocabulary
    * retrains over everything accumulated and is replaced. Same replay
    * contract as the BPE monitor: actions log under the batch txn, a
    * logged batch skips its gate on replay, the retrain is deterministic
    * over the accumulated corpus. */
  def sinkWithWordPieceMonitor(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      checkpointDir: String,
      checkEvery: Int = 1,
      maxUnkRate: Double = 0.3,
      maxPieceLen: Int = 4,
      topK: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.storage.GraftCatalog.{TxnAppIdOption, TxnVersionOption}
        val spark = batch.sparkSession
        val maintaining = checkEvery > 0 && (batchId + 1) % checkEvery == 0
        val b = if (maintaining) batch.localCheckpoint(true) else batch
        val maintT = s"${tablePrefix}_maintenance"
        val alreadyLogged = maintaining && spark.catalog.tableExists(maintT) &&
          !spark.table(maintT).filter(col("batch_id") === batchId).isEmpty
        val unk =
          if (maintaining && !alreadyLogged)
            graft.ops.TextAnalysis.wordPieceUnkRate(b, textCol,
              spark.table(s"${tablePrefix}_vocab"), maxPieceLen)
          else 0.0
        b.select(col(idCol), col(textCol))
          .writeTo(s"${tablePrefix}_docs")
          .option(TxnAppIdOption, s"$checkpointDir#wpdocs")
          .option(TxnVersionOption, batchId.toString)
          .append()
        if (maintaining && !alreadyLogged && unk > maxUnkRate) {
          graft.ops.TextAnalysis.wordPieceVocab(
              spark.table(s"${tablePrefix}_docs"), textCol, maxPieceLen, topK)
            .writeTo(s"${tablePrefix}_vocab").using("parquet").createOrReplace()
          import spark.implicits._
          val log = Seq((batchId, f"retrain:unk=$unk%.3f"))
            .toDF("batch_id", "action")
          if (!spark.catalog.tableExists(maintT))
            log.limit(0).writeTo(maintT).using("parquet").create()
          log.writeTo(maintT)
            .option(TxnAppIdOption, s"$checkpointDir#wpmaint")
            .option(TxnVersionOption, batchId.toString)
            .append()
        }
      }
      .start()

  /** Streaming medallion slice: raw JSON-string records (the Bronze shape)
    * through the *batch* Silver transforms — projection/filter only, so the
    * identical code plans incrementally under readStream. */
  def silverStream(rawJsonRecords: DataFrame): DataFrame =
    graft.layers.Silver.clean(graft.layers.Silver.extract(rawJsonRecords))
}
