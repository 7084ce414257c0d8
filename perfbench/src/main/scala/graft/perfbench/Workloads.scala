package graft.perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RecordFetcher
import graft.pipeline.Runner
import graft.storage.{GraftCatalog, Storage, V2CatalogWarehouse}

/** What a workload sees of the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, exec: ExecListener, seed: Long,
    dataDir: String, workDir: String)

/** One closed-loop workload. The harness calls `prepare` and `check`
  * untimed around each timed `op`; `warmRound` ops make one warm-up round. */
trait Workload {
  def warmRound: Int = 1
  /** Untimed warm-up rounds before the timed window. */
  def warmRounds: Int = 2
  /** Untimed state build (reported as part of `setup_s`). */
  def setup(): Unit
  /** Untimed reference results for the output checks (not set-up). */
  def reference(): Unit = ()
  def prepare(i: Int): Unit = ()
  def op(i: Int): Unit
  /** Was op `i`'s output correct? */
  def check(i: Int): Boolean
  /** Untimed: the timed window starts / has ended. */
  def windowStart(): Unit = ()
  def windowEnd(): Unit = ()
  /** Untimed final checks after the window, one result each. */
  def finish(): Seq[Boolean] = Nil
  /** Layer metrics only the workload can measure, per timed op. */
  def layerMetrics(timedOps: Int): Map[String, Double] = Map.empty
  /** Untimed cleanup between ops. */
  def clear(): Unit = ()
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "medallion" => new Medallion(c)
    case "corpus_day" => new CorpusDay(c)
    case "analyst_mix" => new AnalystMix(c)
    case "lakehouse_dml" => new LakehouseDml(c)
    case "lakehouse_mix" =>
      new Interleaved(new LakehouseDml(c, LakehouseDml.Merges), new AnalystMix(c, AnalystMix.ModuleReads),
        warm = 1)
  }

  /** Order-insensitive (row count, hash sum) of a result: one action that
    * computes every column of every row. */
  def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).alias("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Drop cached tables and persisted RDDs (localCheckpoint residue), as
    * graft.Bench does between queries. */
  def clearAll(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Regular files under a warehouse directory: path -> (bytes, mtime). */
final case class DiskUse(files: Map[String, (Long, Long)]) {
  private def sizes(role: String) = files.collect { case (p, (b, _)) if DiskUse.role(p) == role => b }
  def bytes: Long = files.values.map(_._1).sum
  def dataFiles: Int = sizes("data").size
  def deleteFiles: Int = sizes("delete").size
  def metadataBytes: Long = sizes("metadata").sum
  /** Files present here but absent or changed in `before`. */
  def writtenSince(before: DiskUse): DiskUse =
    DiskUse(files.filter { case (p, v) => !before.files.get(p).contains(v) })
}

object DiskUse {
  def scan(dir: String): DiskUse = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out(f.getPath) = (f.length(), f.lastModified())
    walk(new File(dir))
    DiskUse(out.toMap)
  }

  /** delete: equality/position delete sidecars; metadata: the catalog's
    * other underscore files (table json, snapshot manifests, indexes);
    * data: parquet; other: filesystem checksums. */
  def role(path: String): String = {
    val n = path.split('/').last
    if (n.startsWith("_eqdel-") || n.startsWith("_posdel-")) "delete"
    else if (n.startsWith("_")) "metadata"
    else if (n.endsWith(".parquet")) "data"
    else "other"
  }
}

/** A catalog warehouse observed from outside over the timed window: its
  * files on disk and its tables' snapshot counts (the `history`
  * procedure) at the window's start and end. */
final class WarehouseWindow(spark: SparkSession, dir: => String, catalog: String,
    tables: Seq[String]) {
  private var before, after: DiskUse = _
  private var commits = 0L

  private def snapshots: Long =
    tables.map(t => spark.sql(s"CALL $catalog.system.history('$t')").count()).sum

  def start(): Unit = { before = DiskUse.scan(dir); commits = -snapshots }
  def end(): Unit = { after = DiskUse.scan(dir); commits += snapshots }

  /** Per timed op, except `delete_files` (live at the end) and
    * `bytes_per_user_byte` (all warehouse bytes over `userBytes`). */
  def metrics(ops: Int, userBytes: Long): Map[String, Double] = {
    val written = after.writtenSince(before)
    Map(
      "storage.commits" -> commits.toDouble / ops,
      "storage.files_written" -> written.dataFiles.toDouble / ops,
      "storage.bytes_written" -> written.bytes.toDouble / ops,
      "storage.metadata_bytes" -> written.metadataBytes.toDouble / ops,
      "storage.delete_files" -> after.deleteFiles.toDouble,
      "storage.bytes_per_user_byte" -> after.bytes.toDouble / userBytes)
  }
}

/** The daily medallion run: `pipeline.Runner` over a `V2CatalogWarehouse`
  * fed by the seeded fake brewery API, one new run-date per op, from an
  * empty warehouse. */
final class Medallion(c: Ctx) extends Workload {
  import c._
  // the first day is cold (~10 s); the fourth is within about 15% of
  // where the day levels off
  override def warmRounds: Int = 3
  private val Cat = "pbmed"
  private val warehouse = s"$workDir/medallion"
  private val api = new FakeBreweryApi(seed)
  private val base = LocalDate.of(2024, 1, 1)
  // non-null-id records per run-date; only the current day's pages are
  // held, so the harness's own heap does not grow with the days run
  private val nonNullIds = mutable.Map.empty[Int, Long]
  private var today: FakeBreweryApi.Day = _
  private var storage: Storage = _
  private var userBytes = 0L
  private val window = new WarehouseWindow(spark, warehouse, Cat,
    Seq("brew.bronze", "brew.silver", "brew.gold"))
  private var counters0 = (0L, 0L, 0L)
  private var counters1 = (0L, 0L, 0L)

  private def date(i: Int) = base.plusDays(i.toLong)

  override def setup(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", warehouse)
    storage = new TracedStorage(new V2CatalogWarehouse(spark, Cat, "brew"), tracer)
  }

  override def prepare(i: Int): Unit = {
    today = api.day(i)
    nonNullIds(i) = today.nonNullIds
    userBytes += today.userBytes
  }

  override def clear(): Unit = today = null

  override def op(i: Int): Unit = tracer.span("pipeline.day") {
    val client = api.client(today, i)
    val fetcher = new RecordFetcher {
      def fetch(): Seq[String] = tracer.span("ingest.fetch")(client.fetch())
    }
    new Runner(spark, storage, fetcher).run(date(i))
  }

  /** Per run-date: (bronze rows, silver rows, gold's summed brewery_count). */
  private def partitionCounts(): Map[Date, (Long, Long, Long)] = {
    def byDate(t: String, agg: org.apache.spark.sql.Column) =
      spark.table(s"$Cat.brew.$t").groupBy("extraction_date").agg(agg).collect()
        .map(r => r.getDate(0) -> r.getLong(1)).toMap
    val b = byDate("bronze", count(lit(1)))
    val s = byDate("silver", count(lit(1)))
    val g = byDate("gold", sum(col("brewery_count")))
    b.keys.map(d => d -> ((b(d), s.getOrElse(d, -1L), g.getOrElse(d, -1L)))).toMap
  }

  /** Checked for every run-date at once, after the window: a day's write
    * may only touch its own partition, so checking at the end also
    * catches a later day damaging an earlier one. */
  override def check(i: Int): Boolean = true

  private def expected(i: Int) =
    ((api.PerPage * api.Pages).toLong, nonNullIds(i), nonNullIds(i))

  private def counters = (api.exchanges, api.retries, api.backoffMs)

  override def windowStart(): Unit = { window.start(); counters0 = counters }
  override def windowEnd(): Unit = { window.end(); counters1 = counters }

  /** One check per run-date — its bronze partition holds the day's
    * records and its silver rows and gold `brewery_count` sum equal the
    * day's non-null ids (the Runner's RunReport counts whole tables, so
    * the check reads the partitions itself) — then one for a same-date
    * re-run of the last run-date, which must leave every count unchanged. */
  override def finish(): Seq[Boolean] = {
    val counts = partitionCounts()
    val perDay = nonNullIds.keys.toSeq.sorted.map(i => counts.get(Date.valueOf(date(i))).contains(expected(i)))
    // the pages are regenerated: the fake API is deterministic per run-date
    val last = nonNullIds.keys.max
    new Runner(spark, storage, api.client(api.day(last), last)).run(date(last))
    perDay :+ (partitionCounts() == counts)
  }

  override def layerMetrics(n: Int): Map[String, Double] = {
    val (e0, r0, b0) = counters0
    val (e1, r1, b1) = counters1
    window.metrics(n, userBytes) ++ Map(
      "ingest.exchanges" -> (e1 - e0).toDouble / n,
      "ingest.retries" -> (r1 - r0).toDouble / n,
      "ingest.backoff_s" -> (b1 - b0) / 1000.0 / n,
      "ingest.useful_ratio" -> ((e1 - e0) - (r1 - r0)).toDouble / math.max(1L, e1 - e0))
  }
}

/** Storage that records each layer write as a span, and the jobs the
  * Runner runs between writes (its post-write `read().count()` and
  * `Gold.total`) as the `pipeline.rescan` segment. */
final class TracedStorage(inner: Storage, tracer: Tracer) extends Storage {
  override def read(table: String): DataFrame = inner.read(table)
  override def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit = {
    tracer.span(s"layers.$table")(inner.writePartitioned(df, table, partitionCol))
    tracer.segmentFrom("pipeline.rescan")
  }
  override def exists(table: String): Boolean = inner.exists(table)
}

/** The incremental training-data day: `TrainPrep.incrementalFold` over the
  * persisted history state, as graft.Bench's production variant runs it. */
final class CorpusDay(c: Ctx) extends Workload {
  import c._
  // the state build and the from-scratch reference run the fold's
  // operators first, so one more fold is enough warm-up
  override def warmRounds: Int = 1
  private val Name = "prep_corpus_incremental"
  private var expected: (Long, java.math.BigDecimal) = _
  private val results = mutable.Map.empty[Int, (Long, java.math.BigDecimal)]

  override def setup(): Unit = {
    graft.Bench.productionSetup(Name)(spark, dataDir)
    Workload.clearAll(spark)
  }

  /** The from-scratch manifest over history ∪ batch, history first. */
  override def reference(): Unit = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    expected = Workload.checksum(graft.ops.TrainPrep.prepareCorpusNearDup(
      docs, "doc_id", "text", "lang",
      priority = when(pmod(col("doc_id"), lit(5)) === 0, lit(1L)).otherwise(lit(0L))))
    Workload.clearAll(spark)
  }

  override def op(i: Int): Unit = tracer.span("ops.fold") {
    results(i) = Workload.checksum(graft.Bench.productionVariants(Name)(spark, dataDir))
  }

  override def check(i: Int): Boolean = results.remove(i).contains(expected)

  override def clear(): Unit = Workload.clearAll(spark)
}

object AnalystMix {
  val All: Seq[String] = Seq("q_gold_agg", "q_pricing_summary", "q_tpch3", "q_tpch5",
    "q_tpch9", "q_tpch13", "q_tpch21", "sim_topk_int8", "sim_topk_pq", "text_bm25",
    "text_pmi", "q_pagerank", "q_connected_components", "q_evolution_agg",
    "q_migrate_layout")
  /** One query per module of `All` but the parity one, for `lakehouse_mix`.
    * The graph query is PageRank, whose fixed iteration count keeps the
    * mix's job count independent of the seed. */
  val ModuleReads: Seq[String] = Seq("q_tpch3", "sim_topk_int8", "text_bm25", "q_pagerank",
    "q_evolution_agg")
}

/** A fixed set of read queries in a seeded order per round; each op is one
  * query, checked against its own first (untimed) run. */
final class AnalystMix(c: Ctx, val queries: Seq[String] = AnalystMix.All) extends Workload {
  import c._
  override def warmRound: Int = queries.size

  /** The span (module) each query is timed under. */
  def layer(q: String): String =
    if (q.startsWith("sim_")) "ops.similarity"
    else if (q.startsWith("text_")) "ops.text"
    else if (q == "q_pagerank" || q == "q_connected_components") "ops.graph"
    else if (q.startsWith("q_tpch")) "queries.tpch"
    else if (q.startsWith("q_evolution") || q == "q_migrate_layout") "storage.evolution"
    else "queries.parity"

  private val firstRun = mutable.Map.empty[String, (Long, java.math.BigDecimal)]
  private val results = mutable.Map.empty[Int, (Long, java.math.BigDecimal)]

  def queryAt(i: Int): String = {
    val round = i / queries.size
    new scala.util.Random(seed * 31L + round).shuffle(queries).apply(i % queries.size)
  }

  private val fn: Map[String, (SparkSession, String) => DataFrame] = {
    val variants = graft.Bench.productionVariants
    val all = graft.SparkEntry.queries
    queries.map(q => q -> variants.getOrElse(q, all(q))).toMap
  }

  override def setup(): Unit = queries.foreach { q =>
    graft.Bench.productionSetup.get(q).foreach(_(spark, dataDir))
  }

  override def op(i: Int): Unit = {
    val q = queryAt(i)
    tracer.span(layer(q)) { results(i) = Workload.checksum(fn(q)(spark, dataDir)) }
  }

  override def check(i: Int): Boolean = {
    val r = results.remove(i)
    val q = queryAt(i)
    r.exists(v => firstRun.getOrElseUpdate(q, v) == v)
  }

  override def clear(): Unit = Workload.clearAll(spark)
}

object LakehouseDml {
  /** graft.Bench's DML statements and the table each writes. */
  val All: Seq[(String, String)] = Seq(
    "q_dml_point_delete" -> "docs_del", "q_dml_partition_update" -> "docs_part",
    "q_dml_merge_mor" -> "docs_mor", "q_dml_merge_cow" -> "docs_cowm",
    "q_dml_merge_pos" -> "docs_pos")
  /** The three row-level MERGE strategies (equality deletes, copy-on-write,
    * position deletes), for `lakehouse_mix`. */
  val Merges: Seq[(String, String)] = All.filter(_._1.startsWith("q_dml_merge_"))
}

/** Row-level writes interleaved with reads of the same catalog tables:
  * graft.Bench's `q_dml_*` statements, each followed by a full scan of its
  * target, with delete-file maintenance once per round. Row counts are
  * checked against an in-memory model after every write. */
final class LakehouseDml(c: Ctx, statements: Seq[(String, String)] = LakehouseDml.All)
    extends Workload {
  import c._
  override def warmRound: Int = statements.size

  private val model = mutable.Map.empty[String, Long]
  private var deleteQueue: List[Long] = Nil
  private val deleted = mutable.Set.empty[Long]
  private var mergeInserts = 0L
  private var docsBytes = 0L
  private val results = mutable.Map.empty[Int, Long]
  private val readTimes = mutable.ArrayBuffer.empty[Double]
  private val writeTimes = mutable.ArrayBuffer.empty[Double]
  private var timing = false
  private var tracedRows = 0L
  // graft.Bench keeps its DML tables under a temp directory of its own
  private val window = new WarehouseWindow(spark,
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft-bench-dml")).head.getPath,
    "benchcat", statements.map("b." + _._2))

  override def setup(): Unit = {
    graft.Bench.productionSetup("q_dml_point_delete")(spark, dataDir)
    val m = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dataDir/model.json")))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val docs = (m \ "docs").extract[Long]
    deleteQueue = (m \ "delete_ids").extract[List[Long]]
    mergeInserts = (m \ "merge_inserts").extract[Long]
    LakehouseDml.All.foreach { case (_, t) => model(t) = docs }
    docsBytes = new File(s"$dataDir/documents.parquet").length()
  }

  def statementAt(i: Int): (String, String) = {
    val round = i / statements.size
    new scala.util.Random(seed * 17L + round).shuffle(statements).apply(i % statements.size)
  }

  private def timed[T](times: mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (timing) times += (System.nanoTime() - t0) / 1e9
  }

  override def op(i: Int): Unit = {
    val (stmt, table) = statementAt(i)
    tracer.span("storage.write")(timed(writeTimes) {
      graft.Bench.productionVariants(stmt)(spark, dataDir)
    })
    results(i) = tracer.span("storage.scan")(timed(readTimes) {
      val (n, _) = Workload.checksum(spark.table(s"benchcat.b.$table"))
      n
    })
    if (tracer.tracing) tracedRows += results(i)
    if (i % statements.size == statements.size - 1) tracer.span("storage.maintain") {
      spark.sql("CALL benchcat.system.rewrite_deletes('b.docs_mor')").collect()
      spark.sql("CALL benchcat.system.rewrite_deletes('b.docs_pos')").collect()
      spark.sql("CALL benchcat.system.compact('b.docs_cowm', 4)").collect()
    }
  }

  override def check(i: Int): Boolean = {
    val (stmt, table) = statementAt(i)
    stmt match {
      case "q_dml_point_delete" =>
        val id = deleteQueue match {
          case h :: t => deleteQueue = t; h
          case Nil => 0L
        }
        if (deleted.add(id)) model(table) -= 1
      case "q_dml_partition_update" => ()
      case _ => model(table) += mergeInserts
    }
    results.remove(i).contains(model(table))
  }

  override def windowStart(): Unit = { timing = true; window.start() }
  override def windowEnd(): Unit = { timing = false; window.end() }

  override def layerMetrics(n: Int): Map[String, Double] = {
    val scanned = exec.bySpan.get("storage.scan").map(_.inputRecords).getOrElse(0L)
    // the set-up writes every statement's table
    window.metrics(n, docsBytes * LakehouseDml.All.size) ++ Map(
      "dml.read_p50_s" -> Workload.median(readTimes.toSeq),
      "dml.write_p50_s" -> Workload.median(writeTimes.toSeq),
      "storage.rows_read_per_row" -> scanned.toDouble / math.max(1L, tracedRows))
  }
}

/** Two workloads as one: each round is a round of `a` and then a round of
  * `b`, and op `i` runs as the component's own op index, so each keeps
  * its own sequence, model and checks. Layer metrics are per timed op of
  * the whole. */
final class Interleaved(a: Workload, b: Workload, warm: Int) extends Workload {
  override def warmRound: Int = a.warmRound + b.warmRound
  override def warmRounds: Int = warm
  private var last: Workload = a

  private def at(i: Int): (Workload, Int) = {
    val (r, k) = (i / warmRound, i % warmRound)
    if (k < a.warmRound) (a, r * a.warmRound + k) else (b, r * b.warmRound + k - a.warmRound)
  }

  def setup(): Unit = { a.setup(); b.setup() }
  override def reference(): Unit = { a.reference(); b.reference() }
  override def prepare(i: Int): Unit = { val (w, j) = at(i); last = w; w.prepare(j) }
  def op(i: Int): Unit = { val (w, j) = at(i); w.op(j) }
  def check(i: Int): Boolean = { val (w, j) = at(i); w.check(j) }
  override def windowStart(): Unit = { a.windowStart(); b.windowStart() }
  override def windowEnd(): Unit = { a.windowEnd(); b.windowEnd() }
  override def finish(): Seq[Boolean] = a.finish() ++ b.finish()
  override def layerMetrics(n: Int): Map[String, Double] = a.layerMetrics(n) ++ b.layerMetrics(n)
  override def clear(): Unit = last.clear()
}
