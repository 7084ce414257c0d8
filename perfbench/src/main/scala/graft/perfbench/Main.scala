package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session at local[cores], untimed state
  * build and a fixed warm-up, then closed-loop timed ops from one client thread
  * for `seconds`, then the output checks. Prints one line
  * `PERFBENCH_RESULT {json}` holding the end-to-end metrics (trace 0) or
  * the per-layer metrics (trace 1), the op counts and an environment
  * stamp.
  *
  *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cores>
  */
object Main {

  /** Session starts per run; set-up counts their median. */
  val SessionStarts = 3

  /** Which rounds of a traced run's window are traced, cyclically. */
  val TraceCycle: Seq[Boolean] = Seq(true, false, false, true)

  /** Span names reported as per-op seconds (in traced ops). */
  val spanMetrics: Seq[String] = Seq("pipeline.day", "pipeline.rescan", "ingest.fetch",
    "layers.bronze", "layers.silver", "layers.gold", "ops.fold", "ops.similarity",
    "ops.text", "ops.graph", "queries.tpch", "storage.evolution",
    "storage.scan", "storage.maintain")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    def start(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
        .config("spark.local.dir", s"$workDir/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.Engine.tune(s)
    }
    // the session is started several times and the median start is the
    // one set-up counts: the first start in a fresh JVM is dominated by
    // class loading and swings with the host's load
    val sessionSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    while (sessionSecs.size < SessionStarts) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = start()
      sessionSecs += (System.nanoTime() - t0) / 1e9
    }
    val sessionS = Workload.median(sessionSecs.toSeq)
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val plans = new PlanListener
    spark.listenerManager.register(plans)
    val tracer = new Tracer(spark.sparkContext)

    val w = Workload(workload, Ctx(spark, tracer, exec, seed, dataDir, workDir))
    val s0 = System.nanoTime()
    w.setup()
    val stateS = (System.nanoTime() - s0) / 1e9
    val r0 = System.nanoTime()
    w.reference()
    val referenceS = (System.nanoTime() - r0) / 1e9

    var failed = 0
    var i = 0
    var liveHeap = 0L
    /** Runs op `i` (timed when `timed`), then its check; false on a wrong
      * output or an exception. */
    def step(timed: Boolean, traced: Boolean): (Double, Boolean) = {
      w.prepare(i)
      var secs = 0.0
      val ok =
        try {
          secs =
            if (timed) tracer.timedOp(i, traced)(w.op(i))
            else { val t = System.nanoTime(); w.op(i); (System.nanoTime() - t) / 1e9 }
          w.check(i)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] op $i failed: $e")
            e.printStackTrace()
            false
        }
      w.clear()
      // every op starts from a collected heap (as graft.Bench does between
      // queries), and the live set left after it is its heap footprint
      System.gc()
      liveHeap = math.max(liveHeap,
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      i += 1
      (secs, ok)
    }

    // warm-up, untimed: a fixed number of rounds per workload
    val rounds = mutable.ArrayBuffer.empty[Double]
    var warmFailed = 0
    while (rounds.size < w.warmRounds) {
      val r = (1 to w.warmRound).map(_ => step(timed = false, traced = false))
      warmFailed += r.count(!_._2)
      rounds += r.map(_._1).sum
    }

    // the timed window: whole rounds, until `seconds` have been measured
    liveHeap = 0L
    w.windowStart()
    val opSecs = mutable.ArrayBuffer.empty[Double]
    val tracedSecs = mutable.ArrayBuffer.empty[Double]
    val untracedSecs = mutable.ArrayBuffer.empty[Double]
    // a traced run holds at least one traced-untraced-untraced-traced
    // cycle of rounds, so that the tracing overhead is measured and a
    // drift over the window (the tail of the warm-up) cancels out of it
    while (opSecs.sum < seconds || opSecs.size % w.warmRound != 0 ||
        (trace && opSecs.size < TraceCycle.size * w.warmRound)) {
      // whole rounds are traced or not, so both halves hold the same mix
      // of op kinds
      val traced = trace && TraceCycle((opSecs.size / w.warmRound) % TraceCycle.size)
      val (s, ok) = step(timed = true, traced = traced)
      opSecs += s
      (if (traced) tracedSecs else untracedSecs) += s
      if (!ok) failed += 1
    }
    val peakHeapMb = liveHeap / 1048576.0
    w.windowEnd()
    val finished = w.finish()
    Bus.drain(spark.sparkContext)

    val n = opSecs.size
    val timedS = opSecs.sum
    val sorted = opSecs.sorted
    def pct(p: Double) = sorted(math.min(n - 1, math.ceil(p * n).toInt - 1).max(0))
    val t = exec.timed
    // wall time of timed ops not covered by any of their running stages
    val covered = union(exec.stageWindows.toSeq) / 1000.0
    val planS = plans.plans.filter { case (start, _) =>
      tracer.opWindows.exists { case (a, b) => start >= a && start <= b }
    }.map(_._2).sum / 1000.0

    // Only metrics that repeat within a tenth across seeds are end-to-end
    // (bounded); the time metrics swing 10-30% between runs with the VM
    // host's contention, so they are reported per run and in the traced
    // output instead. Spark jobs per op is the timed work the bound sees.
    val endToEnd = Seq(
      "setup_s" -> (sessionS + stateS, "s"),
      "peak_heap_mb" -> (peakHeapMb, "MB"),
      "jobs_per_op" -> (t.jobs.toDouble / n, "count"))
    val opsPerS = n / timedS
    val cpuPerOp = t.cpuNs / 1e9 / n

    val nTraced = math.max(1, tracedSecs.size)
    def spanS(names: String*) =
      tracer.spans.filter(s => names.contains(s.name)).map(_.seconds).sum / nTraced
    def spanJobs(name: String) = exec.bySpan.get(name).map(_.jobs).getOrElse(0L).toDouble / nTraced
    val measured: Map[String, Double] =
      (spanMetrics.map(s => s"${s}_s" -> spanS(s)) ++ Seq(
        "run.ops_per_s" -> opsPerS,
        "run.op_p50_s" -> pct(0.5),
        "run.cpu_s_per_op" -> cpuPerOp,
        "pipeline.rescan_jobs" -> spanJobs("pipeline.rescan"),
        "storage.write_s" -> spanS("layers.bronze", "layers.silver", "layers.gold", "storage.write"),
        "exec.plan_s" -> planS / n,
        "exec.jobs" -> t.jobs.toDouble / n,
        "exec.stages" -> t.stages.toDouble / n,
        "exec.tasks" -> t.tasks.toDouble / n,
        "exec.task_run_s" -> t.taskRunMs / 1000.0 / n,
        "exec.cpu_s" -> t.cpuNs / 1e9 / n,
        "exec.gc_s" -> t.gcMs / 1000.0 / n,
        "exec.sched_wait_s" -> t.schedMs / 1000.0 / n,
        "exec.driver_gap_s" -> math.max(0.0, timedS - covered) / n,
        "exec.shuffle_read_bytes" -> t.shuffleRead.toDouble / n,
        "exec.shuffle_write_bytes" -> t.shuffleWrite.toDouble / n,
        "exec.spill_bytes" -> t.spill.toDouble / n,
        "exec.input_bytes" -> t.inputBytes.toDouble / n,
        "trace.overhead_s" ->
          (if (tracedSecs.isEmpty || untracedSecs.isEmpty) 0.0
           else Workload.median(tracedSecs.toSeq) - Workload.median(untracedSecs.toSeq)))).toMap ++
        w.layerMetrics(n)
    // every per-layer metric on every workload: a bypassed layer reads 0
    val perLayer = perLayerNames.map(k => k -> measured.getOrElse(k, 0.0))

    // the tail: the highest percentile with at least ten samples beyond it
    val tailPct = (1 to 99).reverse.map(_ / 100.0).find(p => n - math.ceil(p * n) >= 10)
    // every checked op: warm-up, timed, and the final check
    val attempted = i + finished.size
    val failedAll = failed + warmFailed + finished.count(!_)
    val result = Json.obj(
      "correct" -> Json.bool(failedAll == 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failedAll),
      "metrics" -> Json.obj((if (trace) perLayer.map { case (k, v) => k -> (v, unitOf(k)) }
        else endToEnd).map { case (k, (v, u)) =>
          k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "detail" -> Json.obj(
        "workload" -> Json.str(workload),
        "seed" -> Json.num(seed),
        "timed_ops" -> Json.num(n),
        "timed_s" -> Json.num(timedS),
        "warmup_round_s" -> Json.arr(rounds.toSeq.map(x => Json.num(x))),
        "warmup_failed" -> Json.num(warmFailed),
        "session_s" -> Json.num(sessionS),
        "session_starts_s" -> Json.arr(sessionSecs.toSeq.map(x => Json.num(x))),
        "state_s" -> Json.num(stateS),
        "reference_s" -> Json.num(referenceS),
        "op_s" -> Json.arr(opSecs.toSeq.map(x => Json.num(x))),
        "ops_per_s" -> Json.num(opsPerS),
        "op_p50_s" -> Json.num(pct(0.5)),
        "cpu_s_per_op" -> Json.num(cpuPerOp),
        "op_tail_s" -> tailPct.map(p => Json.num(pct(p))).getOrElse("null"),
        "op_tail_pct" -> tailPct.map(p => Json.num(p * 100)).getOrElse("null"),
        "failed_frac" -> Json.num(failedAll.toDouble / attempted),
        "traced_ops" -> Json.num(tracedSecs.size),
        "spans" -> Json.num(tracer.spans.size)),
      "env" -> Json.obj(
        "master" -> Json.str(spark.sparkContext.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark" -> Json.str(spark.version),
        "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0)))
    if (trace) writeSpans(tracer, s"$workDir/spans.jsonl")
    println("PERFBENCH_RESULT " + result)
    spark.stop()
  }

  val perLayerNames: Seq[String] = Seq("run.ops_per_s", "run.op_p50_s", "run.cpu_s_per_op") ++
    spanMetrics.map(_ + "_s") ++ Seq(
    "pipeline.rescan_jobs", "ingest.exchanges", "ingest.retries", "ingest.backoff_s",
    "ingest.useful_ratio", "storage.write_s", "storage.commits", "storage.files_written",
    "storage.bytes_written", "storage.metadata_bytes", "storage.delete_files",
    "storage.rows_read_per_row", "storage.bytes_per_user_byte", "dml.read_p50_s",
    "dml.write_p50_s", "exec.plan_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.cpu_s", "exec.gc_s", "exec.sched_wait_s", "exec.driver_gap_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.input_bytes", "trace.overhead_s")

  def unitOf(metric: String): String =
    if (metric.endsWith("per_s")) "1/s"
    else if (metric.endsWith("_s") || metric.endsWith("_per_op")) "s"
    else if (metric.endsWith("_bytes") || metric == "storage.bytes_written") "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_per_row") ||
      metric.endsWith("_per_user_byte")) "ratio"
    else "count"

  /** Total length of the union of [start, end] intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def writeSpans(tracer: Tracer, path: String): Unit = {
    val lines = tracer.spans.map { s =>
      Json.obj("name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs), "parent" -> Json.str(s.parent), "op" -> Json.num(s.op))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Just enough JSON for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
