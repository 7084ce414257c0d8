package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Shims

import graft.scenarios._

/** Runs one registered scale scenario, or profiles one query.
  *
  *   runMain graft.Scenarios <scenario> [args…]
  *   runMain graft.Scenarios <query> [iters=3] [planDir]
  *
  * A scenario prints one JSON line, `{"scenario":<name>, …its fields}`;
  * unset positional arguments take the scenario's defaults. A
  * `SparkEntry.queries` name instead runs what [[Bench]] times for it (its
  * production variant, after that variant's untimed setup) `iters` times,
  * printing each iteration's wall time, GC time and heap, then the final
  * iteration's slowest stages and its jobs grouped by SQL execution (each
  * execution named by the engine frames that started it, with its wall
  * time, jobs and tasks); with a `planDir` it also writes the formatted
  * and the AQE-final plan to `<planDir>/<query>.txt`.
  *
  * The session is `Engine.session` at `local[SPARK_GRAFT_CPUS]` (default:
  * all cores) with as many shuffle partitions; the data directory is
  * `SPARK_GRAFT_SF_DIR` (default `~/testdata/sf0.1`). Each run happens in
  * a tuned clone of the session, so conf a scenario sets never reaches
  * the caller's session.
  */
object Scenarios {

  val registry: Seq[Scenario] =
    RelationalScenarios.all ++ TrainPrepScenarios.all ++ SimilarityScenarios.all ++
      TextScenarios.all ++ StorageScenarios.all ++ StreamingScenarios.all

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(throw new IllegalArgumentException(
      "usage: graft.Scenarios <scenario> [args...] | <query> [iters=3] [planDir]; " +
        s"scenarios: ${registry.map(_.name).mkString(", ")}"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      s"${sys.props("user.home")}/testdata/sf0.1")
    val spark = Engine.session(s"local[$cpus]", "graft-scenarios", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, dataDir, name, args.toSeq.tail))
    finally spark.stop()
  }

  /** Runs scenario or query `name` over `dataDir` in a tuned clone of
    * `spark`; returns its JSON line. */
  def run(spark: SparkSession, dataDir: String, name: String, args: Seq[String]): String = {
    val session = Engine.tune(spark.newSession())
    val fields = registry.find(_.name == name) match {
      case Some(s) =>
        ("scenario" -> name) +: s.body(session, dataDir, args ++ s.defaults.drop(args.size))
      case None => ("query" -> name) +:
        profile(session, dataDir, name, args.headOption.fold(3)(_.toInt), args.lift(1))
    }
    json(fields)
  }

  private def profile(spark: SparkSession, dataDir: String, name: String,
      iters: Int, planDir: Option[String]): Seq[(String, Any)] = {
    val fn = Bench.resolve(name).getOrElse(throw new IllegalArgumentException(
      s"no scenario or query named $name"))
    Bench.productionSetup.get(name).foreach(_(spark, dataDir))
    def gcSecs(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    def clearAll(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def heapMb(): Long = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }

    final case class StageRow(id: Int, name: String, tasks: Int, taskSecs: Double,
        maxTaskSecs: Double, wallSecs: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    // per-stage max task duration, fed by onTaskEnd — the straggler signal
    val maxTask = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
    // jobs by SQL execution; -1 collects jobs run outside any execution.
    // Listener events arrive on one thread, and are read after a drain.
    final class Exec(var name: String, var startMs: Long = 0L, var endMs: Long = 0L,
        var jobs: Int = 0, var tasks: Int = 0)
    val execs = scala.collection.mutable.LinkedHashMap.empty[Long, Exec]
    val stageExec = scala.collection.mutable.Map.empty[Int, Long]
    def exec(id: Long): Exec = execs.getOrElseUpdate(id, new Exec("(no SQL execution)"))
    @volatile var record = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = if (record) e match {
        case s: SparkListenerSQLExecutionStart =>
          val x = exec(s.executionId)
          x.name = engineFrames(s.details); x.startMs = s.time
        case s: SparkListenerSQLExecutionEnd => exec(s.executionId).endMs = s.time
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = if (record) {
        val id = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .fold(-1L)(_.toLong)
        exec(id).jobs += 1
        js.stageIds.foreach(stageExec(_) = id)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (record) {
        if (te.taskInfo != null)
          maxTask.merge(te.stageId, te.taskInfo.duration / 1e3, (a, b) => math.max(a, b))
        stageExec.get(te.stageId).foreach(exec(_).tasks += 1)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) {
          val i = sc.stageInfo
          val wall = (for (a <- i.completionTime; b <- i.submissionTime)
            yield (a - b) / 1e3).getOrElse(0.0)
          stages.add(StageRow(i.stageId, i.name.linesIterator.next().take(90),
            i.numTasks, i.taskMetrics.executorRunTime / 1e3,
            Option(maxTask.get(i.stageId)).fold(0.0)(_.doubleValue()), wall))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val runs = try (1 to iters).map { i =>
      record = i == iters
      val gc0 = gcSecs()
      val (t, rows) = Scenario.time(fn(spark, dataDir).count())
      val gc = gcSecs() - gc0
      println(f"[profile] $name iter $i: $t%.3f s (gc $gc%.3f s, heap ${heapMb()}m, rows=$rows)")
      // the listener bus is asynchronous: drain it before reading the
      // stage table or the tail (often slowest) stages are silently lost
      Shims.drainListenerBus(spark.sparkContext)
      record = false
      clearAll(); System.gc()
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    println(f"[profile] final-iteration stages by wall time (${stages.size()} stages total):")
    stages.asScala.toSeq.sortBy(-_.wallSecs).take(20).foreach { s =>
      println(f"[profile]   stage ${s.id}%5d wall=${s.wallSecs}%7.3f s "
        + f"taskTime=${s.taskSecs}%8.3f s maxTask=${s.maxTaskSecs}%7.3f s "
        + f"tasks=${s.tasks}%4d  ${s.name}")
    }
    val jobs = execs.values.map(_.jobs).sum
    println(f"[profile] final-iteration jobs by SQL execution ($jobs jobs total):")
    execs.foreach { case (id, x) => if (x.jobs > 0) {
      val wall = if (x.endMs >= x.startMs) (x.endMs - x.startMs) / 1e3 else Double.NaN
      println(f"[profile]   sql $id%5d wall=$wall%7.3f s jobs=${x.jobs}%3d "
        + f"tasks=${x.tasks}%4d  ${x.name}")
    }}

    val plan = planDir.map { dir =>
      val df = fn(spark, dataDir)
      val initial = df.queryExecution.explainString(FormattedMode)
      // Execute THIS QueryExecution's plan (df.count() would build a new
      // one and leave this AdaptiveSparkPlan un-finalized): after the
      // action, toString renders the AQE-final plan — reused shuffle
      // stages, runtime join strategy changes, coalesced reads.
      val ep = df.queryExecution.executedPlan
      ep.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        .resolve(s"$name.txt")
      java.nio.file.Files.writeString(out, s"== query: $name (sf=$dataDir) ==\n\n" +
        "---- explain(\"formatted\") ----\n" + initial +
        "\n---- executedPlan after one run (AQE final) ----\n" + ep + "\n")
      clearAll()
      out.toString
    }
    Seq("runs_s" -> runs, "stages" -> stages.size(), "jobs" -> jobs) ++ plan.map("plan" -> _)
  }

  /** The first two engine frames of a SQL execution's call site (its
    * `details`), skipping this runner, its scenarios and [[Bench]]: the
    * operator that started the execution, and its caller. */
  private[graft] def engineFrames(details: String): String = {
    val runner = Seq("graft.Scenarios", "graft.scenarios.", "graft.Bench")
    val frames = details.linesIterator.map(_.trim.replace("$", ""))
      .filter(f => f.startsWith("graft.") && !runner.exists(f.startsWith))
      .toSeq.distinct.take(2)
    if (frames.isEmpty) "(the profiled action)" else frames.mkString(" < ")
  }

  private def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case fields: Seq[_] if fields.nonEmpty && fields.forall(_.isInstanceOf[(_, _)]) =>
      fields.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }
}
