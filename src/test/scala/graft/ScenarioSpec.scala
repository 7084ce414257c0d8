package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The scenario registry behind [[graft.Scenarios]]: every scenario runs,
  * with its own checks, at a tiny size; none leaks conf into the caller's
  * session; query mode profiles and dumps plans; and only `Engine`,
  * `Verify` and `Bench` build sessions. */
class ScenarioSpec extends SparkSpec {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Positional arguments small enough for a local[4] suite, per scenario.
    * The product code keeps only the full-size defaults. */
  private val tiny: Map[String, Seq[String]] = Map(
    "skew_join" -> Seq("2000"),
    "maintenance" -> Seq("2000"),
    "graph_skew" -> Seq("500", "20", "500"),
    "cc_regime" -> Seq("2000", "64", "1"),
    "corpus_fold" -> Seq("150"),
    "bloom_gate" -> Seq("20000", "2000", "5"),
    "excise" -> Seq("4", "200", "8"),
    "span_index" -> Seq("3"),
    "grouped_enum" -> Seq("10000"),
    "bigram_skew" -> Seq("200"),
    "vector_index" -> Seq("500", "8", "1"),
    "ivf_skew" -> Seq("500"),
    "codebook_drift" -> Seq("300"),
    "q8" -> Seq("2000", "8"),
    "bpe" -> Seq("1", "1"),
    "sparse_skew" -> Seq("200"),
    "poly_hash" -> Seq("2000", "4"),
    "media_decode" -> Seq("2000"),
    "write" -> Seq("2000"),
    "merge_scale" -> Seq("2000", "4", "100"),
    "sidecar_curve" -> Seq("2000", "4", "2", "100"),
    "evolution" -> Seq("4000", "16"),
    "bloom_index" -> Seq("8000", "4"),
    "spj_skew" -> Seq("2000"),
    "medallion_day" -> Seq("2", "100"),
    "stream" -> Seq("1"),
    "label_squash" -> Seq("2", "100", "500"))

  /** Conf keys scenarios set in their own session clone. */
  private val watched = Seq("spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.skewJoin.enabled")
  private lazy val confBefore = watched.map(k => k -> spark.conf.getOption(k))

  /** Scenarios that clear the shared cache or unpersist every RDD run one
    * at a time, after the rest; the rest run four at a time, the slowest
    * started first, so their many small jobs overlap on local[4]. */
  private val alone = Set("cc_regime", "span_index", "grouped_enum", "bigram_skew")
  private val slowest = Seq("codebook_drift", "corpus_fold", "ivf_skew", "graph_skew")
  private val (solo, overlapped) = Scenarios.registry.map(_.name).partition(alone)
  private lazy val started: Map[String, Future[String]] = {
    confBefore
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try overlapped.sortBy(n => slowest.indexOf(n) match { case -1 => slowest.size; case i => i })
      .map(n => n -> Future(Scenarios.run(spark, sf, n, tiny(n)))).toMap
    finally pool.shutdown()
  }

  test("every registered scenario has tiny arguments in this spec") {
    assert(tiny.keySet == Scenarios.registry.map(_.name).toSet)
    assert(Scenarios.registry.map(_.name).distinct.size == Scenarios.registry.size)
  }

  /** Each scenario's line, run once. */
  private val lines = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def line(name: String): String = lines.computeIfAbsent(name, _ =>
    started.get(name) match {
      case Some(run) => Await.result(run, 10.minutes)
      case None =>
        started.values.foreach(Await.ready(_, 10.minutes))
        Scenarios.run(spark, sf, name, tiny(name))
    })

  (overlapped ++ solo).foreach { name =>
    test(s"scenario $name runs its checks at a tiny size") {
      assert(line(name).startsWith(s"""{"scenario":"$name","""), line(name))
    }
  }

  test("graph_skew's tiny chains take clustersFast's in-task path") {
    val line = Await.result(started("graph_skew"), 10.minutes)
    assert(""""chosen_path":"in_task"""".r.findAllIn(line).size == 2, line)
  }

  test("graph_skew's tiny hub graph takes pageRank's in-task path") {
    val line = Await.result(started("graph_skew"), 10.minutes)
    assert(""""pagerank_path":"in_task"""".r.findAllIn(line).size == 1, line)
  }

  test("grouped_enum's tiny run takes groupedRunningSum's in-task path") {
    assert(line("grouped_enum").contains(""""path":"in_task""""), line("grouped_enum"))
  }

  test("medallion_day's tiny run writes each layer in one task, one file per run-date") {
    val l = line("medallion_day")
    assert(""""[a-z]+_path":"one_task"""".r.findAllIn(l).size == 3, l)
    assert(""""[a-z]+_files_per_date":1[,}]""".r.findAllIn(l).size == 3, l)
  }

  test("scenarios leave the caller's session conf as it was") {
    assert(watched.map(k => k -> spark.conf.getOption(k)) == confBefore)
  }

  test("query mode profiles the production variant and writes its plans") {
    val dir = java.nio.file.Files.createTempDirectory("scenario-plans")
    val line = Scenarios.run(spark, sf, "q_total", Seq("2", dir.toString))
    assert(line.startsWith("""{"query":"q_total","runs_s":["""), line)
    assert(""""jobs":[1-9]""".r.findFirstIn(line).isDefined, line)
    val plan = java.nio.file.Files.readString(dir.resolve("q_total.txt"))
    assert(plan.contains("explain(\"formatted\")") && plan.contains("AQE final"), plan)
  }

  test("a rerun of a catalog-backed query keeps its session's warehouse") {
    val s = Engine.tune(spark.newSession())
    val key = "spark.sql.catalog.vidxq.warehouse"
    SparkEntry.queries("sim_topk_ivf_indexed")(s, sf).count()
    val first = s.conf.get(key)
    SparkEntry.queries("sim_topk_ivf_indexed")(s, sf).count()
    assert(s.conf.get(key) == first)
  }

  test("only Engine, Verify and Bench build sessions in the main tree") {
    val allowed = Set("Engine", "Verify", "Bench").map(n => s"src/main/scala/graft/$n.scala")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root)
    val hits = for {
      f <- files(root) if f.getName.endsWith(".scala") && !allowed(f.getPath)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
