package graft

import org.apache.spark.sql.graftshim.Shims

import graft.queries.Parity
import graft.sources.Tables

/** The one testdata reader, [[Parity.t]]: its declared schemas are the
  * files' own, a read plans with no job and no session conf write, and
  * the driver's entry point tunes the session it is handed. */
class TablesSpec extends SparkSpec {

  private val testdata = new java.io.File(s"${sys.props("user.home")}/testdata")
  private val sf = s"$testdata/sf0.001"

  test("every declared schema equals its file's footer schema in each testdata scale") {
    val dirs = Option(testdata.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).sortBy(_.getName)
    assert(dirs.nonEmpty, testdata)
    for (d <- dirs; name <- Tables.schemas.keys.toSeq.sorted) {
      val footer = spark.read.parquet(s"$d/$name.parquet").schema
      val declared = Parity.t(spark, d.getPath, name).schema
      // StructType equality covers field order, types, nullability and
      // array<float>'s element nullability
      assert(declared == footer,
        s"$d/$name\n  declared: ${declared.treeString}\n  footer:   ${footer.treeString}")
    }
  }

  test("a testdata read writes no session conf and plans with no job") {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    val before = s.conf.getAll
    val sc = s.sparkContext
    sc.setJobGroup("testdata-read", "testdata-read", interruptOnCancel = false)
    try Tables.schemas.keys.foreach(n => Parity.t(s, sf, n).queryExecution.executedPlan)
    finally sc.clearJobGroup()
    Shims.drainListenerBus(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup("testdata-read").length
    assert(jobs == 0, s"$jobs jobs to read and plan the testdata tables")
    assert(s.conf.getAll == before)
  }

  test("SparkEntry.entry on an untuned session returns the shared session's rows") {
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.ansi.enabled") == "true") // Spark 4's default
    val rows = SparkEntry.entry(s).collect().toSeq
    assert(rows.nonEmpty && rows == SparkEntry.entry(spark).collect().toSeq)
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
  }
}
