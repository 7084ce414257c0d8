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

  test("events' schema, read from its footer on the driver, is spark.read's inference " +
      "in each testdata scale and in both ts shapes, with no job") {
    val dirs = Option(testdata.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).sortBy(_.getName)
    for (d <- dirs) assert(Parity.t(spark, d.getPath, "events").schema ==
      spark.read.parquet(s"$d/events.parquet").schema, d)
    // the two parquet shapes events.ts has shipped in: NANOS (a LONG under
    // spark.sql.legacy.parquet.nanosAsLong) and MICROS-NTZ
    val tmp = java.nio.file.Files.createTempDirectory("events-ts")
    for ((name, ts) <- Seq("nanos" -> "NANOS", "micros" -> "MICROS")) {
      val f = new org.apache.hadoop.fs.Path(s"$tmp/$name/events.parquet")
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        s"message events { required int64 event_id; optional int64 ts (TIMESTAMP($ts,false)); " +
          "optional binary props (STRING); }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(f)
        .withType(schema).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("event_id", 1L).append("ts", 1000L).append("props", "{}"))
      finally w.close()
      val inferred = spark.read.parquet(f.toString).schema
      assert(inferred("ts").dataType == (if (name == "nanos") org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.TimestampNTZType))
      assert(Parity.t(spark, s"$tmp/$name", "events").schema == inferred, name)
    }
    val sc = spark.sparkContext
    sc.setJobGroup("events-read", "events-read", interruptOnCancel = false)
    try Parity.t(spark, sf, "events").queryExecution.executedPlan
    finally sc.clearJobGroup()
    Shims.drainListenerBus(sc)
    assert(sc.statusTracker.getJobIdsForGroup("events-read").isEmpty)
  }

  test("SparkEntry.entry on an untuned session returns the shared session's rows") {
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.ansi.enabled") == "true") // Spark 4's default
    val rows = SparkEntry.entry(s).collect().toSeq
    assert(rows.nonEmpty && rows == SparkEntry.entry(spark).collect().toSeq)
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
  }
}
