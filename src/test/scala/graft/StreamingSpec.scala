package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamIngest

/** Streaming parity: the reference's incremental `tails` state
  * (stream/open_stream.go:77-105 updates tails on each Write) must hold
  * under incremental micro-batch execution, not just batch recompute.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(space: String, grouping: String, ts_us: Long, event_id: Long, payload: String)

  test("runningTails tracks per-index heads across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamIngest.runningTails(mem.toDF(), "i")
      .writeStream.format("memory").queryName("tails_t").outputMode(OutputMode.Complete())
      .start()
    try {
      mem.addData(Ev("s", "u1", 1L, 1L, """{"i": "a"}"""), Ev("s", "u2", 2L, 2L, """{"i": "b"}"""))
      q.processAllAvailable()
      val r1 = spark.table("tails_t").as[(String, Long)].collect().toMap
      assert(r1 == Map("a" -> 1L, "b" -> 2L))

      mem.addData(Ev("s", "u1", 3L, 3L, """{"i": "a"}"""))
      q.processAllAvailable()
      val r2 = spark.table("tails_t").as[(String, Long)].collect().toMap
      assert(r2 == Map("a" -> 3L, "b" -> 2L))
    } finally q.stop()
  }

  test("statefulTails (mapGroupsWithState) tracks heads incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamIngest.statefulTails(spark, mem.toDF(), "i")
      .writeStream.format("memory").queryName("stails_t").outputMode(OutputMode.Update())
      .start()
    try {
      mem.addData(Ev("s", "u1", 1L, 1L, """{"i": "a"}"""), Ev("s", "u2", 2L, 7L, """{"i": "a"}"""))
      q.processAllAvailable()
      val r1 = spark.table("stails_t").as[(String, Long)].collect().toMap
      assert(r1 == Map("a" -> 7L))

      mem.addData(Ev("s", "u1", 3L, 3L, """{"i": "a"}"""), Ev("s", "u3", 4L, 9L, """{"i": "b"}"""))
      q.processAllAvailable()
      // update mode: latest emit per key wins
      val r2 = spark.table("stails_t").as[(String, Long)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(r2 == Map("a" -> 7L, "b" -> 9L))
    } finally q.stop()
  }

  test("file-source ingest: appended batches flow into running tails") {
    // the real append-log shape: a directory of parquet batches read as
    // a stream (reference: open_stream.go appends + lazy populate)
    val dir = java.nio.file.Files.createTempDirectory("gstream").toString
    val batch1 = Seq(
      ("s", "u1", 1L, 1L, 0.0, """{"i": "a"}"""),
      ("s", "u2", 2L, 2L, 0.0, """{"i": "b"}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    batch1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
    val q = StreamIngest.runningTails(stream, "i")
      .writeStream.format("memory").queryName("ftails_t").outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("ftails_t").as[(String, Long)].collect().toMap == Map("a" -> 1L, "b" -> 2L))
      Seq(("s", "u1", 3L, 5L, 0.0, """{"i": "a"}"""))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("ftails_t").as[(String, Long)].collect().toMap == Map("a" -> 5L, "b" -> 2L))
    } finally q.stop()
  }

  test("extensions install vec_dot for SQL text queries") {
    graft.functions.VectorFunctions.register(spark)
    val got = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].collect()
    assert(got.sameElements(Array(11.0)))
    // the cluster-deployment path wires the same builder
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.engine.GraftExtensions().apply(ext)
  }

  test("streaming exact dedup drops payload duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamIngest.dedupExact(mem.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_t").outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(
        Ev("s", "u1", 1L, 1L, """{"p": "same"}"""),
        Ev("s", "u2", 2L, 2L, """{"p": "same"}"""), // duplicate payload
        Ev("s", "u3", 3L, 3L, """{"p": "other"}"""))
      q.processAllAvailable()
      mem.addData(Ev("s", "u4", 4L, 4L, """{"p": "same"}""")) // late duplicate, still in watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_t").select("event_id").as[Long].collect().sorted
      assert(ids.length == 2) // one survivor per distinct payload
      assert(ids.contains(3L))
    } finally q.stop()
  }

  test("stream-stream interval join enriches within the lookback window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val min = 60L * 1000000
    val q = StreamIngest.enrichInterval(clicks.toDF(), buys.toDF(), "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("enrich_t").outputMode(OutputMode.Append())
      .start()
    try {
      buys.addData(Ev("purchase", "u1", 10 * min, 100L, "{}"),
        Ev("purchase", "u1", 50 * min, 101L, "{}"))
      clicks.addData(
        Ev("click", "u1", 20 * min, 1L, "{}"),  // joins purchase@10m (within 30m lookback)
        Ev("click", "u1", 60 * min, 2L, "{}"),  // joins purchase@50m only (10m is 50m back)
        Ev("click", "u2", 20 * min, 3L, "{}"))  // no purchases for u2 → no row (inner join)
      q.processAllAvailable()
      val got = spark.table("enrich_t").select("l_event_id", "r_event_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L), (2L, 101L)))
    } finally q.stop()
  }

  test("SQL text surface: views + engine functions compose in spark.sql") {
    graft.engine.GraftViews.register(spark, "/root/testdata/sf0.001")
    val got = spark.sql(
      """SELECT grouping, count(*) AS n FROM event_frame
        |WHERE space = 'click' AND json_attr(payload, 'k') = '42'
        |GROUP BY grouping ORDER BY n DESC, grouping LIMIT 3""".stripMargin).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(1) >= 1L))
  }

  test("readTail: appends arrive incrementally, exactly once across restarts") {
    val store = java.nio.file.Files.createTempDirectory("tailstore").toString + "/log"
    val out = java.nio.file.Files.createTempDirectory("tailout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tailckpt").toString
    def batch(r: Range) = r.map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong, i.toLong, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    graft.engine.EsdbWriter.write(batch(1 to 100), store)
    def drain(): Unit =
      graft.engine.EsdbWriter.readTail(spark, store)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    assert(spark.read.parquet(out).count() == 100)
    graft.engine.EsdbWriter.append(batch(101 to 150), store)
    drain() // same checkpoint: only the appended batch is processed
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.length == 150 && ids.toSeq == (1L to 150L)) // no duplicates, nothing lost
  }

  test("admission control: cold-start log replay drains as bounded micro-batches") {
    // the reference's caller-driven loop (stream/stream.go:92-124)
    // naturally chunks a catch-up; maxFilesPerTrigger/maxRowsPerTrigger
    // give the streaming surface the same property
    val store = java.nio.file.Files.createTempDirectory("admstore").toString + "/log"
    def batch(r: Range) = r.map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong, i.toLong, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "payload")
    graft.engine.EsdbWriter.writeLog(batch(1 to 40), store)
    (1 to 4).foreach(k => graft.engine.EsdbWriter.appendLog(batch(40 * k + 1 to 40 * (k + 1)), store))
    val nFiles = graft.engine.EsdbWriter.logManifestInfo(spark.sparkContext.hadoopConfiguration,
      graft.engine.EsdbWriter.dataRoot(spark, store)).get.size
    assert(nFiles >= 5)

    def drain(opts: Map[String, String]): Seq[Long] = {
      val out = java.nio.file.Files.createTempDirectory("admout").toString
      val ckpt = java.nio.file.Files.createTempDirectory("admckpt").toString
      var reader = spark.readStream.format("esdblog")
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load(store)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == (1L to 200L)) // complete and exactly once, however chunked
      q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    }

    // one file per trigger: as many non-empty batches as log files
    val perFile = drain(Map("maxFilesPerTrigger" -> "1"))
    assert(perFile.length == nFiles)
    assert(perFile.forall(_ <= 40L))
    // row cap at file granularity: each batch covers whole files whose
    // counts fit the cap (every file here is exactly 40 rows)
    val perRows = drain(Map("maxRowsPerTrigger" -> "80"))
    assert(perRows.length >= 3)
    assert(perRows.forall(_ <= 80L))
    // no cap: the whole backlog is one batch (prior default, unchanged)
    assert(drain(Map.empty).length == 1)
  }

  test("session windows split per grouping; the exact-gap boundary merges (batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamIngest.sessionCounts(mem.toDF(), "30 minutes", "1 hour")
      .select($"grouping", unix_micros($"session_window.start").as("start_us"), $"n_events")
      .writeStream.format("memory").queryName("sess_t").outputMode(OutputMode.Complete())
      .start()
    try {
      val min = 60L * 1000000
      mem.addData(
        Ev("click", "u1", 0 * min, 1L, "{}"),
        Ev("click", "u1", 10 * min, 2L, "{}"),  // merges (10 < 30 gap)
        Ev("click", "u1", 40 * min, 3L, "{}"),  // exactly prev + 30min: MERGES (> gap splits)
        Ev("click", "u1", 71 * min, 4L, "{}"),  // 31 > 30: new session
        Ev("click", "u2", 5 * min, 5L, "{}"))
      q.processAllAvailable()
      val got = spark.table("sess_t").select("grouping", "start_us", "n_events")
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(got == Seq(("u1", 0L, 3L), ("u1", 71 * min, 1L), ("u2", 5 * min, 1L)))
    } finally q.stop()
  }

  test("windowed counts aggregate by tumbling event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamIngest.windowedCounts(mem.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("wins_t").outputMode(OutputMode.Complete())
      .start()
    try {
      val min = 60L * 1000000
      mem.addData(
        Ev("click", "u1", 1 * min, 1L, "{}"),
        Ev("click", "u1", 5 * min, 2L, "{}"),
        Ev("click", "u1", 15 * min, 3L, "{}"))
      q.processAllAvailable()
      val counts = spark.table("wins_t").select("n_events").as[Long].collect().sorted
      assert(counts.sameElements(Array(1L, 2L)))
    } finally q.stop()
  }
}
