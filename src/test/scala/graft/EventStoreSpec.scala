package graft

import graft.engine.{EventFrame, EventStore}

/** Mirrors the reference's table-driven batch-read tests
  * (esdb_test.go:51-95, space_test.go:52-108, example_test.go:16-115):
  * payloads "1".."6", ts ∈ {1,2,3}, spaces a/b, groupings g/h/i, index
  * i=i1/i2. Expected orders are ts-DESC with insertion-order ties.
  */
class EventStoreSpec extends SparkSpec {
  import spark.implicits._

  // (space, grouping, ts_us, event_id, value, payload) — insertion order = event_id
  private lazy val ev = Seq(
    ("a", "g", 2L, 1L, 0.0, """{"i": "i1"}"""),
    ("a", "h", 3L, 2L, 0.0, """{"i": "i2"}"""),
    ("a", "h", 1L, 3L, 0.0, """{"i": "i1"}"""),
    ("b", "i", 2L, 4L, 0.0, """{"i": "i2"}"""),
    ("a", "g", 2L, 5L, 0.0, """{"i": "i1"}"""),
    ("b", "i", 3L, 6L, 0.0, """{"i": "i2"}""")
  ).toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("iterateSpaces: sorted distinct spaces (esdb.go:63-76)") {
    assert(rowsOf(EventStore.iterateSpaces(ev)) == Seq(Seq("a"), Seq("b")))
  }

  test("iterateGroupings: sorted groupings of one space (space.go:45-60)") {
    assert(rowsOf(EventStore.iterateGroupings(ev, "a")) == Seq(Seq("g"), Seq("h")))
  }

  test("scan: ts-desc with insertion-order ties (event.go:13, example_test.go:96-102)") {
    // grouping a/g: ids 1 and 5 both at ts 2 → insertion order 1, 5
    val got = EventStore.scan(ev, "a", "g").select("event_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 5L))
  }

  test("scan limit: early termination (esdb_test.go:214-234)") {
    val got = EventStore.scan(ev, "a", "h", Some(1)).select("event_id").as[Long].collect().toSeq
    assert(got == Seq(2L)) // ts 3 beats ts 1
  }

  test("scanIndex: secondary index match in ts-desc order (space.go:79-108)") {
    val got = EventStore.scanIndex(ev, "a", "i", "i1").select("event_id").as[Long].collect().toSeq
    // i1 in space a: ids 1 (ts2), 3 (ts1), 5 (ts2) → desc ts, insertion ties: 1, 5, 3
    assert(got == Seq(1L, 5L, 3L))
  }

  test("scanIndex on missing index/space returns empty (esdb_test.go:69-95)") {
    assert(EventStore.scanIndex(ev, "a", "i", "nope").isEmpty)
    assert(EventStore.scanIndex(ev, "zz", "i", "i1").isEmpty)
  }

  test("stored enumeration is index-only: no event-data files are read") {
    val dir = java.nio.file.Files.createTempDirectory("iterstore").toFile
    dir.delete()
    graft.engine.EsdbWriter.write(ev, dir.getAbsolutePath)
    graft.engine.EsdbWriter.append(
      Seq(("c", "z", 9L, 7L, 0.0, """{"i": "i9"}"""))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      dir.getAbsolutePath)
    // spaces: one driver-side directory listing; groupings: the write-
    // time sidecar read on the driver — neither runs a Spark job, so no
    // event-data file can be read
    var spaces = Seq.empty[String]
    var groupingsA, groupingsC = Option.empty[Seq[String]]
    val jobs = jobsOf {
      spaces = EventStore.iterateSpacesStored(spark, dir.getAbsolutePath)
      groupingsA = EventStore.iterateGroupingsStored(spark, dir.getAbsolutePath, "a")
      groupingsC = EventStore.iterateGroupingsStored(spark, dir.getAbsolutePath, "c")
    }
    assert(jobs == 0, s"stored enumeration must not run a Spark job; ran $jobs")
    assert(spaces == Seq("a", "b", "c"))
    assert(groupingsA.contains(Seq("g", "h")))
    // appended batch's groupings are in the manifest too
    assert(groupingsC.contains(Seq("z")))
    // façade: a path-opened Db enumerates through the same index-only routes
    val db = graft.api.Esdb.open(spark, dir.getAbsolutePath)
    assert(db.spaces == Seq("a", "b", "c"))
    assert(db.find("a").get.groupings == Seq("g", "h"))
  }

  test("manifest-less stores (pre-manifest layout) fall back to a data scan") {
    val dir = java.nio.file.Files.createTempDirectory("nomanifest").toFile
    dir.delete()
    graft.engine.EsdbWriter.write(ev, dir.getAbsolutePath)
    // simulate an old store: drop the sidecar
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit }
    rm(new java.io.File(dir, graft.engine.EsdbWriter.GroupingsManifest))
    assert(EventStore.iterateGroupingsStored(spark, dir.getAbsolutePath, "b").isEmpty)
    val db = graft.api.Esdb.open(spark, dir.getAbsolutePath)
    assert(db.find("b").get.groupings == Seq("i"))
    assert(db.find("zz").isEmpty)
  }

  test("events adapter normalizes the testdata schema") {
    val df = EventFrame.fromEvents(graft.engine.Tables.events(spark, "/root/testdata/sf0.001"))
    assert(df.columns.toSeq == Seq("space", "grouping", "ts_us", "event_id", "value", "payload"))
    assert(df.where($"ts_us" <= 0L).isEmpty)
  }
}
