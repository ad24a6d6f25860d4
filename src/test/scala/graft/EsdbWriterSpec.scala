package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.engine.{EsdbWriter, EventLog, EventStore}

/** Write-path contracts mirroring the reference's immutability tests
  * (writer_test.go:49-70 re-Add-after-Write errors; writer.go:27 O_EXCL;
  * stream/open_stream_test.go:487-514 writes-after-close error).
  */
class EsdbWriterSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("esdbw").toFile
    d.delete()
    d.getAbsolutePath
  }

  private lazy val ev = Seq(
    ("a", "g", 2L, 1L, 0.0, """{"i": "i1"}"""),
    ("b", "h", 3L, 2L, 0.0, """{"i": "i2"}"""),
    ("a", "g", 1L, 3L, 0.0, """{"i": "i1"}""")
  ).toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("write + read roundtrip preserves data and scan order") {
    val dir = freshDir()
    EsdbWriter.write(ev, dir)
    val back = EsdbWriter.read(spark, dir)
    assert(back.count() == 3)
    assert(EventStore.scan(back, "a", "g").select("event_id").as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("builder: add/flush/add/write accumulates into one immutable store (writer.go:26-85)") {
    val dir = freshDir()
    val b = graft.api.Esdb.newBuilder(spark, dir)
    def batch(r: Range) = r.map(i => (s"s${i % 2}", "g", i.toLong, i.toLong, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    b.add(batch(1 to 40)).add(batch(41 to 80)).flush() // spill mid-build (Flush)
    b.add(batch(81 to 120))
    b.write()
    assert(!new java.io.File(dir + ".building").exists(), "staging must be removed")
    val back = EsdbWriter.read(spark, dir)
    assert(back.count() == 120)
    // final layout is the canonical immutable one: sorted scan works, store immutable
    assert(EventStore.scan(back, "s1", "g").count() == 60)
    intercept[IllegalArgumentException](b.add(batch(1 to 2))) // re-Add after Write errors
    intercept[IllegalArgumentException](b.write())
    intercept[Exception](EsdbWriter.write(batch(1 to 2), dir)) // O_EXCL on the final store
    // a second builder on the same path refuses up front
    intercept[IllegalArgumentException](graft.api.Esdb.newBuilder(spark, dir))
  }

  test("write refuses to overwrite an existing store (writer.go:27)") {
    val dir = freshDir()
    EsdbWriter.write(ev, dir)
    intercept[Exception] { EsdbWriter.write(ev, dir) }
  }

  test("seal blocks appends (closed_stream.go:48-50) and persists tails") {
    val dir = freshDir()
    EsdbWriter.write(ev, dir)
    EsdbWriter.seal(spark, dir, "i")
    assert(EsdbWriter.isSealed(dir))
    intercept[IllegalArgumentException] { EsdbWriter.append(ev, dir) }
    val side = new org.apache.hadoop.fs.Path(dir, s"${EsdbWriter.SealMarker}.tails")
    val tails = spark.read.parquet(EsdbWriter.sidecarParts(
      side.getFileSystem(spark.sparkContext.hadoopConfiguration), side).map(_.getPath.toString): _*)
    assert(rowsOf(tails.select("attr", "tail_event_id").orderBy("attr")) ==
      Seq(Seq("i1", 3L), Seq("i2", 2L)))
    // the closed-stream read path serves tails from the sidecar
    val fromSidecar = EsdbWriter.sealedTails(spark, dir, "i")
    assert(fromSidecar.isDefined)
    assert(rowsOf(fromSidecar.get.orderBy("attr")) == Seq(Seq("i1", 3L), Seq("i2", 2L)))
    assert(EsdbWriter.sealedTails(spark, dir, "other_index").isEmpty) // wrong index → recompute path
    // re-seal refuses up front and must NOT clobber the existing sidecar
    intercept[IllegalArgumentException] { EsdbWriter.seal(spark, dir, "other_index") }
    assert(rowsOf(EsdbWriter.sealedTails(spark, dir, "i").get.orderBy("attr")) ==
      Seq(Seq("i1", 3L), Seq("i2", 2L)))
  }

  test("sf0.001 roundtrip: store reads equal raw-frame reads on every operator") {
    val dir = freshDir()
    val raw = graft.engine.EventFrame.fromEvents(
      graft.engine.Tables.events(spark, "/root/testdata/sf0.001"))
    EsdbWriter.write(raw, dir, indexAttrs = Seq("k"))
    val store = EsdbWriter.read(spark, dir)
    assert(store.count() == raw.count())
    // scan: same rows in the same order through the partitioned store
    assert(rowsOf(EventStore.scan(store, "click", "7").select("event_id")) ==
      rowsOf(EventStore.scan(raw, "click", "7").select("event_id")))
    // index scan via the materialized idx_k column == JSON-path scan
    assert(rowsOf(EventStore.scanIndex(store, "click", "k", "42").select("event_id")) ==
      rowsOf(EventStore.scanIndex(raw, "click", "k", "42").select("event_id")))
    // stream reads
    assert(rowsOf(EventLog.tails(store, "k")) == rowsOf(EventLog.tails(raw, "k")))
    assert(rowsOf(EventLog.iterate(store, 500L).select("event_id").limit(50)) ==
      rowsOf(EventLog.iterate(raw, 500L).select("event_id").limit(50)))
  }

  test("append before seal accumulates (open_stream.go:77-105)") {
    val dir = freshDir()
    EsdbWriter.write(ev, dir)
    val more = Seq(("a", "g", 9L, 9L, 0.0, """{"i": "i1"}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.append(more, dir)
    val back = EsdbWriter.read(spark, dir)
    assert(EventLog.iterate(back).count() == 4)
    assert(EventLog.first(back, "i", "i1").as[Long].collect().toSeq == Seq(9L))
  }

  test("incremental compaction rewrites only fragmented spaces, carries the rest") {
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    def batch(space: String, ids: Range) =
      ids.map(i => (space, s"g${i % 3}", i.toLong * 10, i.toLong, i / 2.0, s"""{"k": $i}"""))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(batch("a", 1 to 20).unionByName(batch("b", 100 to 120)), dir)
    // fragment space a only
    (1 to 5).foreach(i => EsdbWriter.append(batch("a", (20 + i * 10) to (29 + i * 10)), dir))
    val before = EsdbWriter.readOrdered(spark, dir).collect().toSet

    def files(space: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, dir), s"space=$space")
      val fs = root.getFileSystem(conf)
      EsdbWriter.relativeDataFiles(fs, root).map(_._1)
    }
    assert(files("a").size == 6 && files("b").size == 1)
    val bFilesBefore = files("b")

    assert(EsdbWriter.compactIncremental(spark, dir, maxFilesPerSpace = 3))
    // fragmented space collapsed; untouched space carried verbatim
    assert(files("a").size == 1)
    assert(files("b") == bFilesBefore, "compact-enough space must be copied, not rewritten")
    // lossless: identical row set, ordered read still green
    assert(EsdbWriter.readOrdered(spark, dir).collect().toSet == before)
    // manifests carried: groupings enumeration still index-only-complete,
    // ts-range pruning entries still present for the carried file
    assert(EsdbWriter.manifestGroupings(spark, dir).get.map(_._1).toSet == Set("a", "b"))
    import spark.implicits._
    val tsFiles = EsdbWriter.tsRangeManifest(conf, EsdbWriter.dataRoot(spark, dir)).get
      .map(_._1).toSet
    assert(bFilesBefore.forall(tsFiles.contains),
      "carried files must keep their ts-range manifest entries")
    // nothing fragmented now: no version churn
    val vBefore = graft.engine.Publish.committedVersions(conf, dir).map(_._1).max
    assert(!EsdbWriter.compactIncremental(spark, dir, maxFilesPerSpace = 3))
    assert(graft.engine.Publish.committedVersions(conf, dir).map(_._1).max == vBefore)
  }

  test("store lifecycle fuzz: random append/compact sequences never lose or reorder rows") {
    val rnd = new scala.util.Random(42) // seeded: failures reproduce
    (1 to 3).foreach { trial =>
      val dir = freshDir()
      var nextId = 0L
      def batch(nSpaces: Int, n: Int) = {
        val rows = (1 to n).map { _ =>
          nextId += 1
          (s"s${rnd.nextInt(nSpaces)}", s"g${rnd.nextInt(4)}",
            rnd.nextInt(100).toLong, nextId, 0.0, s"""{"k": ${rnd.nextInt(5)}}""")
        }
        rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      }
      EsdbWriter.write(batch(3, 30), dir)
      var expect = EsdbWriter.readOrdered(spark, dir)
        .select("space", "grouping", "ts_us", "event_id").collect().toSet
      (1 to 8).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 | 1 =>
            val b = batch(3, 5 + rnd.nextInt(15))
            EsdbWriter.append(b, dir)
            expect = expect ++ b.select("space", "grouping", "ts_us", "event_id").collect()
          case 2 => EsdbWriter.compact(spark, dir)
          case 3 => EsdbWriter.compactIncremental(spark, dir,
            maxFilesPerSpace = 1 + rnd.nextInt(3)): Unit
        }
        val got = EsdbWriter.readOrdered(spark, dir)
          .select("space", "grouping", "ts_us", "event_id").collect().toSet
        assert(got == expect, s"trial $trial: store diverged from the append history")
        // the ordered contract survives every lifecycle step
        val scan = EventStore.scan(EsdbWriter.readOrdered(spark, dir), "s0", "g1")
          .select("ts_us", "event_id").as[(Long, Long)].collect().toSeq
        assert(scan == scan.sortBy { case (t, id) => (-t, id) },
          s"trial $trial: scan order broken")
      }
    }
  }
}
