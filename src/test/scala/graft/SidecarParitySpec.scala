package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Esdb
import graft.engine.{EsdbWriter, EventStore, Maintenance, Publish}

/** `Db.find` and `Space.iterate` answer from the groupings sidecar on
  * the driver; after every publishing path they must say exactly what
  * the data says: a space is found iff it has events, and its groupings
  * iterate distinct in Spark's `orderBy` order (a null grouping first,
  * then UTF8 byte order). Staged parts in the sidecar dirs are invisible.
  */
class SidecarParitySpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  // U+FF61 sorts before U+1F600 in UTF-8 byte order but after it in
  // UTF-16 order: a `String`-ordered iterate would differ from Spark's
  private val Halfwidth = "｡"
  private val Emoji = "😀"

  private def events(ids: Range, spaces: Int = 4): DataFrame =
    ids.map { i =>
      val g: String = i % 11 match {
        case 0 => null
        case 1 => Halfwidth
        case 2 => Emoji
        case k => s"g$k"
      }
      (s"s${i % spaces}", g, i.toLong * 1000, i.toLong, i / 10.0, "{}")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def assertParity(p: String, what: String): Unit = {
    val data = EsdbWriter.read(spark, p)
    val spaces = data.select("space").distinct().as[String].collect().toSet
    val db = Esdb.open(spark, p)
    (spaces ++ Set("s0", "s1", "s2", "s3", "s4", "s9", "absent")).foreach { s =>
      assert(db.find(s).isDefined == spaces.contains(s),
        s"$what: find($s) = ${db.find(s).isDefined}, data has it = ${spaces.contains(s)}")
    }
    spaces.foreach { s =>
      val want = EventStore.iterateGroupings(data, s).collect().toSeq.map(_.getString(0))
      val got = Seq.newBuilder[String]
      db.find(s).get.iterate { g => got += g; true }
      assert(got.result() == want, s"$what: iterate($s)")
    }
    // and the answers really came from the sidecar, not the fallback
    assert(EventStore.iterateGroupingsStored(spark, p, spaces.head).isDefined, what)
  }

  test("find and Space.iterate equal the data after every publishing path") {
    val p = java.nio.file.Files.createTempDirectory("parity").toFile.getAbsolutePath + "/t"
    Publish.publish(conf, p, keepVersions = 4) { t => EsdbWriter.write(events(1 to 300), t) }: Unit
    assertParity(p, "write")
    val db = Esdb.open(spark, p)
    val seen = Seq.newBuilder[String]
    db.find("s0").get.iterate { g => seen += g; true }
    assert(seen.result().take(3) == Seq(null, "g10", "g3"), "null first, then byte order")
    assert(seen.result().takeRight(2) == Seq(Halfwidth, Emoji), "UTF-8 order, not UTF-16")

    // in place: a new space (no null groupings) and new groupings show
    // on the next call
    EsdbWriter.append(events(301 to 360, spaces = 5)
      .withColumn("grouping", concat(coalesce(col("grouping"), lit("n")), lit("x"))), p)
    assert(db.find("s4").isDefined, "an in-place append shows on the next find")
    assertParity(p, "append")

    // every grouping of one space deleted: the space is gone
    val s4 = EsdbWriter.read(spark, p).where(col("space") === "s4")
      .select("grouping").distinct().as[String].collect().toSet
    EsdbWriter.delete(spark, p, spaces = Some(Set("s4")), groupings = Some(s4))
    assert(db.find("s4").isEmpty, "a space whose every grouping was deleted is not found")
    assertParity(p, "delete")

    EsdbWriter.deleteOlderThan(spark, p, 120L * 1000)
    assertParity(p, "deleteOlderThan")
    assert(EsdbWriter.updateWhere(spark, p, Map("grouping" -> lit("moved")),
      Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 280L))))
    assertParity(p, "updateWhere")
    EsdbWriter.mergeInto(spark, p,
      Seq(("s0", "merged", 999000L, 200L, 1.0, "{}"), ("s9", null: String, 999001L, 9999L, 2.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), Seq("event_id"))
    assert(db.find("s9").isDefined, "a space holding only a null grouping exists")
    assertParity(p, "mergeInto")
    EsdbWriter.append(events(400 to 460), p)
    Maintenance.setPolicy(conf, p, Maintenance.Policy(maxFilesPerSpace = Some(1)))
    assert(Maintenance.maintain(spark, p).contains("compaction"))
    assertParity(p, "maintain")
  }

  test("dot-staged parts in either sidecar dir are ignored by the readers") {
    val dir = java.nio.file.Files.createTempDirectory("staged").toFile
    dir.delete()
    val p = dir.getAbsolutePath
    EsdbWriter.write(events(1 to 120), p)
    val root = EsdbWriter.dataRoot(spark, p)
    val pairs = EsdbWriter.groupingPairs(conf, root).get
    val ranges = EsdbWriter.tsRangeManifest(conf, root).get
    // a concurrent writer's half-done part: a dot-prefixed copy holding
    // rows no reader may see (a space that does not exist, a file whose
    // range would prune everything)
    val ghosts = java.nio.file.Files.createTempDirectory("ghosts").toFile.getAbsolutePath
    Seq(("ghost", "g")).toDF("space", "grouping").coalesce(1)
      .write.parquet(s"$ghosts/pairs")
    Seq(("space=s0/x.parquet", 1L, 2L, true, true))
      .toDF("file", "min_ts", "max_ts", "has_ts", "null_free").coalesce(1)
      .write.parquet(s"$ghosts/ranges")
    def stage(from: String, sidecar: String): Unit = {
      val part = new java.io.File(from).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(s"$root/$sidecar", s".part-staged.parquet").toPath)
    }
    stage(s"$ghosts/pairs", EsdbWriter.GroupingsManifest)
    stage(s"$ghosts/ranges", EsdbWriter.TsRangeManifest)
    assert(EsdbWriter.groupingPairs(conf, root).get.sortBy(_.toString) == pairs.sortBy(_.toString))
    assert(EsdbWriter.tsRangeManifest(conf, root).get.sortBy(_._1) == ranges.sortBy(_._1))
    assert(Esdb.open(spark, p).find("ghost").isEmpty)
    assertParity(p, "staged parts")
  }
}
