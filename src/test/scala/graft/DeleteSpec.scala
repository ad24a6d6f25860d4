package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, Publish}

/** Row-level delete (GDPR scrub) and truncate: removal is a new
  * published version whose cost tracks the doomed data's locations —
  * the groupings manifest targets the spaces, the hash bucket targets
  * the files — never the store size; everything untouched is carried
  * verbatim. Old versions keep their snapshot until retention/vacuum
  * completes the erasure.
  */
class DeleteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  /** groupings g0..g4 spread over spaces a/b/c; g4 lives ONLY in c. */
  private def mk(): DataFrame =
    ((1 to 90).map { i =>
      (Seq("a", "b", "c")(i % 3), s"g${i % 4}", i.toLong * 1000, i.toLong, i / 10.0, "{}")
    } ++ (1000 to 1009).map { i =>
      ("c", "g4", i.toLong * 1000, i.toLong, i / 10.0, "{}")
    }).toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def dataFileNames(p: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("space="))
      .flatMap(d => EsdbWriter.relativeDataFiles(fs, d.getPath).map(_._1))
      .toSet
  }

  test("grouping delete removes the grouping everywhere, carries untouched spaces verbatim") {
    val p = tmp("delgroup")
    EsdbWriter.write(mk(), p)
    val before = dataFileNames(p)
    EsdbWriter.delete(spark, p, groupings = Some(Set("g1")))
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.where(col("grouping") === "g1").count() == 0)
    assert(df.count() == mk().where(col("grouping") =!= "g1").count())
    // g1 lives in every space (i % 3 cycles through all), so all spaces
    // rewrote — but g4-only deletion below proves carrying; here assert
    // the manifest no longer lists g1
    val m = EsdbWriter.manifestGroupings(spark, p).get
    assert(m.count(_._2 == "g1") == 0)
    assert(m.count(_._2 == "g0") > 0)
    before.foreach(_ => ()) // silence unused
  }

  test("manifest-driven targeting: spaces without the grouping are carried byte-for-byte") {
    val p = tmp("deltarget")
    EsdbWriter.write(mk(), p)
    val before = dataFileNames(p)
    EsdbWriter.delete(spark, p, groupings = Some(Set("g4"))) // lives only in space c
    val after = dataFileNames(p)
    // spaces a and b carried with identical file names; only c rewrote
    assert(before.filter(f => f.startsWith("space=a/") || f.startsWith("space=b/"))
      .subsetOf(after), s"carried files changed: before=$before after=$after")
    assert(before.filter(_.startsWith("space=c/")).intersect(after).isEmpty,
      "hit space must have been rewritten")
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.where(col("grouping") === "g4").count() == 0)
    assert(df.where(col("space") === "c").count() > 0, "other groupings in c survive")
  }

  test("subpartitioned store: only the doomed grouping's bucket rewrites") {
    val p = tmp("delbucket")
    EsdbWriter.write(mk(), p, subparts = 4)
    val before = dataFileNames(p)
    val doomedBucket = EsdbWriter.bucketOf("g2", 4)
    EsdbWriter.delete(spark, p, groupings = Some(Set("g2")))
    val after = dataFileNames(p)
    val untouchedBefore = before.filterNot(_.contains(s"/bucket=$doomedBucket/"))
    assert(untouchedBefore.subsetOf(after),
      s"wrong-bucket files must be carried: before=$before after=$after")
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.where(col("grouping") === "g2").count() == 0)
    assert(df.where(col("grouping") === "g0").count() > 0)
    val m = EsdbWriter.manifestGroupings(spark, p).get
    assert(m.count(_._2 == "g2") == 0)
    assert(m.map(_._2).distinct.size == 4) // g0,g1,g3,g4
  }

  test("whole-space delete drops the directory without reading data") {
    val p = tmp("delspace")
    EsdbWriter.write(mk(), p)
    EsdbWriter.delete(spark, p, spaces = Some(Set("b")))
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.where(col("space") === "b").count() == 0)
    assert(df.select("space").distinct().count() == 2)
    val m = EsdbWriter.manifestGroupings(spark, p).get
    assert(m.count(_._1 == "b") == 0)
  }

  test("deleting a grouping absent from the manifest publishes no version") {
    val p = tmp("delnoop")
    EsdbWriter.write(mk(), p)
    val conf = spark.sparkContext.hadoopConfiguration
    val vBefore = Publish.currentVersion(conf, p).map(_._1)
    EsdbWriter.delete(spark, p, groupings = Some(Set("nope")))
    assert(Publish.currentVersion(conf, p).map(_._1) == vBefore, "no-op delete must not churn versions")
  }

  test("snapshot isolation: a pinned version still reads deleted data until vacuumed") {
    val p = tmp("delsnap")
    EsdbWriter.write(mk(), p)
    // publish-backed store: compact once so versions exist, keep 2
    EsdbWriter.compact(spark, p, keepVersions = 2)
    val v = Publish.currentVersion(spark.sparkContext.hadoopConfiguration, p).get._1
    EsdbWriter.delete(spark, p, groupings = Some(Set("g1")), keepVersions = 2)
    assert(EsdbWriter.readOrdered(spark, p).where(col("grouping") === "g1").count() == 0)
    val pinned = EsdbWriter.readOrderedAt(spark, p, v)
    assert(pinned.where(col("grouping") === "g1").count() > 0,
      "the pre-delete snapshot must still serve the data")
  }

  test("delete the only grouping of a space: empty rewrite survives") {
    val p = tmp("delonly")
    val df = (1 to 10).map(i => ("solo", "g0", i.toLong * 1000, i.toLong, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(df, p)
    EsdbWriter.delete(spark, p, groupings = Some(Set("g0")))
    assert(EsdbWriter.readOrdered(spark, p).count() == 0)
  }

  test("sealed store refuses deletes") {
    val p = tmp("delsealed")
    EsdbWriter.write(mk(), p)
    EsdbWriter.seal(spark, p, "k")
    intercept[IllegalArgumentException] {
      EsdbWriter.delete(spark, p, groupings = Some(Set("g1")))
    }
  }

  private def tsBatch(lo: Int, hi: Int): DataFrame =
    (lo to hi).map(i => ("s", s"g${i % 3}", i.toLong, i.toLong, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("time retention drops expired files as metadata, carries survivors, rewrites straddlers") {
    val p = tmp("delret")
    EsdbWriter.write(tsBatch(1000, 1999), p) // fully expired at cutoff 5000
    EsdbWriter.append(tsBatch(4500, 5499), p) // straddles the cutoff
    EsdbWriter.append(tsBatch(9000, 9999), p) // fully survives
    val before = dataFileNames(p)
    assert(before.size == 3)
    EsdbWriter.deleteOlderThan(spark, p, 5000L)
    val after = dataFileNames(p)
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.count() == 500 + 1000)
    assert(df.agg(min(col("ts_us"))).head.getLong(0) == 5000L)
    // the fully-surviving file is carried byte-for-byte (same name);
    // expired and straddling files are gone from the listing
    assert(before.intersect(after).size == 1,
      s"exactly the surviving file should carry: before=$before after=$after")
    val m = EsdbWriter.manifestGroupings(spark, p).get
    assert(m.nonEmpty)
  }

  test("retention never deletes null-ts rows, even in otherwise-expired files") {
    val p = tmp("delretnull")
    val rows: Seq[(String, String, java.lang.Long, Long, Double, String)] =
      (1 to 100).map { i =>
        val ts: java.lang.Long = if (i % 10 == 0) null else java.lang.Long.valueOf(i.toLong)
        ("s", s"g${i % 3}", ts, i.toLong, 0.0, "{}")
      }
    EsdbWriter.write(rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), p)
    EsdbWriter.deleteOlderThan(spark, p, 1000L) // every non-null ts is expired
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.count() == 10, "only the null-ts rows survive")
    assert(df.where(col("ts_us").isNotNull).count() == 0)
  }

  test("retention below all data is a manifest-proven no-op") {
    val p = tmp("delretnoop")
    EsdbWriter.write(tsBatch(5000, 5999), p)
    val conf = spark.sparkContext.hadoopConfiguration
    val vBefore = Publish.currentVersion(conf, p).map(_._1)
    EsdbWriter.deleteOlderThan(spark, p, 100L)
    assert(Publish.currentVersion(conf, p).map(_._1) == vBefore)
    assert(EsdbWriter.readOrdered(spark, p).count() == 1000)
  }

  test("SQL DELETE with a ts bound runs retention; key+ts conjunctions take the predicate path") {
    val p = tmp("delretsql")
    val store = s"$p/evts"
    EsdbWriter.write(tsBatch(1000, 1999), store)
    EsdbWriter.append(tsBatch(8000, 8999), store)
    spark.conf.set("spark.sql.catalog.esdb_ret", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_ret.root", p)
    spark.sql("DELETE FROM esdb_ret.evts WHERE ts_us < 5000")
    val t = spark.table("esdb_ret.evts")
    assert(t.count() == 1000)
    assert(t.agg(min(col("ts_us"))).head.getLong(0) == 8000L)
    // neither pure retention nor pure keyed: the copy-on-write
    // predicate path deletes exactly the conjunction
    spark.sql("DELETE FROM esdb_ret.evts WHERE ts_us < 8500 AND grouping = 'g1'")
    val t2 = spark.table("esdb_ret.evts")
    assert(t2.where(col("grouping") === "g1" && col("ts_us") < 8500).count() == 0)
    assert(t2.where(col("grouping") === "g1" && col("ts_us") >= 8500).count() > 0,
      "g1 rows past the ts bound must survive")
    assert(t2.where(col("grouping") =!= "g1").count() === tsBatch(8000, 8999)
      .where(col("grouping") =!= "g1").count(), "other groupings untouched")
  }

  test("predicate delete rewrites only files whose stats admit a match") {
    val p = tmp("delpred")
    EsdbWriter.write(mk(), p)
    val before = dataFileNames(p)
    // g4's rows (space c) carry values 100.0..100.9; every other file's
    // value stats top out at 9.0 — footer stats prove them carry-able
    EsdbWriter.deleteWhere(spark, p,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("value", 100.0)))
    val after = dataFileNames(p)
    assert(before.filter(f => f.startsWith("space=a/") || f.startsWith("space=b/"))
      .subsetOf(after),
      s"stat-precluded files must carry byte-for-byte: before=$before after=$after")
    assert(before.filter(_.startsWith("space=c/")).intersect(after).isEmpty,
      "candidate files must rewrite")
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.where(col("value") >= 100.0).count() == 0)
    assert(df.where(col("space") === "c").count() > 0, "space c's other rows survive")
    // the manifest no longer lists g4 — the predicate emptied it
    val m = EsdbWriter.manifestGroupings(spark, p).get
    assert(m.count(_._2 == "g4") == 0)
    assert(m.count(_._2 == "g0") > 0)
  }

  test("SQL DELETE FROM through the catalog scrubs a grouping; truncate empties") {
    val p = tmp("delsqlroot")
    val store = s"$p/users"
    EsdbWriter.write(mk(), store)
    spark.conf.set("spark.sql.catalog.esdb_del", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_del.root", p)
    spark.sql("DELETE FROM esdb_del.users WHERE grouping = 'g1'")
    assert(spark.table("esdb_del.users").where(col("grouping") === "g1").count() == 0)
    assert(spark.table("esdb_del.users").count() > 0)
    spark.sql("DELETE FROM esdb_del.users WHERE space = 'b' AND grouping = 'g2'")
    val t = spark.table("esdb_del.users")
    assert(t.where(col("space") === "b" && col("grouping") === "g2").count() == 0)
    assert(t.where(col("space") === "a" && col("grouping") === "g2").count() > 0,
      "conjunction must scope the delete to one space")
    // arbitrary value predicate: the stats-targeted copy-on-write path
    spark.sql("DELETE FROM esdb_del.users WHERE value > 5.0")
    assert(spark.table("esdb_del.users").where(col("value") > 5.0).count() == 0)
    assert(spark.table("esdb_del.users").count() > 0)
    spark.sql("DELETE FROM esdb_del.users")
    assert(spark.table("esdb_del.users").count() == 0)
    assert(spark.table("esdb_del.users").columns.contains("grouping"),
      "truncated table keeps its schema via the sidecar")
  }
}
