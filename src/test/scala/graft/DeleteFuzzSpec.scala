package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.EsdbWriter

/** Randomized differential testing for the delete family: for random
  * stores (flat and subpartitioned, with null groupings and null
  * timestamps) and random delete targets, the surviving store must
  * equal the straightforward DataFrame filter of the original — and
  * the groupings manifest must list exactly the surviving pairs.
  */
class DeleteFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260814L)

  private def mkStore(n: Int, nSpaces: Int, nGroupings: Int): DataFrame = {
    val rows: Seq[(String, String, java.lang.Long, Long, Double, String)] =
      (1 to n).map { i =>
        val g: String = if (rnd.nextInt(10) == 0) null else s"g${rnd.nextInt(nGroupings)}"
        val ts: java.lang.Long =
          if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100000).toLong)
        (s"s${rnd.nextInt(nSpaces)}", g, ts, i.toLong, rnd.nextInt(100) / 10.0, "{}")
      }
    rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
  }

  private def sortedRows(df: DataFrame): Seq[(Long, String, String, Option[Long])] =
    df.select("event_id", "space", "grouping", "ts_us").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1)

  test("fuzz: random grouping/space deletes match the DataFrame filter exactly") {
    for (trial <- 1 to 6) {
      val dir = java.nio.file.Files.createTempDirectory(s"delfuzz$trial").toFile
      dir.delete()
      val p = dir.getAbsolutePath
      val df = mkStore(n = 300, nSpaces = 3, nGroupings = 6)
      val subparts = if (trial % 2 == 0) 4 else 1
      EsdbWriter.write(df, p, subparts = subparts)
      // a second batch so multi-file spaces are exercised
      val df2 = mkStore(n = 100, nSpaces = 3, nGroupings = 6)
        .withColumn("event_id", col("event_id") + 1000L)
      EsdbWriter.append(df2, p)
      val full = df.unionByName(df2.withColumn("event_id", col("event_id")))

      val doomedG: Set[String] = (0 until 1 + rnd.nextInt(2)).map(_ => s"g${rnd.nextInt(6)}").toSet
      val doomedS: Option[Set[String]] =
        if (rnd.nextBoolean()) Some(Set(s"s${rnd.nextInt(3)}")) else None
      EsdbWriter.delete(spark, p, spaces = doomedS, groupings = Some(doomedG))

      val expected = full.filter(
        !(col("grouping").isin(doomedG.toSeq: _*) &&
          doomedS.fold(lit(true))(ss => col("space").isin(ss.toSeq: _*))) ||
          col("grouping").isNull)
      val got = EsdbWriter.readOrdered(spark, p)
      assert(sortedRows(got) == sortedRows(expected),
        s"trial $trial (subparts=$subparts, g=$doomedG, s=$doomedS): delete diverged from filter")

      // manifest lists exactly the surviving (space, grouping) pairs
      val manifestPairs = EsdbWriter.manifestGroupings(spark, p).get.toSet
      val expectedPairs = expected.filter(col("grouping").isNotNull)
        .select("space", "grouping").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // manifest never lists null groupings; surviving non-null pairs must match
      assert(manifestPairs.filter(_._2 != null) == expectedPairs,
        s"trial $trial: manifest drifted from survivors")
    }
  }

  test("fuzz: random ts-retention cutoffs match the DataFrame filter, nulls survive") {
    for (trial <- 1 to 5) {
      val dir = java.nio.file.Files.createTempDirectory(s"retfuzz$trial").toFile
      dir.delete()
      val p = dir.getAbsolutePath
      val df = mkStore(n = 250, nSpaces = 2, nGroupings = 4)
      EsdbWriter.write(df, p)
      val df2 = mkStore(n = 80, nSpaces = 2, nGroupings = 4)
        .withColumn("event_id", col("event_id") + 1000L)
      EsdbWriter.append(df2, p)
      val full = df.unionByName(df2)

      val cutoff = rnd.nextInt(100000).toLong
      val inclusive = rnd.nextBoolean()
      EsdbWriter.deleteOlderThan(spark, p, cutoff, inclusive = inclusive)

      val survives =
        if (inclusive) col("ts_us").isNull || col("ts_us") > cutoff
        else col("ts_us").isNull || col("ts_us") >= cutoff
      assert(sortedRows(EsdbWriter.readOrdered(spark, p)) == sortedRows(full.filter(survives)),
        s"trial $trial (cutoff=$cutoff inclusive=$inclusive): retention diverged from filter")
    }
  }

  test("fuzz: random value predicates match the DataFrame filter; null predicates survive") {
    import org.apache.spark.sql.sources._
    for (trial <- 1 to 8) {
      val dir = java.nio.file.Files.createTempDirectory(s"predfuzz$trial").toFile
      dir.delete()
      val p = dir.getAbsolutePath
      val df = mkStore(n = 300, nSpaces = 3, nGroupings = 6)
      val subparts = if (trial % 2 == 0) 4 else 1
      EsdbWriter.write(df, p, subparts = subparts)
      val df2 = mkStore(n = 100, nSpaces = 3, nGroupings = 6)
        .withColumn("event_id", col("event_id") + 1000L)
      EsdbWriter.append(df2, p)
      val full = df.unionByName(df2)

      val cut = rnd.nextInt(100) / 10.0
      val tsCut = rnd.nextInt(100000).toLong
      val (filters, cond) = rnd.nextInt(5) match {
        case 0 => (Seq[Filter](LessThan("value", cut)), col("value") < cut)
        case 1 => (Seq[Filter](GreaterThanOrEqual("value", cut)), col("value") >= cut)
        case 2 => (Seq[Filter](GreaterThan("value", cut), GreaterThan("ts_us", tsCut)),
          col("value") > cut && col("ts_us") > tsCut)
        case 3 =>
          val g = s"g${rnd.nextInt(6)}"
          (Seq[Filter](EqualTo("grouping", g), LessThanOrEqual("value", cut)),
            col("grouping") === g && col("value") <= cut)
        case _ =>
          val sp = s"s${rnd.nextInt(3)}"
          (Seq[Filter](Or(EqualTo("space", sp), IsNull("ts_us"))),
            col("space") === sp || col("ts_us").isNull)
      }
      EsdbWriter.deleteWhere(spark, p, filters)

      // SQL delete semantics: rows where the predicate is false OR NULL survive
      val expected = full.filter(!coalesce(cond, lit(false)))
      assert(sortedRows(EsdbWriter.readOrdered(spark, p)) == sortedRows(expected),
        s"trial $trial (subparts=$subparts, filters=${filters.mkString(",")}): diverged")

      // manifest lists exactly the surviving non-null (space, grouping) pairs
      val manifestPairs = EsdbWriter.manifestGroupings(spark, p).toSeq.flatten.toSet
      val expectedPairs = expected.filter(col("grouping").isNotNull)
        .select("space", "grouping").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(manifestPairs.filter(_._2 != null) == expectedPairs,
        s"trial $trial: manifest drifted from survivors")
    }
  }

  test("predicate delete outside every file's stat range is a proven no-op") {
    import org.apache.spark.sql.sources._
    val dir = java.nio.file.Files.createTempDirectory("prednoop").toFile
    dir.delete()
    val p = dir.getAbsolutePath
    EsdbWriter.write(mkStore(n = 200, nSpaces = 2, nGroupings = 4), p)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = graft.engine.Publish.currentVersion(conf, p)
    // values are 0.0..9.9 — nothing is < -5, stats prove it per file
    EsdbWriter.deleteWhere(spark, p, Seq[Filter](LessThan("value", -5.0)))
    assert(graft.engine.Publish.currentVersion(conf, p) == before,
      "a stats-proven no-op delete must not publish a version")
  }

  test("fuzz: random log trims match the filter and keep merge order") {
    for (trial <- 1 to 5) {
      val dir = java.nio.file.Files.createTempDirectory(s"trimfuzz$trial").toFile
      dir.delete()
      val p = dir.getAbsolutePath
      def batch(ids: Range): DataFrame = ids.map(i =>
        (s"s${i % 2}", s"g${i % 4}", i.toLong * 7, i.toLong, 0.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      EsdbWriter.writeLog(batch(1 to 200), p)
      EsdbWriter.appendLog(batch(150 to 400), p) // overlapping id ranges
      EsdbWriter.appendLog(batch(900 to 1000), p)
      val before = rnd.nextInt(1100).toLong
      EsdbWriter.trimLog(spark, p, before)
      val ids = EsdbWriter.readLog(spark, p).select("event_id").as[Long].collect().toSeq
      val expected = ((1 to 200) ++ (150 to 400) ++ (900 to 1000))
        .map(_.toLong).filter(_ >= before).sorted
      assert(ids == expected, s"trial $trial (before=$before): trim diverged")
    }
  }

  /** r12: datetime predicates normalize to parquet's stat domain
    * (DeleteWhere.cmp) — randomized DATE-cutoff deletes must match the
    * DataFrame filter exactly, nulls surviving, across layouts.
    */
  test("fuzz: random DATE-predicate deletes match the DataFrame filter exactly") {
    for (trial <- 1 to 4) {
      val dir = java.nio.file.Files.createTempDirectory(s"datefuzz$trial").toFile
      dir.delete()
      val p = dir.getAbsolutePath
      val rows: Seq[(String, String, Long, Long, Double, String, java.sql.Date)] =
        (1 to 300).map { i =>
          val d: java.sql.Date =
            if (rnd.nextInt(15) == 0) null
            else java.sql.Date.valueOf(
              java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(120)))
          (s"s${rnd.nextInt(3)}", s"g${rnd.nextInt(6)}", rnd.nextInt(100000).toLong,
            i.toLong, rnd.nextInt(100) / 10.0, "{}", d)
        }
      val df = rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "day")
      EsdbWriter.write(df, p, subparts = if (trial % 2 == 0) 2 else 1)
      val cut = java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(120)))
      EsdbWriter.deleteWhere(spark, p,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("day", cut)))
      val expectedIds = df.filter(col("day").isNull || col("day") < lit(cut))
        .select("event_id").as[Long].collect().toSet
      val gotIds = EsdbWriter.read(spark, p)
        .select("event_id").as[Long].collect().toSet
      assert(gotIds == expectedIds,
        s"trial $trial cut=$cut: missing=${(expectedIds -- gotIds).take(5)} " +
          s"extra=${(gotIds -- expectedIds).take(5)}")
    }
  }

  test("proven no-ops of every copy-on-write entry point publish no version") {
    val dir = java.nio.file.Files.createTempDirectory("cownoop").toFile
    dir.delete()
    val p = dir.getAbsolutePath
    val df = mkStore(n = 200, nSpaces = 2, nGroupings = 4)
    graft.engine.Publish.publish(spark.sparkContext.hadoopConfiguration, p) { t =>
      EsdbWriter.write(df, t)
    }: Unit
    val conf = spark.sparkContext.hadoopConfiguration
    def unchanged(what: String)(op: => Unit): Unit = {
      val before = graft.engine.Publish.currentVersionNumber(conf, p)
      op
      assert(graft.engine.Publish.currentVersionNumber(conf, p) == before,
        s"$what is a proven no-op and must not publish a version")
    }
    // the groupings sidecar proves no space holds the grouping
    unchanged("delete of an absent grouping")(
      EsdbWriter.delete(spark, p, groupings = Some(Set("absent"))))
    // timestamps are 0..99999: every file's min_ts is above the cutoff
    unchanged("retention below every min_ts")(EsdbWriter.deleteOlderThan(spark, p, -1L))
    unchanged("merge of an empty source") {
      assert(EsdbWriter.mergeInto(spark, p, df.limit(0), Seq("event_id")) == (0L, 0L))
    }
    unchanged("apply of an empty feed") {
      assert(EsdbWriter.applyChanges(spark, p, df.limit(0).withColumn("_change", lit("insert"))) ==
        (0L, 0L))
    }
    // one file per space: nothing is fragmented
    unchanged("incremental compaction of a compact store") {
      assert(!EsdbWriter.compactIncremental(spark, p))
    }
    assert(sortedRows(EsdbWriter.readOrdered(spark, p)) == sortedRows(df))
  }
}
