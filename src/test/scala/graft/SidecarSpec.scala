package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, Maintenance, Publish}

/** The derived sidecars after every publishing path: each live data
  * file's `_MANIFEST.tsrange` row equals its own footer facts, and
  * `_MANIFEST.groupings` lists exactly the data's distinct (space,
  * grouping) pairs. Plus the job budget each copy-on-write mutation
  * runs in, so a sidecar re-read that creeps back fails here, and the
  * seal marker on a `file:` URI.
  */
class SidecarSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  /** 4 spaces × 6 groupings; every 17th event has a null ts, so some
    * files are provably null-free and some are not.
    */
  private def events(ids: Range, spaces: Int = 4): DataFrame =
    ids.map { i =>
      (s"s${i % spaces}", s"g${i % 6}",
        if (i % 17 == 0) None else Some(i.toLong * 1000), i.toLong, i / 10.0, "{}")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def versioned(df: DataFrame, subparts: Int = 1): String = {
    val p = tmp("sidecar")
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 4) { t =>
      EsdbWriter.write(df, t, subparts = subparts)
    }: Unit
    p
  }

  /** (min, max, null_free) of `ts_us` straight from a file's footer. */
  private def footerFacts(file: org.apache.hadoop.fs.Path): (Option[Long], Option[Long], Boolean) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      val stats = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == "ts_us").map(_.getStatistics))
      val valued = stats.filter(_.hasNonNullValue)
      (valued.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).minOption,
        valued.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).maxOption,
        stats.forall(_.getNumNulls == 0))
    } finally r.close()
  }

  private def assertSidecars(p: String, what: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = EsdbWriter.storeDataFiles(fs, root)
    assert(files.nonEmpty, s"$what: no live files")
    val rows = EsdbWriter.tsRangeManifest(spark, p).get.collect()
      .groupBy(_.getString(0)).map { case (f, rs) =>
        val facts = rs.map(r => (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(4))).distinct
        assert(facts.length == 1, s"$what: conflicting ts-range rows for $f: ${facts.toSeq}")
        f -> facts.head
      }
    files.foreach { case (rel, st, _) =>
      val row = rows.getOrElse(rel, fail(s"$what: no ts-range row for live file $rel"))
      assert(row == footerFacts(st.getPath), s"$what: ts-range row of $rel differs from its footer")
    }
    val data = EsdbWriter.read(spark, p).select("space", "grouping").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pairs = EsdbWriter.manifestGroupings(spark, p).get
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == data, s"$what: groupings sidecar ${pairs -- data} extra, ${data -- pairs} missing")
  }

  test("sidecars match the data after append and Maintenance.maintain") {
    val p = versioned(events(1 to 200))
    assertSidecars(p, "write")
    // a new space and a new grouping arrive in place
    EsdbWriter.append(events(201 to 260, spaces = 5)
      .withColumn("grouping", concat(col("grouping"), lit("x"))), p)
    assertSidecars(p, "append")
    EsdbWriter.append(events(261 to 300), p)
    Maintenance.setPolicy(spark.sparkContext.hadoopConfiguration, p,
      Maintenance.Policy(maxFilesPerSpace = Some(1)))
    assert(Maintenance.maintain(spark, p).contains("compaction"))
    assertSidecars(p, "maintain")
  }

  test("sidecars match the data after grouping deletes, flat and subpartitioned") {
    Seq(1, 4).foreach { subparts =>
      val p = versioned(events(1 to 300), subparts)
      EsdbWriter.delete(spark, p, groupings = Some(Set("g2")))
      assertSidecars(p, s"delete subparts=$subparts")
      // a whole space goes: its pairs must leave the sidecar
      EsdbWriter.delete(spark, p, spaces = Some(Set("s1")))
      assertSidecars(p, s"space delete subparts=$subparts")
    }
  }

  test("sidecars match the data after retention, UPDATE and MERGE") {
    val p = versioned(events(1 to 300))
    // drops whole files' rows, leaves the null-ts rows standing
    EsdbWriter.deleteOlderThan(spark, p, 150L * 1000)
    assertSidecars(p, "deleteOlderThan")
    // moving rows to a new grouping changes the pair set
    assert(EsdbWriter.updateWhere(spark, p, Map("grouping" -> lit("moved")),
      Seq(org.apache.spark.sql.sources.GreaterThan("event_id", 280L))))
    assertSidecars(p, "updateWhere")
    val (replaced, inserted) = EsdbWriter.mergeInto(spark, p,
      Seq(("s0", "g0", 999000L, 200L, 1.0, "{}"), ("s9", "g9", 999001L, 9999L, 2.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), Seq("event_id"))
    assert((replaced, inserted) == (1L, 1L))
    assertSidecars(p, "mergeInto")
  }

  test("sidecars match the data after a SQL UPDATE (replaceFootprint)") {
    val root = tmp("sidecarsql")
    val p = s"$root/t"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 4) { t =>
      EsdbWriter.write(events(1 to 120), t)
    }: Unit
    spark.conf.set("spark.sql.catalog.sidecarsql", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.sidecarsql.root", root)
    spark.sql("UPDATE sidecarsql.t SET grouping = 'sql' WHERE event_id < 10")
    assertSidecars(p, "SQL UPDATE")
  }

  /** Jobs `f` starts from this thread (job-group filtered, so nothing
    * else running in the session counts); a sentinel job closes the
    * window, because the listener bus delivers events in order.
    */
  private def jobsOf(f: => Unit): Int = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "listener bus did not drain")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }

  test("each copy-on-write mutation runs within its job budget") {
    val p = versioned(events(1 to 400))
    // warm once: the first query of a fresh session plans extra work
    EsdbWriter.updateWhere(spark, p, Map("value" -> lit(0.0)),
      Seq(org.apache.spark.sql.sources.EqualTo("event_id", 1L)))
    val update = jobsOf(EsdbWriter.updateWhere(spark, p, Map("value" -> lit(-1.0)),
      Seq(org.apache.spark.sql.sources.EqualTo("event_id", 7L))): Unit)
    val delete = jobsOf(EsdbWriter.delete(spark, p, groupings = Some(Set("g3"))))
    val retention = jobsOf(EsdbWriter.deleteOlderThan(spark, p, 100L * 1000))
    val merge = jobsOf(EsdbWriter.mergeInto(spark, p,
      Seq(("s1", "g1", 5000L, 205L, 1.0, "{}"), ("s2", "g5", 6000L, 9001L, 2.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      Seq("event_id")): Unit)
    val got = Map("update" -> update, "delete" -> delete, "retention" -> retention, "merge" -> merge)
    // data write (shuffle + write), one footer job, the groupings query
    // (shuffle + write); delete adds the manifest lookup, retention the
    // ts-range read, merge the source stats, the footprint join and its
    // counts
    info(s"Spark jobs per mutation: $got")
    val budget = Map("update" -> 5, "delete" -> 6, "retention" -> 6, "merge" -> 12)
    budget.foreach { case (k, b) =>
      assert(got(k) <= b, s"$k ran ${got(k)} Spark jobs, budget $b (all: $got)")
    }
    assertSidecars(p, "after the budgeted mutations")
  }

  test("a store sealed through a file: URI refuses deletes") {
    val dir = tmp("sealuri")
    EsdbWriter.write(events(1 to 40), dir)
    val uri = new java.io.File(dir).toURI.toString // file:/…/
    EsdbWriter.seal(spark, uri, "k")
    assert(EsdbWriter.isSealed(uri) && EsdbWriter.isSealed(dir))
    intercept[IllegalArgumentException] {
      EsdbWriter.delete(spark, uri, groupings = Some(Set("g1")))
    }
    assert(EsdbWriter.read(spark, dir).count() == 40)
  }
}
