package graft

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
    val rows = EsdbWriter.tsRangeManifest(spark.sparkContext.hadoopConfiguration, root.toString)
      .get.groupBy(_._1).map { case (f, rs) =>
        val facts = rs.map { case (_, r) =>
          (Option.when(r.hasTs)(r.minTs), Option.when(r.hasTs)(r.maxTs), r.nullFree)
        }.distinct
        assert(facts.length == 1, s"$what: conflicting ts-range rows for $f: ${facts.toSeq}")
        f -> facts.head
      }
    files.foreach { case (rel, st, _) =>
      val row = rows.getOrElse(rel, fail(s"$what: no ts-range row for live file $rel"))
      assert(row == footerFacts(st.getPath), s"$what: ts-range row of $rel differs from its footer")
    }
    val data = EsdbWriter.read(spark, p).select("space", "grouping").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pairs = EsdbWriter.manifestGroupings(spark, p).get.toSet
    assert(pairs == data, s"$what: groupings sidecar ${pairs -- data} extra, ${data -- pairs} missing")
  }

  /** The head's sidecar directories (`_MANIFEST.*`): each is one part
    * after a rewrite, and no part name grows with the version chain.
    */
  private def assertSidecarParts(p: String, what: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("_MANIFEST."))
    val parts = dirs.map { d =>
      d.getPath.getName -> fs.listStatus(d.getPath).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    }.toMap
    Seq(EsdbWriter.TsRangeManifest, EsdbWriter.LogManifest, EsdbWriter.GroupingsManifest)
        .filter(parts.contains).foreach { m =>
      assert(parts(m).size == 1, s"$what: $m holds ${parts(m).size} parts: ${parts(m)}")
    }
    parts.foreach { case (m, names) =>
      names.foreach { n =>
        assert(!n.startsWith("carry-") && n.getBytes("UTF-8").length <= 100,
          s"$what: $m part name grows with the chain: $n")
      }
    }
  }

  /** The log manifest lists exactly the visible files, each with its
    * footer's event_id range and row count.
    */
  private def assertLogManifest(p: String, what: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val files = graft.engine.LogCommits.visibleDataFiles(root.getFileSystem(conf), root)
    val manifest = EsdbWriter.logManifestInfo(conf, root.toString).get
    assert(manifest.keySet == files.map(_.getPath.getName).toSet,
      s"$what: manifest rows ${manifest.keySet} for visible files ${files.map(_.getPath.getName)}")
    files.foreach { f =>
      val facts = graft.sources.ParquetFiles.facts(conf, f.getPath)
      val (mn, mx) = facts.longRange("event_id").get
      assert(manifest(f.getPath.getName) == EsdbWriter.LogFileInfo(mn, mx, facts.rows),
        s"$what: manifest row of ${f.getPath.getName} differs from its footer")
    }
  }

  test("40 copy-on-write versions keep each sidecar one part with bounded names") {
    import org.apache.spark.sql.sources.EqualTo
    val p = versioned(events(1 to 200))
    (1 to 40).foreach { i =>
      // one row of one space: the other spaces' files carry
      assert(EsdbWriter.updateWhere(spark, p, Map("value" -> lit(-i.toDouble)),
        Seq(EqualTo("space", s"s${i % 4}"), EqualTo("event_id", i.toLong)), keepVersions = 2))
      assertSidecarParts(p, s"store version $i")
      assertSidecars(p, s"store version $i")
    }
    assert(EsdbWriter.read(spark, p).where(col("value") < 0).count() == 40)
    val log = tmp("sidecarchain")
    EsdbWriter.writeLog(events(1 to 400), log)
    (1 to 40).foreach { i =>
      if (i % 2 == 1) EsdbWriter.deleteWhereLog(spark, log, Seq(EqualTo("event_id", 200L + i)),
        keepVersions = 2)
      else EsdbWriter.trimLog(spark, log, i.toLong, keepVersions = 2)
      assertSidecarParts(log, s"log version $i")
      assertLogManifest(log, s"log version $i")
    }
    val gone = (1 until 40).toSet ++ (1 to 40 by 2).map(200 + _)
    assert(EsdbWriter.readLog(spark, log).select("event_id").collect().map(_.getLong(0)).toSet ==
      (1 to 400).filterNot(gone).map(_.toLong).toSet)
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

  /** A store whose every space holds two files: `first` written, then
    * `second` appended in place.
    */
  private def twoFilesPerSpace(first: DataFrame, second: DataFrame): String = {
    val p = versioned(first)
    EsdbWriter.append(second, p)
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val files = EsdbWriter.storeDataFiles(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    assert(files.groupBy(_._3).values.forall(_.size == 2), files.map(_._1))
    p
  }

  test("a predicate delete that rewrites one file of a space and carries another") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val late = events(201 to 260).withColumn("grouping", lit("late"))
    // stats carry each space's first file and rewrite its second, which
    // keeps some of its rows
    val p = twoFilesPerSpace(events(1 to 200), late)
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("event_id", 231L)))
    assertSidecars(p, "partial rewrite beside a carried file")
    // the second files lose every row: their pairs leave, the carried
    // files' pairs stay
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("event_id", 201L)))
    assertSidecars(p, "empty rewrite beside a carried file")
    assert(!EsdbWriter.manifestGroupings(spark, p).get.exists(_._2 == "late"))
  }

  test("a drop-only retention step that carries another file of the space") {
    def at(ids: Range, g: String, tsBase: Long) = ids.map { i =>
      (s"s${i % 3}", g, tsBase + i, i.toLong, 0.0, "{}")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val p = twoFilesPerSpace(at(1 to 60, "old", 0L), at(61 to 120, "new", 1000000L))
    // every old file is wholly expired and null-free: dropped unread;
    // every new file survives whole: carried; nothing is written
    EsdbWriter.deleteOlderThan(spark, p, 500000L)
    assert(EsdbWriter.read(spark, p).count() == 60)
    assertSidecars(p, "drop-only retention")
    assert(EsdbWriter.manifestGroupings(spark, p).get.map(_._2).toSet == Set("new"))
  }

  test("a MERGE that moves a matched row to another grouping drops the old pair") {
    val p = versioned(events(1 to 120).withColumn("grouping",
      when(col("event_id") === 7L, lit("solo")).otherwise(col("grouping"))))
    val (replaced, inserted) = EsdbWriter.mergeInto(spark, p,
      Seq(("s3", "moved", 7000L, 7L, 1.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), Seq("event_id"))
    assert((replaced, inserted) == (1L, 0L))
    assertSidecars(p, "MERGE moving a grouping")
    val pairs = EsdbWriter.manifestGroupings(spark, p).get.toSet
    assert(pairs.contains(("s3", "moved")) && !pairs.exists(_._2 == "solo"), pairs)
  }

  test("a store-sink epoch that adds a grouping extends the sidecars") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = tmp("sidecarsink")
    EsdbWriter.write(events(1 to 60), p)
    val mem = MemoryStream[(String, String, Long, Long, Double, String)]
    mem.addData((61 to 90).map(i => (s"s${i % 4}", "streamed", i * 1000L, i.toLong, 0.0, "{}")): _*)
    val q = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      .writeStream.format("esdb").option("path", p)
      .option("checkpointLocation", tmp("sidecarsink-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(EsdbWriter.read(spark, p).count() == 90)
    assertSidecars(p, "store-sink epoch")
    assert(EsdbWriter.manifestGroupings(spark, p).get.count(_._2 == "streamed") == 4)
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
    val append = jobsOf(EsdbWriter.append(events(401 to 460), p))
    val got = Map("update" -> update, "delete" -> delete, "retention" -> retention,
      "merge" -> merge, "append" -> append)
    // the data write alone (shuffle + write): footers and sidecars are
    // read and written on the driver, and the write observes its own
    // (space, grouping) pairs; merge adds the source stats (a distinct
    // count: two shuffles and the result) and the footprint join (its
    // two shuffles and the cache the write materializes, observing the
    // counts)
    info(s"Spark jobs per mutation: $got")
    val budget = Map("update" -> 2, "delete" -> 2, "retention" -> 2, "merge" -> 8, "append" -> 2)
    budget.foreach { case (k, b) =>
      assert(got(k) <= b, s"$k ran ${got(k)} Spark jobs, budget $b (all: $got)")
    }
    assertSidecars(p, "after the budgeted mutations")

    // incremental compaction through the maintenance autopilot
    val c = versioned(events(1 to 200))
    EsdbWriter.append(events(201 to 260), c)
    EsdbWriter.append(events(261 to 300), c)
    Maintenance.setPolicy(spark.sparkContext.hadoopConfiguration, c,
      Maintenance.Policy(maxFilesPerSpace = Some(1)))
    var did = Seq.empty[String]
    val maintain = jobsOf { did = Maintenance.maintain(spark, c) }
    assert(did.contains("compaction"), did)
    assertSidecars(c, "maintain")
    // SQL UPDATE ends in replaceFootprint; the first statement warms the catalog
    val root = tmp("sidecarbudget")
    Publish.publish(spark.sparkContext.hadoopConfiguration, s"$root/t", keepVersions = 4) { t =>
      EsdbWriter.write(events(1 to 120), t)
    }: Unit
    spark.conf.set("spark.sql.catalog.sidecarbudget", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.sidecarbudget.root", root)
    spark.sql("UPDATE sidecarbudget.t SET value = 0.0 WHERE event_id < 5")
    val sqlUpdate = jobsOf(spark.sql("UPDATE sidecarbudget.t SET value = 1.0 WHERE event_id < 10"): Unit)
    assertSidecars(s"$root/t", "SQL UPDATE")
    // a replica applying a feed window with deletes (exact rows) and an insert
    val r = versioned(events(1 to 200))
    val feed = events(5 to 6).withColumn("_change", lit("delete"))
      .unionByName(events(900 to 900).withColumn("_change", lit("insert")))
    var applied = (0L, 0L)
    val apply = jobsOf { applied = EsdbWriter.applyChanges(spark, r, feed) }
    assert(applied == (1L, 2L))
    assertSidecars(r, "applyChanges")
    // log trim and predicate delete on a log store
    val log = tmp("sidecarlog")
    EsdbWriter.writeLog(events(1 to 200), log)
    EsdbWriter.appendLog(events(201 to 300), log)
    val appendLog = jobsOf(EsdbWriter.appendLog(events(301 to 400), log))
    val trim = jobsOf(EsdbWriter.trimLog(spark, log, 250L))
    val logDelete = jobsOf(EsdbWriter.deleteWhereLog(spark, log,
      Seq(org.apache.spark.sql.sources.EqualTo("event_id", 320L))))
    assert(EsdbWriter.readLog(spark, log).count() == 150)
    val more = Map("maintain" -> maintain, "sql_update" -> sqlUpdate, "apply_changes" -> apply,
      "append_log" -> appendLog, "trim_log" -> trim, "delete_where_log" -> logDelete)
    info(s"Spark jobs per mutation: $more")
    // maintain: data write alone; a SQL UPDATE adds the statement's
    // footprint scan; applyChanges adds one feed aggregate (counts and
    // delete stats) and the EXCEPT ALL, whose counts the write itself
    // observes; a log append or rewrite is its data write alone (an
    // append also samples its range bounds): the log manifest is read
    // and written on the driver
    val moreBudget = Map("maintain" -> 2, "sql_update" -> 3, "apply_changes" -> 7,
      "append_log" -> 3, "trim_log" -> 2, "delete_where_log" -> 2)
    moreBudget.foreach { case (k, b) =>
      assert(more(k) <= b, s"$k ran ${more(k)} Spark jobs, budget $b (all: $more)")
    }
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
