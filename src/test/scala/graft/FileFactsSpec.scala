package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}

import graft.engine.{DeleteWhere, EsdbWriter, LogCommits, Maintenance, Publish}
import graft.sources.ParquetFiles

/** [[ParquetFiles.facts]] is the one reader of footer statistics, so it
  * must say what the data says: on every live file of both layouts,
  * after every publishing path, its row count, null counts and proven
  * ranges equal an aggregate over the file's rows. An all-null row
  * group still proves a range; a file written without statistics
  * proves nothing, and every caller then takes its conservative answer.
  */
class FileFactsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  /** 4 spaces × 6 groupings; null `ts_us` every 17th event, null
    * `value` every 7th.
    */
  private def events(ids: Range, spaces: Int = 4): DataFrame =
    ids.map { i =>
      (s"s${i % spaces}", s"g${i % 6}", if (i % 17 == 0) None else Some(i.toLong * 1000),
        i.toLong, if (i % 7 == 0) None else Some(i / 10.0), s"""{"k": ${i % 5}}""")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  /** A footer statistic as Spark reads the value back. */
  private def asRead(v: Any): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other
  }

  /** `facts(file)` against count, count_if(isnull), min and max of each
    * top-level column of the file's rows.
    */
  private def assertFacts(file: Path, what: String): Unit = {
    val facts = ParquetFiles.facts(conf, file)
    val cols = facts.cols.keys.filterNot(_.contains('.')).toSeq.sorted
    assert(cols.contains("event_id"), s"$what: $file")
    val aggs = count(lit(1)) +:
      cols.flatMap(c => Seq(count_if(isnull(col(c))), min(col(c)), max(col(c))))
    val row = spark.read.parquet(file.toString).agg(aggs.head, aggs.tail: _*).head()
    assert(facts.rows == row.getLong(0), s"$what: rows of $file")
    cols.zipWithIndex.foreach { case (c, i) =>
      val f = facts.cols(c)
      assert(f.nulls.contains(row.getLong(1 + 3 * i)), s"$what: nulls of $c in $file: $f")
      assert(f.rangeProven, s"$what: $c unproven in $file")
      assert(f.min.map(asRead) == Option(row.get(2 + 3 * i)) &&
        f.max.map(asRead) == Option(row.get(3 + 3 * i)), s"$what: range of $c in $file: $f")
    }
  }

  private def assertLive(p: String, what: String): Unit = {
    val root = new Path(EsdbWriter.dataRoot(spark, p))
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.exists(new Path(root, EsdbWriter.LogManifest))) LogCommits.visibleDataFiles(fs, root).map(_.getPath)
      else EsdbWriter.storeDataFiles(fs, root).map(_._2.getPath)
    assert(files.nonEmpty, s"$what: no live files")
    files.foreach(assertFacts(_, what))
  }

  test("facts equal the data of every live store file after each publishing path") {
    val root = tmp("facts")
    val p = s"$root/t"
    Publish.publish(conf, p, keepVersions = 4) { t => EsdbWriter.write(events(1 to 300), t) }: Unit
    assertLive(p, "write")
    EsdbWriter.append(events(301 to 360), p)
    assertLive(p, "append")
    EsdbWriter.delete(spark, p, groupings = Some(Set("g2")))
    assertLive(p, "delete")
    EsdbWriter.deleteOlderThan(spark, p, 60L * 1000)
    assertLive(p, "deleteOlderThan")
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 10.0)))
    assertLive(p, "deleteWhere")
    assert(EsdbWriter.updateWhere(spark, p, Map("value" -> lit(-1.0)), Seq(GreaterThan("event_id", 330L))))
    assertLive(p, "updateWhere")
    EsdbWriter.mergeInto(spark, p,
      Seq(("s0", "g0", 999000L, 200L, 1.0, "{}"), ("s9", "g9", 999001L, 9999L, 2.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), Seq("event_id"))
    assertLive(p, "mergeInto")
    val feed = events(303 to 303).withColumn("_change", lit("delete"))
      .unionByName(events(900 to 900).withColumn("_change", lit("insert")))
    assert(EsdbWriter.applyChanges(spark, p, feed) == (1L, 1L))
    assertLive(p, "applyChanges")
    spark.conf.set("spark.sql.catalog.factscat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.factscat.root", root)
    spark.sql("UPDATE factscat.t SET grouping = 'sql' WHERE event_id < 100")
    assertLive(p, "SQL UPDATE")
    Maintenance.setPolicy(conf, p, Maintenance.Policy(maxFilesPerSpace = Some(1)))
    assert(Maintenance.maintain(spark, p).contains("compaction"))
    assertLive(p, "maintain")
  }

  test("facts equal the data of every live log file after each publishing path") {
    val log = tmp("factslog")
    EsdbWriter.writeLog(events(1 to 200), log)
    assertLive(log, "writeLog")
    EsdbWriter.appendLog(events(201 to 300), log)
    assertLive(log, "appendLog")
    EsdbWriter.trimLog(spark, log, 50L)
    assertLive(log, "trimLog")
    EsdbWriter.deleteWhere(spark, log, Seq(EqualTo("event_id", 120L)))
    assertLive(log, "deleteWhere")
    Maintenance.setPolicy(conf, log, Maintenance.Policy(maxFilesPerSpace = Some(1)))
    assert(Maintenance.maintain(spark, log).contains("compaction"))
    assertLive(log, "maintain")
  }

  test("an all-null ts_us row group still proves the file's range") {
    val dir = tmp("rowgroups")
    (1 to 40).map(i => (Option.when(i > 20)(i.toLong), i.toLong)).toDF("ts_us", "event_id")
      .coalesce(1).write.option("parquet.block.row.count.limit", "10").parquet(dir)
    val file = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    val path = new Path(file.getAbsolutePath)
    val r = ParquetFiles.open(conf, path)
    val groups = try r.getFooter.getBlocks.size finally r.close()
    assert(groups == 4, "10-row row groups")
    val ts = ParquetFiles.facts(conf, path).cols("ts_us")
    assert(ts.rangeProven && ts.nulls.contains(20L) && ts.longRange.contains((21L, 40L)), ts)
    assertFacts(path, "row groups")
  }

  test("a file written without statistics is unproven, and every caller stays conservative") {
    val p = tmp("nostats")
    EsdbWriter.write(events(1 to 100), p)
    spark.conf.set("parquet.column.statistics.enabled", "false")
    try EsdbWriter.append(events(101 to 140).withColumn("space", lit("s9")), p)
    finally spark.conf.unset("parquet.column.statistics.enabled")
    val root = new Path(EsdbWriter.dataRoot(spark, p))
    val (bare, rest) = EsdbWriter.storeDataFiles(root.getFileSystem(conf), root).partition(_._3 == "s9")
    assert(bare.nonEmpty && rest.nonEmpty)
    bare.foreach { case (_, st, _) =>
      val facts = ParquetFiles.facts(conf, st.getPath)
      assert(facts.rows > 0 && facts.cols.nonEmpty)
      facts.cols.foreach { case (c, f) => assert(!f.rangeProven && f.range.isEmpty, s"$c: $f") }
    }
    // the predicate delete cannot prove the file free of a match
    val impossible = Seq(EqualTo("event_id", -1L))
    assert(DeleteWhere.mayMatch(conf, bare.map(f => (f._2.getPath, Some("s9"))), impossible).forall(identity))
    assert(!DeleteWhere.mayMatch(conf, rest.map(f => (f._2.getPath, Some(f._3))), impossible).exists(identity))
    // the ts-range refresh omits the file, and keeps a row for every other one
    val ranged = EsdbWriter.tsRangeManifest(conf, root.toString).get.map(_._1).toSet
    assert(bare.forall(f => !ranged(f._1)) && rest.forall(f => ranged(f._1)), ranged)
    // aggregate pushdown answers COUNT(*) from row counts and refuses a min
    assert(EsdbWriter.readOrdered(spark, p).agg(count(lit(1))).head().getLong(0) == 140L)
    val err = intercept[Exception](EsdbWriter.readOrdered(spark, p).agg(min("ts_us")).collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("lacks the footer statistic")), err)
  }
}
