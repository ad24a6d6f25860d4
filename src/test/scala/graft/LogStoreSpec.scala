package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventLog}

/** The DSv2 log store read path ([[graft.sources.EsdbLogSource]]):
  * insertion order free from layout for the stream surface — iterate
  * plans no Sort, resume offsets prune files and rows, pagination is
  * absorbed into the scan. The reference gets all of this from its
  * flat append file (stream/stream.go:92-124).
  */
class LogStoreSpec extends SparkSpec {
  import spark.implicits._

  /** 500 events written in two interleaving-id batches: evens then
    * odds, so file id ranges OVERLAP and only a real merge (not file
    * concatenation) yields global order.
    */
  private lazy val logPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("logstore").toFile
    dir.delete()
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk((1 to 500).filter(_ % 2 == 0)), dir.getAbsolutePath)
    EsdbWriter.appendLog(mk((1 to 500).filter(_ % 2 == 1)), dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def log: DataFrame = EsdbWriter.readLog(spark, logPath)

  /** The log manifest's rows by file name, read on the driver. */
  private def manifest(path: String): Map[String, EsdbWriter.LogFileInfo] =
    EsdbWriter.logManifestInfo(spark.sparkContext.hadoopConfiguration,
      EsdbWriter.dataRoot(spark, path)).get

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def hasSortNode(plan: String): Boolean =
    """(?m)^\W*\*?\(?\d*\)?\s*Sort """.r.findFirstIn(plan).isDefined ||
      plan.contains(") Sort [") || plan.contains("+- Sort [")

  test("iterate over a log store: global insertion order, overlapping files merged") {
    val ids = EventLog.iterate(log).select("event_id").as[Long].collect().toSeq
    assert(ids == (1L to 500L))
  }

  test("iterate plans no Sort: the log's order is reported, not recomputed") {
    val q = EventLog.iterate(log).select("event_id", "ts_us", "value", "payload")
    val plan = executed(q)
    assert(!hasSortNode(plan), "iterate over a log store must not sort:\n" + plan)
    assert(plan.contains("BatchScan"), plan)
  }

  test("resume offset: exact rows, fewer rows materialized, files pruned") {
    val from = 400L
    val (got, ran) = collectPlanned(EventLog.iterate(log, from).select("event_id").as[Long])
    val boundedRead = rowsMerged(ran)
    assert(got == (400L to 500L))
    // the resume offset must not materialize the whole log: manifest
    // file pruning + row-group stats + record filter cut the scan to
    // (roughly) the matching suffix
    assert(boundedRead <= 2L * got.size,
      s"resume read $boundedRead rows for ${got.size} results")
    val plan = EventLog.iterate(log, from).queryExecution.executedPlan.toString
    assert(!hasSortNode(plan), plan)
    // the pushed bound leaves no post-scan Filter on event_id
    assert(!plan.contains("Filter (event_id"), plan)
  }

  test("pagination: iterate(from).limit(n) absorbs the limit, no sort, no TakeOrdered") {
    val q = EventLog.iterate(log, 100L).limit(20).select("event_id")
    val rows = q.as[Long].collect().toSeq
    assert(rows == (100L to 119L))
    val plan = executed(q)
    assert(!hasSortNode(plan), plan)
    assert(!plan.contains("TakeOrderedAndProject"), plan)
  }

  test("manifest exists and covers every data file") {
    val m = manifest(logPath)
    val files = new java.io.File(graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, logPath))
      .listFiles().filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(m.keySet == files.map(_.getName).toSet)
    assert(m.values.forall(i => i.minId <= i.maxId))
  }

  test("vectorized log path: disjoint-range files concatenate columnar, overlaps and resumes stay row-wise") {
    // the shared fixture's two batches INTERLEAVE ids — ranges overlap,
    // so the unbounded iterate must keep the merge heap
    val (overlapIds, overlapPlan) = collectPlanned(
      EventLog.iterate(log).select("event_id").as[Long])
    assert(readRowWise(overlapPlan), "overlapping id ranges must take the row merge path")
    assert(overlapIds == (1L to 500L))
    // a log whose appends carry ever-higher ids (the steady state):
    // disjoint ranges, manifest-proven — the full iterate vectorizes
    val dir = java.nio.file.Files.createTempDirectory("logvec").toFile
    dir.delete()
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 300), dir.getAbsolutePath)
    EsdbWriter.appendLog(mk(301 to 600), dir.getAbsolutePath)
    val seq = EsdbWriter.readLog(spark, dir.getAbsolutePath)
    val (seqRows, seqPlan) = collectPlanned(
      EventLog.iterate(seq).select("event_id", "space", "value", "payload")
        .as[(Long, String, Double, String)])
    assert(readColumnar(seqPlan), "disjoint-range log files must decode through the vectorized reader")
    assert(seqRows.map(_._1) == (1L to 600L))
    assert(seqRows(41) == (42L, "s0", 4.2, """{"k": 6}"""))
    // a resume offset claims an id bound the vectorized path cannot
    // enforce — must stay on the row path and stay correct
    val (resumed, resumePlan) = collectPlanned(
      EventLog.iterate(seq, 550L).select("event_id").as[Long])
    assert(readRowWise(resumePlan), "claimed id bounds must not go columnar")
    assert(resumed == (550L to 600L))
    // pagination truncates the batch stream without reading every file
    val (page, pagePlan) = collectPlanned(seq.limit(5))
    assert(readColumnar(pagePlan) && page.size == 5)
    assert(seq.count() == 600L)
  }

  test("parallel replay: one partition per disjoint id-range group, ordered within, exact fallback on overlap") {
    // disjoint-batch log: writeLog range-partitions each batch and the
    // batches' id ranges don't interleave → every file's range is
    // disjoint from every other's, so parallel replay plans one
    // partition per file
    val dir = java.nio.file.Files.createTempDirectory("logpar").toFile
    dir.delete()
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 300), dir.getAbsolutePath)
    EsdbWriter.appendLog(mk(301 to 600), dir.getAbsolutePath)
    val nFiles = manifest(dir.getAbsolutePath).size
    val par = EsdbWriter.readLogParallel(spark, dir.getAbsolutePath)
    // partition count: one per file (all ranges disjoint), > 1 — the
    // replay parallelism the single-cursor default cannot have
    val parts = par.select("event_id").as[Long]
      .mapPartitions(it => Iterator.single(it.toSeq)).collect().toSeq
    assert(parts.size == nFiles && nFiles > 1,
      s"expected $nFiles partitions, planned ${parts.size}")
    // within each partition the log's order holds; across partitions
    // the id ranges are disjoint and ascending by partition index
    parts.foreach(p => assert(p == p.sorted, "a replay partition must be id-ordered"))
    val nonEmpty = parts.filter(_.nonEmpty)
    assert(nonEmpty.sliding(2).forall {
      case Seq(a, b) => a.last < b.head
      case _ => true
    }, "partition id ranges must be disjoint and ascending")
    assert(parts.flatten.sorted == (1L to 600L))
    // singleton groups satisfy the footer proof → columnar decode
    val (parCount, parPlan) = countPlanned(par)
    assert(parCount == 600L)
    assert(readColumnar(parPlan),
      "disjoint singleton groups must decode through the vectorized reader")
    // no Sort node: per-partition consumption needs none
    val plan = executed(par.select("event_id", "space", "value"))
    assert(!hasSortNode(plan), plan)
    // a resume offset still prunes files and rows in parallel mode
    val resumed = par.where(col("event_id") >= 550L).select("event_id").as[Long]
      .collect().toSeq.sorted
    assert(resumed == (550L to 600L))
    // pushed limit is only per-partition here: Spark must keep the
    // global limit and the row count must be exact
    assert(par.limit(5).collect().length == 5)
    // the shared fixture's batches INTERLEAVE ids: grouping collapses
    // to the single global merge — same rows, same global order
    val fallback = EsdbWriter.readLogParallel(spark, logPath)
    val fparts = fallback.select("event_id").as[Long]
      .mapPartitions(it => Iterator.single(it.toSeq)).collect().toSeq
    assert(fparts.size == 1, "overlapping ranges must fall back to one global merge")
    assert(fparts.head == (1L to 500L))
  }

  test("mixed provable/unprovable groups: parallel replay falls back to all-row partitions, never a mixed scan") {
    // files: several disjoint singletons (columnar-provable) plus two
    // INTERLEAVED append batches forming one row-merge group — Spark
    // rejects a scan mixing columnar and row partitions, so the scan
    // must homogenize to row merge and stay correct
    val dir = java.nio.file.Files.createTempDirectory("logmixed").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 100), path) // up to 4 disjoint files
    EsdbWriter.appendLogBatch(mk((101 to 300).filter(_ % 2 == 0)), path, 0L)
    EsdbWriter.appendLogBatch(mk((101 to 300).filter(_ % 2 == 1)), path, 1L)
    val par = EsdbWriter.readLogParallel(spark, path)
    val parts = par.select("event_id").as[Long]
      .mapPartitions(it => Iterator.single(it.toSeq)).collect().toSeq
    assert(parts.size > 1, "disjoint singletons plus one merge group should still plan wide")
    assert(parts.flatten.sorted == (1L to 300L))
    parts.foreach(p => assert(p == p.sorted))
    // streaming drain over the same mixed log: same fallback, same rows
    assert(graft.streaming.StreamIngest.drainLog(spark, path)
      .select("event_id").as[Long].collect().toSeq == (1L to 300L))
  }

  test("a foreign log file without event_id fails a bounded read loudly") {
    val dir = java.nio.file.Files.createTempDirectory("logforeign").toFile
    dir.delete()
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 100), dir.getAbsolutePath)
    val root = graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, dir.getAbsolutePath)
    val stage = java.nio.file.Files.createTempDirectory("logforeignsrc").toString
    Seq(("x", 1.0)).toDF("space", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$root/zzz-foreign.parquet").toPath)
    // a resume offset claims event_id >= from: the foreign file can't
    // honor the claim — the read must fail naming it, not skip it
    val e = intercept[org.apache.spark.SparkException] {
      EventLog.iterate(EsdbWriter.readLog(spark, dir.getAbsolutePath), 50L)
        .select("event_id").collect()
    }
    assert(e.getMessage.contains("zzz-foreign.parquet") ||
      Option(e.getCause).exists(_.getMessage.contains("zzz-foreign.parquet")), e.getMessage)
  }

  test("streaming consumption: AvailableNow drains the log, a resumed run reads only the appended suffix") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("logmb").toFile
    dir.delete()
    val ckpt = java.nio.file.Files.createTempDirectory("logmbckpt").toString
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 200), dir.getAbsolutePath)
    // the drained ids, and the query that drained them
    def drain(): (Seq[Long], org.apache.spark.sql.streaming.StreamingQuery) = {
      val got = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
      val query = EsdbWriter.readLogStream(spark, dir.getAbsolutePath)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
            .collect().foreach(got.add)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      import scala.jdk.CollectionConverters._
      (got.asScala.toSeq.sorted, query)
    }
    // first drain: the whole log, in one resumable pass (populate's
    // replay) — and through the VECTORIZED path: the batch covers
    // (-1, head], provably vacuous on the single disjoint file
    val (first, firstQuery) = drain()
    assert(first == (1L to 200L))
    assert(readColumnar(lastBatchPlan(firstQuery)),
      "a full drain of a disjoint-range log must decode columnar")
    // append while the consumer is down; the checkpointed offset makes
    // the next run read exactly the appended suffix — file-aligned, so
    // it vectorizes too
    EsdbWriter.appendLog(mk(201 to 320), dir.getAbsolutePath)
    val (suffix, suffixQuery) = drain()
    assert(suffix == (201L to 320L))
    assert(readColumnar(lastBatchPlan(suffixQuery)), "a file-aligned suffix read must decode columnar")
    // nothing new: a third run delivers zero rows
    assert(drain()._1.isEmpty)
  }

  test("streaming replay runs wide: a multi-file backlog drains over one partition per disjoint group") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("logmbpar").toFile
    dir.delete()
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(mk(1 to 300), dir.getAbsolutePath)   // 4 disjoint files
    EsdbWriter.appendLog(mk(301 to 600), dir.getAbsolutePath) // 4 more, disjoint
    val nFiles = manifest(dir.getAbsolutePath).size
    assert(nFiles > 1)
    val widths = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    EsdbWriter.readLogStream(spark, dir.getAbsolutePath, parallel = true)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        widths.add(batch.rdd.getNumPartitions)
        batch.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().foreach(got.add)
      }
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("logmbparck").toString)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == (1L to 600L))
    assert(widths.asScala.exists(_ == nFiles),
      s"backlog drain should plan $nFiles partitions, planned ${widths.asScala}")
  }

  test("null event_ids: the log's reported ASC order is NULLS FIRST; bounds exclude nulls") {
    val dir = java.nio.file.Files.createTempDirectory("lognullid").toFile
    dir.delete()
    val rows: Seq[(String, String, Long, Option[Long], Double, String)] =
      (1 to 60).map { i =>
        val id = if (i % 7 == 0) None else Some(i.toLong)
        ("s", s"g${i % 2}", i.toLong * 10, id, i / 10.0, s"""{"k": ${i % 3}}""")
      }
    rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      .createOrReplaceTempView("null_id_src")
    EsdbWriter.writeLog(spark.table("null_id_src"), dir.getAbsolutePath)
    val o = EsdbWriter.readLog(spark, dir.getAbsolutePath)
    val v = spark.read.parquet(graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, dir.getAbsolutePath))
    // unsorted consumption of the log == Spark's asc (nulls-first) sort
    val got = o.select("event_id", "value")
      .as[(Option[Long], Double)].collect().toSeq
    val expect = v.orderBy(col("event_id").asc).select("event_id", "value")
      .as[(Option[Long], Double)].collect().toSeq
    assert(got.map(_._1) == expect.map(_._1))
    assert(got.filter(_._1.isEmpty).map(_._2).sorted == expect.filter(_._1.isEmpty).map(_._2).sorted)
    assert(got.exists(_._1.isEmpty), "fixture must include null ids")
    // a claimed bound excludes null ids exactly, per SQL semantics
    val bounded = o.where(col("event_id") >= 30L).select("event_id").as[Long].collect().toSeq
    assert(bounded == (30L to 60L).filter(_ % 7 != 0))
  }

  test("exactly-once streaming sink: micro-batches land sorted, committed, and ordered reads hold") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("logsink").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("logsinkckpt").toString
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    // two source files + maxFilesPerTrigger=1 → at least two real
    // micro-batches through the sink
    val src = java.nio.file.Files.createTempDirectory("logsinksrc").toString
    mk(1 to 300).coalesce(1).write.mode("append").parquet(src)
    mk(301 to 600).coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(mk(1 to 1).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.StreamIngest.sinkLog(stream, path, ckpt, Trigger.AvailableNow())
      .awaitTermination()
    // every batch has a durable marker; data files carry the epoch name
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = graft.engine.LogCommits.committedEpochs(
      fs, new org.apache.hadoop.fs.Path(path))
    assert(committed.size >= 2, s"expected >=2 committed epochs, got $committed")
    // the written store keeps the full log contract: global order with
    // no Sort node, and the manifest covers the sink's files
    val q = EventLog.iterate(EsdbWriter.readLog(spark, path)).select("event_id")
    val ids = q.as[Long].collect().toSeq
    assert(ids == (1L to 600L))
    assert(!hasSortNode(q.queryExecution.executedPlan.toString))
    val m = manifest(path).keySet
    assert(m.exists(_.startsWith("stream-")), s"manifest must cover sink files: $m")
    // a replay of a committed epoch is a no-op (exactly-once, not
    // at-least-once): re-running one epoch's batch adds nothing
    val epoch = committed.min
    EsdbWriter.appendLogBatch(mk(1 to 300), path, epoch)
    assert(EsdbWriter.readLog(spark, path).count() == 600L)
  }

  test("a crashed batch is invisible until its marker commits, and its replay sweeps the leftovers") {
    val dir = java.nio.file.Files.createTempDirectory("logcrash").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.appendLogBatch(mk(1 to 100), path, epochId = 0L)
    // simulate a crash AFTER epoch 1's data files landed but BEFORE its
    // commit marker: stage a parquet file and move it in under the
    // stream-batch name by hand
    val stage = java.nio.file.Files.createTempDirectory("logcrashstage").toString
    mk(5000 to 5100).coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    val orphan = new java.io.File(path, "stream-1-00000.parquet")
    assert(part.renameTo(orphan))
    // invisible to the batch read, the head, and the streaming drain
    assert(EsdbWriter.readLog(spark, path).count() == 100L)
    assert(graft.streaming.StreamIngest.drainLog(spark, path).count() == 100L)
    // the replayed epoch sweeps the orphan and writes its real content
    EsdbWriter.appendLogBatch(mk(101 to 150), path, epochId = 1L)
    val ids = EventLog.iterate(EsdbWriter.readLog(spark, path))
      .select("event_id").as[Long].collect().toSeq
    assert(ids == (1L to 150L), "orphan rows must never surface; replay content must")
    assert(!orphan.exists() || !ids.contains(5000L))
    // and the manifest covers exactly the visible files
    val m = manifest(path).keySet
    assert(!m.contains("stream-1-00000.parquet") ||
      graft.engine.LogCommits.committedEpochs(
        new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(path)).contains(1L))
  }

  test("log compaction: one versioned file set, order kept, merge width rebounded, replays stay no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("logcompact").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    def mk(ids: Seq[Int]) = ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000,
      i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    // three sink epochs with INTERLEAVED id ranges: the pre-compaction
    // read must row-merge (no vectorized batches)
    EsdbWriter.appendLogBatch(mk((1 to 300).filter(_ % 3 == 0)), path, 0L)
    EsdbWriter.appendLogBatch(mk((1 to 300).filter(_ % 3 == 1)), path, 1L)
    EsdbWriter.appendLogBatch(mk((1 to 300).filter(_ % 3 == 2)), path, 2L)
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles: Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(graft.engine.Publish.resolve(conf, path))
      graft.engine.LogCommits.visibleDataFiles(root.getFileSystem(conf), root)
        .map(_.getPath.getName)
    }
    assert(dataFiles.size == 3)
    val (interleaved, interleavedPlan) = collectPlanned(
      EventLog.iterate(EsdbWriter.readLog(spark, path)).select("event_id").as[Long])
    assert(interleaved == (1L to 300L))
    assert(readRowWise(interleavedPlan), "interleaved epochs must row-merge")

    EsdbWriter.compactLog(spark, path)
    // one file, a committed version pointer, same global order — and the
    // steady-state read is now vectorized (single disjoint range)
    assert(dataFiles.size == 1, s"expected one compacted file, got $dataFiles")
    assert(graft.engine.Publish.currentVersion(conf, path).isDefined)
    val q = EventLog.iterate(EsdbWriter.readLog(spark, path)).select("event_id").as[Long]
    val (compacted, compactedPlan) = collectPlanned(q)
    assert(compacted == (1L to 300L))
    assert(readColumnar(compactedPlan), "compacted log must read through the vectorized path")
    assert(!hasSortNode(q.queryExecution.executedPlan.toString))
    // commit markers survived: a replayed pre-compaction epoch is still
    // a no-op, and fresh epochs append normally
    EsdbWriter.appendLogBatch(mk((1 to 300).filter(_ % 3 == 1)), path, 1L)
    assert(EsdbWriter.readLog(spark, path).count() == 300L)
    EsdbWriter.appendLogBatch(mk(301 to 350), path, 3L)
    assert(EventLog.iterate(EsdbWriter.readLog(spark, path))
      .select("event_id").as[Long].collect().toSeq == (1L to 350L))
    // compacting WIDE keeps replay parallelism: numFiles range-disjoint
    // outputs -> exactly numFiles parallel-replay partitions
    EsdbWriter.compactLog(spark, path, numFiles = 4)
    assert(dataFiles.size == 4)
    val parts = EsdbWriter.readLogParallel(spark, path).select("event_id").as[Long]
      .mapPartitions(it => Iterator.single(it.toSeq)).collect().toSeq
    assert(parts.size == 4, s"wide compaction should keep 4 replay groups, got ${parts.size}")
    assert(parts.flatten.sorted == (1L to 350L))
    parts.foreach(p => assert(p == p.sorted))
  }

  test("scan index and first over the stored log match the in-memory stream surface") {
    val fromStore = EventLog.scanIndex(log, "k", "3").select("event_id").as[Long].collect().toSeq
    val inMem = (1 to 500).filter(_ % 9 == 3).map(_.toLong).sorted.reverse
    assert(fromStore == inMem)
    val head = EventLog.first(log, "k", "3").as[Long].head()
    assert(head == inMem.head)
  }

  private def mkRange(ids: Range): DataFrame =
    ids.map(i => (s"s${i % 3}", s"g${i % 7}", i.toLong * 1000, i.toLong, i / 10.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("trimLog drops expired files by manifest, carries survivors, rewrites the straddler") {
    val dir = java.nio.file.Files.createTempDirectory("logtrim").toFile
    dir.delete()
    val p = dir.getAbsolutePath
    EsdbWriter.writeLog(mkRange(1 to 1000), p) // one file, fully expired at 2000
    EsdbWriter.appendLog(mkRange(1500 to 2500), p) // straddles the cutoff
    EsdbWriter.appendLog(mkRange(5000 to 6000), p) // fully survives
    def names(path: String): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, path))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath.getName).toSet
    }
    val before = names(p)
    EsdbWriter.trimLog(spark, p, 2000L)
    val after = names(p)
    val ids = EsdbWriter.readLog(spark, p).select("event_id").as[Long].collect().toSeq
    assert(ids == ((2000L to 2500L) ++ (5000L to 6000L)), s"got ${ids.take(5)}...${ids.takeRight(5)}")
    assert(ids == ids.sorted, "merge order must survive the trim")
    // the fully-surviving batch's file carries with its name; the
    // expired and straddling files are gone
    assert(before.intersect(after).nonEmpty, s"survivor must carry: before=$before after=$after")
    // trim below all data: no-op, no version churn
    val conf = spark.sparkContext.hadoopConfiguration
    val v = graft.engine.Publish.currentVersion(conf, p).map(_._1)
    EsdbWriter.trimLog(spark, p, 10L)
    assert(graft.engine.Publish.currentVersion(conf, p).map(_._1) == v)
  }

  test("predicate delete on a log: stat-precluded files carry, candidates rewrite, order holds") {
    val dir = java.nio.file.Files.createTempDirectory("logpreddel").toFile
    dir.delete()
    val p = dir.getAbsolutePath
    EsdbWriter.writeLog(mkRange(1 to 500), p) // values 0.1..50.0
    EsdbWriter.appendLog(mkRange(2000 to 2500), p) // values 200.0..250.0
    def names(path: String): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, path))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath.getName).toSet
    }
    val before = names(p)
    // only the second batch's files can hold value >= 200 (stats prove it)
    EsdbWriter.deleteWhereLog(spark, p,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("value", 200.0),
        org.apache.spark.sql.sources.LessThan("event_id", 2100L)))
    val after = names(p)
    assert(before.intersect(after).nonEmpty,
      s"stat-precluded first batch must carry byte-for-byte: before=$before after=$after")
    val ids = EsdbWriter.readLog(spark, p).select("event_id").as[Long].collect().toSeq
    assert(ids == ((1L to 500L) ++ (2100L to 2500L)), s"got ${ids.take(3)}...${ids.takeRight(3)}")
    assert(ids == ids.sorted, "merge order must survive")
    // the rewrite output is sized to its input (one maxPartitionBytes'
    // worth here = one file), not fragmented across shuffle.partitions
    assert((after -- before).size <= 2,
      s"small rewrite fragmented into ${(after -- before).size} files")
    // stats-proven no-op publishes no version
    val conf = spark.sparkContext.hadoopConfiguration
    val v = graft.engine.Publish.currentVersion(conf, p).map(_._1)
    EsdbWriter.deleteWhereLog(spark, p,
      Seq(org.apache.spark.sql.sources.GreaterThan("value", 9999.0)))
    assert(graft.engine.Publish.currentVersion(conf, p).map(_._1) == v)
  }

  test("SQL DELETE trims a catalog log table; predicates copy-on-write; TRUNCATE keeps markers") {
    val root = java.nio.file.Files.createTempDirectory("logtrimsql").toString
    val p = s"$root/clicks"
    // build through the exactly-once sink path so commit markers exist
    EsdbWriter.writeLog(mkRange(1 to 100), p)
    EsdbWriter.appendLogBatch(mkRange(101 to 200), p, epochId = 7L)
    spark.conf.set("spark.sql.catalog.esdb_trim", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_trim.root", root)
    spark.sql("DELETE FROM esdb_trim.clicks WHERE event_id < 150")
    val ids = spark.table("esdb_trim.clicks").select("event_id").as[Long].collect().toSeq
    assert(ids == (150L to 200L))
    // non-prefix predicates take the footer-stats copy-on-write path
    spark.sql("DELETE FROM esdb_trim.clicks WHERE grouping = 'g1'")
    val t = spark.table("esdb_trim.clicks")
    assert(t.where(col("grouping") === "g1").count() == 0)
    val ids2 = t.select("event_id").as[Long].collect().toSeq
    assert(ids2 == (150L to 200L).filterNot(_ % 7 == 1), "exactly g1's rows deleted")
    assert(ids2 == ids2.sorted, "merge order survives the predicate delete")
    spark.sql("DELETE FROM esdb_trim.clicks") // unbounded -> truncate
    assert(spark.table("esdb_trim.clicks").count() == 0)
    // markers survived the truncate: a replay of epoch 7 stays a no-op
    EsdbWriter.appendLogBatch(mkRange(101 to 200), p, epochId = 7L)
    assert(spark.table("esdb_trim.clicks").count() == 0,
      "replayed committed epoch must not re-append truncated history")
  }
}
