package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.engine.EsdbWriter
import graft.sources.{EsdbAggScan, EsdbMetrics}

/** Footer-only aggregate pushdown (EsdbAggScan): COUNT/MIN/MAX over
  * written stores answered from parquet footers — correctness parity
  * with the row path, proof that no data pages are read, and the
  * eligibility guards that keep row-filtered scans off the footer path.
  */
class AggPushdownSpec extends SparkSpec {
  import spark.implicits._

  /** 3 spaces, nulls in `value` and `ts_us` to exercise null counting,
    * two batches so every space has 2+ files (footer merge across files).
    */
  private lazy val storePath: String = {
    val dir = java.nio.file.Files.createTempDirectory("aggstore").toFile
    dir.delete()
    val rows = (1 to 400).map { i =>
      (s"s${i % 3}", s"g${i % 5}",
        if (i % 11 == 0) None else Some(i.toLong * 1000),
        i.toLong,
        if (i % 7 == 0) None else Some(i / 10.0),
        s"""{"k": ${i % 4}}""")
    }
    val (b1, b2) = rows.splitAt(200)
    EsdbWriter.write(b1.toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      dir.getAbsolutePath)
    EsdbWriter.append(b2.toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def ordered: DataFrame = EsdbWriter.readOrdered(spark, storePath)
  private def vanilla: DataFrame = EsdbWriter.read(spark, storePath)

  private def aggScanOf(df: DataFrame): Option[EsdbAggScan] =
    aggScanExecOf(df).map(_.scan.asInstanceOf[EsdbAggScan])

  /** The executed aggregate scan node (after running `df`). */
  private def aggScanExecOf(df: DataFrame): Option[BatchScanExec] = {
    df.collect()
    // descend through AQE query stages: the scan leaf lives inside them
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[EsdbAggScan] => Seq(b)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(s.plan)
      }.flatten
    scans(df.queryExecution.executedPlan).headOption
  }

  test("global count/min/max push to footers and match the row path") {
    val q = ordered.agg(
      count(lit(1)).as("n"),
      count($"value").as("n_value"),
      count($"ts_us").as("n_ts"),
      min($"ts_us").as("min_ts"), max($"ts_us").as("max_ts"),
      min($"event_id").as("min_id"), max($"event_id").as("max_id"),
      min($"value").as("min_v"), max($"value").as("max_v"))
    val scan = aggScanExecOf(q)
    assert(scan.isDefined, "aggregate was not pushed:\n" +
      q.queryExecution.executedPlan.toString)
    val plan = q.queryExecution.executedPlan
    assert(scanNodes(plan).forall(_.scan.isInstanceOf[EsdbAggScan]) && rowsMerged(plan) == 0,
      "footer-only aggregate must not pull rows off parquet:\n" + plan)
    // the scan reads each store file's footer once, and nothing else
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, storePath))
    val files = EsdbWriter.storeDataFiles(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    assert(files.size >= 6)
    assert(scan.get.metrics(EsdbMetrics.FooterReads).value == files.size, scan.get.metrics)
    val expect = vanilla.agg(
      count(lit(1)), count($"value"), count($"ts_us"),
      min($"ts_us"), max($"ts_us"), min($"event_id"), max($"event_id"),
      min($"value"), max($"value")).collect().head
    assert(q.collect().head == expect)
  }

  test("group-by space pushes: one footer row per space, merged correctly") {
    val q = ordered.groupBy("space").agg(
      count(lit(1)).as("n"),
      count($"value").as("n_value"),
      min($"ts_us").as("min_ts"),
      max($"ts_us").as("max_ts")).orderBy("space")
    assert(aggScanOf(q).isDefined, "grouped aggregate was not pushed:\n" +
      q.queryExecution.executedPlan.toString)
    val expect = vanilla.groupBy("space").agg(
      count(lit(1)).as("n"), count($"value").as("n_value"),
      min($"ts_us").as("min_ts"), max($"ts_us").as("max_ts")).orderBy("space")
      .collect().toSeq
    assert(q.collect().toSeq == expect)
    assert(expect.size == 3)
  }

  test("count(space) counts rows: the partition constant is never null") {
    val q = ordered.groupBy("space").agg(count($"space").as("n")).orderBy("space")
    assert(aggScanOf(q).isDefined)
    val expect = vanilla.groupBy("space").agg(count($"space").as("n")).orderBy("space")
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("space filter composes: pruned directories never reach the footer reader") {
    val q = ordered.where($"space" === "s1")
      .agg(count(lit(1)).as("n"), max($"event_id").as("mx"))
    assert(aggScanOf(q).isDefined)
    val expect = vanilla.where($"space" === "s1")
      .agg(count(lit(1)).as("n"), max($"event_id").as("mx"))
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("row-level pruning state disqualifies: grouping filter stays on the row path") {
    val q = ordered.where($"grouping" === "g2").agg(count(lit(1)).as("n"))
    q.collect()
    assert(aggScanOf(q).isEmpty, "grouping-filtered aggregate must NOT use footer stats")
    val expect = vanilla.where($"grouping" === "g2").agg(count(lit(1)).as("n"))
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("ts bound disqualifies: bounded scans count rows, not footers") {
    val q = ordered.where($"ts_us" >= 100000L).agg(count(lit(1)).as("n"))
    assert(aggScanOf(q).isEmpty)
    val expect = vanilla.where($"ts_us" >= 100000L).agg(count(lit(1)).as("n"))
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("string min/max does not push (truncatable stats) but still answers correctly") {
    val q = ordered.agg(min($"grouping").as("mn"), max($"grouping").as("mx"))
    assert(aggScanOf(q).isEmpty, "binary stats may be truncated; strings must not push")
    val expect = vanilla.agg(min($"grouping").as("mn"), max($"grouping").as("mx"))
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("avg does not push; the whole aggregation falls back to the row path") {
    // integer column: the row-path average is order-independent, so
    // parity with the vanilla scan is exact
    val q = ordered.agg(avg($"event_id").as("a"), count(lit(1)).as("n"))
    assert(aggScanOf(q).isEmpty)
    val expect = vanilla.agg(avg($"event_id").as("a"), count(lit(1)).as("n"))
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("SQL text through the catalog pushes too: same table, same scan builder") {
    val root = new java.io.File(storePath).getParent
    val name = new java.io.File(storePath).getName
    spark.conf.set("spark.sql.catalog.aggcat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.aggcat.root", root)
    val q = spark.sql(
      s"""SELECT space, count(*) AS n, min(ts_us) AS mn, max(event_id) AS mx
         |FROM aggcat.`$name` GROUP BY space ORDER BY space""".stripMargin)
    assert(aggScanOf(q).isDefined, "catalog SQL aggregate was not pushed:\n" +
      q.queryExecution.executedPlan.toString)
    val expect = vanilla.groupBy("space")
      .agg(count(lit(1)).as("n"), min($"ts_us").as("mn"), max($"event_id").as("mx"))
      .orderBy("space")
    assert(q.collect().toSeq == expect.collect().toSeq)
  }

  test("global aggregate over zero matching spaces still yields count 0") {
    // every space directory prunes out — the scan must still emit one
    // partial row, else Spark's final sum-of-counts merges zero rows
    // into null instead of 0
    val q = ordered.where($"space" === "no_such_space")
      .agg(count(lit(1)).as("n"), max($"event_id").as("mx"))
    val got = q.collect().head
    assert(aggScanOf(q).isDefined)
    assert(got.getLong(0) == 0L)
    assert(got.isNullAt(1))
  }
}
