package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Jobs `f` starts from this thread (job-group filtered, so nothing
    * else running in the session counts); a sentinel job closes the
    * window, because the listener bus delivers events in order.
    */
  def jobsOf(f: => Unit): Int = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
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

  /** `ds` collected, with the plan that ran it: that plan's scan nodes
    * carry this run's metrics.
    */
  def collectPlanned[T](ds: Dataset[T]): (Seq[T], SparkPlan) =
    (ds.collect().toSeq, ds.queryExecution.executedPlan)

  /** `df.count()`, with the plan that ran it (a count runs this aggregate). */
  def countPlanned(df: Dataset[_]): (Long, SparkPlan) = {
    val (rows, plan) = collectPlanned(df.groupBy().count())
    (rows.head.getLong(0), plan)
  }

  /** The DSv2 scan nodes of `plan`, batch or micro-batch, through AQE
    * stages and subqueries.
    */
  def scanNodes(plan: SparkPlan): Seq[DataSourceV2ScanExecBase] =
    SparkSpec.Plans.collectWithSubqueries(plan) { case s: DataSourceV2ScanExecBase => s }

  /** Rows the esdb readers of `plan`'s scans pulled off parquet (the
    * `esdbRowsMerged` scan metric), once `plan` has run.
    */
  def rowsMerged(plan: SparkPlan): Long =
    scanNodes(plan).flatMap(_.metrics.get(graft.sources.EsdbMetrics.RowsMerged)).map(_.value).sum

  /** True when a scan of `plan` decoded columnar and pulled rows: what
    * a read through [[graft.sources.EsdbVectorReader]] leaves.
    */
  def readColumnar(plan: SparkPlan): Boolean =
    scanNodes(plan).exists(s => s.supportsColumnar &&
      s.metrics.get(graft.sources.EsdbMetrics.RowsMerged).exists(_.value > 0))

  /** True when `plan` scanned and no scan of it decoded columnar. */
  def readRowWise(plan: SparkPlan): Boolean = {
    val scans = scanNodes(plan)
    scans.nonEmpty && !scans.exists(_.supportsColumnar)
  }

  /** The executed plan of a streaming query's last micro-batch. */
  def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): SparkPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toString
    System.setProperty("derby.system.home", warehouse)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.engine.GraftSession.tune(s)
    s
  }
}
