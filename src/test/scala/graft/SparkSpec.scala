package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
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
