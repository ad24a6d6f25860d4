package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo

import graft.api.{Esdb, Event}
import graft.engine.{Carry, EsdbWriter, EventStore, Publish}
import graft.plans.{EsdbLocalRead, EsdbLocalReadStrategy}

/** Reads answered in the calling thread ([[EsdbLocalRead]]) return
  * exactly what the job path returns. Every façade read and its SQL
  * form, through `collect`, `toLocalIterator`, `head` and `isEmpty`,
  * equals the same Dataset's `.rdd.collect()` (which always runs the
  * planned subtree as a job), and the `esdb*` scan metrics match the
  * job path's. The fixture has ts ties broken by `event_id`, null
  * groupings, two files per space (a merge), spaces whose directory
  * names are escaped, and files carried by `_CARRY` after a
  * `deleteWhere`.
  */
class LocalReadParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val spaces = Seq("s0", "a x", "a:b", "p%q")
  private val cols = Seq("space", "grouping", "ts_us", "event_id", "value", "payload")

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("localread").toFile
    dir.delete()
    // ts_us repeats every 17 ids, so a (space, grouping) holds ties;
    // every 11th row has no grouping
    val mk = (r: Range) => r.map { i =>
      (spaces(i % spaces.size), if (i % 11 == 0) null else s"g${i % 5}", (i % 17).toLong * 1000,
        i.toLong, i / 4.0, s"""{"country": "c${i % 3}"}""")
    }.toDF(cols: _*)
    EsdbWriter.write(mk(1 to 400), dir.getAbsolutePath, indexAttrs = Seq("country"))
    EsdbWriter.compact(spark, dir.getAbsolutePath, keepVersions = 4) // v1 hosts one file per space
    EsdbWriter.appendVersioned(mk(401 to 700), dir.getAbsolutePath, keepVersions = 4,
      indexAttrs = Seq("country")) // v2: a second file per space
    // v3 rewrites s0's files; every other file carries by reference
    EsdbWriter.deleteWhere(spark, dir.getAbsolutePath,
      Seq(EqualTo("space", "s0"), EqualTo("grouping", "g1")), keepVersions = 4)
    dir.getAbsolutePath
  }

  private lazy val table: String = {
    spark.sql("DROP TABLE IF EXISTS local_read_parity")
    spark.sql(s"CREATE TABLE local_read_parity USING esdb OPTIONS (path '$path')")
    "local_read_parity"
  }

  private def ordered: DataFrame = EsdbWriter.readOrdered(spark, path)

  private def event(r: Row): Event =
    Event(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))

  private def rewritten(d: DataFrame): Boolean =
    d.queryExecution.executedPlan.exists(_.isInstanceOf[EsdbLocalRead])

  /** Checks every driver-bound action of `d` against its job path and
    * returns the job path's rows; `local` says whether `d` must be
    * answered in the calling thread, with no job.
    */
  private def parity(name: String, d: DataFrame, local: Boolean): Seq[Row] = {
    val viaJob = d.rdd.collect().toSeq
    assert(d.collect().toSeq == viaJob, name)
    assert(d.toLocalIterator().asScala.toSeq == viaJob, name)
    assert(d.head(3).toSeq == viaJob.take(3), name)
    assert(d.isEmpty == viaJob.isEmpty, name)
    assert(rewritten(d) == local, s"$name:\n${d.queryExecution.executedPlan}")
    if (local) assert(jobsOf(d.collect()) == 0, name)
    viaJob
  }

  private def sql(where: String, order: String): DataFrame =
    spark.sql(s"SELECT ${cols.mkString(", ")} FROM $table WHERE $where $order")

  test("the fixture merges two files per space and carries files by _CARRY") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val head = new org.apache.hadoop.fs.Path(Publish.resolve(hconf, path))
    assert(Carry.readManifest(head.getFileSystem(hconf), head).nonEmpty)
    assert(ordered.where(col("space") === "s0" && col("grouping") === "g1").isEmpty)
    assert(ordered.where(col("grouping").isNull).count() > 0)
    assert(ordered.groupBy("space", "grouping", "ts_us").count().where(col("count") > 1).count() > 0)
  }

  test("scanN and its SQL form equal the job path, ties broken by event_id") {
    val db = Esdb.open(spark, path)
    for (sp <- spaces; g <- Seq("g0", "g3")) {
      val d = EventStore.scan(ordered, sp, g, Some(7)).select(cols.map(col): _*)
      val rows = parity(s"scanN $sp/$g", d, local = true)
      assert(rows.size == 7)
      assert(rows.map(r => (r.getLong(2), r.getLong(3))).sliding(2).forall {
        case Seq((t1, e1), (t2, e2)) => t1 > t2 || (t1 == t2 && e1 < e2)
      }, s"$sp/$g not in (ts_us desc, event_id) order")
      val seen = scala.collection.mutable.ArrayBuffer.empty[Event]
      db.find(sp).get.scanN(g, 7) { e => seen += e; true }
      assert(seen.toSeq == rows.map(event))
      val viaSql = parity(s"SQL scanN $sp/$g",
        sql(s"space = '$sp' AND grouping = '$g'", "ORDER BY ts_us DESC, event_id LIMIT 7"),
        local = true)
      assert(viaSql == rows)
    }
  }

  test("scanSince and ts-bounded SQL equal the job path") {
    val db = Esdb.open(spark, path)
    for (sp <- spaces) {
      val d = EventStore.scanSince(ordered, sp, "g2", 12000L).select(cols.map(col): _*)
      val rows = parity(s"scanSince $sp", d, local = true)
      assert(rows.nonEmpty && rows.forall(_.getLong(2) >= 12000L))
      val seen = scala.collection.mutable.ArrayBuffer.empty[Event]
      db.find(sp).get.scanSince("g2", 12000L) { e => seen += e; true }
      assert(seen.toSeq == rows.map(event))
      // the global ORDER BY with no LIMIT keeps its job
      val viaSql = parity(s"SQL scanSince $sp",
        sql(s"space = '$sp' AND grouping = 'g2' AND ts_us >= 12000", "ORDER BY ts_us DESC, event_id"),
        local = false)
      assert(viaSql == rows)
      val range = parity(s"SQL ts range $sp",
        sql(s"space = '$sp' AND grouping = 'g2' AND ts_us >= 4000 AND ts_us < 15000",
          "ORDER BY ts_us DESC, event_id LIMIT 5"), local = true)
      assert(range.size == 5 && range.forall(r => r.getLong(2) >= 4000L && r.getLong(2) < 15000L))
    }
  }

  test("scanIndexN, with its null groupings, and its SQL form equal the job path") {
    val db = Esdb.open(spark, path)
    for (sp <- spaces) {
      val d = EventStore.scanIndex(ordered, sp, "country", "c2", Some(9)).select(cols.map(col): _*)
      val rows = parity(s"scanIndexN $sp", d, local = true)
      assert(rows.size == 9)
      val seen = scala.collection.mutable.ArrayBuffer.empty[Event]
      db.find(sp).get.scanIndexN("country", "c2", 9) { e => seen += e; true }
      assert(seen.toSeq == rows.map(event))
      // the SQL form sorts globally: TakeOrderedAndProject, one job
      val viaSql = parity(s"SQL scanIndexN $sp",
        sql(s"space = '$sp' AND idx_country = 'c2'", "ORDER BY ts_us DESC, event_id LIMIT 9"),
        local = false)
      assert(viaSql == rows)
    }
    // a null grouping surfaces in an index read that reaches it
    val all = EventStore.scanIndex(ordered, "s0", "country", "c0", Some(1000)).select(cols.map(col): _*)
    assert(parity("scanIndexN s0 all", all, local = true).exists(_.isNullAt(1)))
  }

  test("esdb scan metrics match the job path's") {
    def esdbMetrics(d: DataFrame): Map[String, Long] =
      collect(d.queryExecution.executedPlan) { case b: BatchScanExec => b }.head.metrics
        .collect { case (k, m) if k.startsWith("esdb") || k == "numOutputRows" => k -> m.value }
    val reads: Seq[() => DataFrame] = Seq(
      () => EventStore.scan(ordered, "a x", "g3", Some(4)),
      () => EventStore.scanSince(ordered, "p%q", "g2", 12000L),
      () => EventStore.scanIndex(ordered, "s0", "country", "c2", Some(9)))
    reads.foreach { mk =>
      val local = mk()
      local.collect()
      val job = mk()
      job.queryExecution.toRdd.count()
      assert(rewritten(local))
      val got = esdbMetrics(local)
      assert(got == esdbMetrics(job), local.queryExecution.executedPlan)
      assert(got("esdbFilesOpened") > 0 && got("esdbRowsMerged") > 0, got)
    }
  }

  test("a log-layout scan is not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("localreadlog").toFile
    dir.delete()
    EsdbWriter.writeLog((1 to 50).map(i => ("s0", s"g${i % 3}", i.toLong * 10, i.toLong, i / 2.0, "{}"))
      .toDF(cols: _*), dir.getAbsolutePath)
    val d = EsdbWriter.readLog(spark, dir.getAbsolutePath).where(col("grouping") === "g1").limit(5)
    assert(parity("log limit", d, local = false).size == 5)
  }

  test("the strategy is installed once however often the session is tuned") {
    graft.engine.GraftSession.tune(spark)
    graft.engine.GraftSession.tune(spark)
    assert(spark.sessionState.planner.strategies.count(_ == EsdbLocalReadStrategy) == 1)
  }
}
