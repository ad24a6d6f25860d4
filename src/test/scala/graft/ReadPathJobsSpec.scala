package graft

import graft.api.Esdb
import graft.engine.EsdbWriter

/** The warm façade read budget on a store with sidecars: every bounded
  * scan is answered in the calling thread ([[graft.plans.EsdbLocalRead]])
  * and every metadata answer (`find`, `Space.iterate`, `Db.iterate`)
  * comes from the driver, all with no Spark job — a sidecar read that
  * creeps back into a query, a listing that turns into a job, or a
  * bounded scan that falls back to a task fails here. Reads the local
  * path must not take still run exactly one job.
  */
class ReadPathJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("readjobs").toFile
    dir.delete()
    val mk = (r: Range) => r.map { i =>
      (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000, i.toLong, i / 4.0,
        s"""{"country": "c${i % 4}"}""")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(mk(1 to 600), dir.getAbsolutePath, indexAttrs = Seq("country"))
    // a second file per space: the scans merge, the sidecars have two parts
    EsdbWriter.append(mk(601 to 900), dir.getAbsolutePath, indexAttrs = Seq("country"))
    dir.getAbsolutePath
  }

  test("warm bounded scans, find and both iterates run no Spark job") {
    val db = Esdb.open(spark, path)
    def reads(): Map[String, Int] = {
      val sp = db.find("s1").get
      var rows = 0
      val jobs = Map(
        "scanN" -> jobsOf(sp.scanN("g3", 5) { _ => rows += 1; true }),
        "scanSince" -> jobsOf(sp.scanSince("g3", 30000L) { _ => rows += 1; true }),
        "scanIndexN" -> jobsOf(sp.scanIndexN("country", "c2", 5) { _ => rows += 1; true }),
        "find" -> jobsOf(assert(db.find("s2").isDefined && db.find("nope").isEmpty)),
        "Space.iterate" -> jobsOf(sp.iterate { _ => rows += 1; true }),
        "Db.iterate" -> jobsOf(db.iterate { _ => rows += 1; true }))
      assert(rows > 0)
      jobs
    }
    reads() // warm-up: a fresh session's first queries plan extra work
    val got = reads()
    info(s"Spark jobs per warm read: $got")
    val budget = Map("scanN" -> 0, "scanSince" -> 0, "scanIndexN" -> 0,
      "find" -> 0, "Space.iterate" -> 0, "Db.iterate" -> 0)
    assert(got == budget, s"warm read job counts $got, want $budget")
  }

  test("reads the local path does not take still run one Spark job each") {
    // a frame-backed Db plans a plain parquet scan; an unlimited
    // scanIndex sorts on the index predicate with no Limit over it
    val frameSpace = Esdb.fromFrame(EsdbWriter.read(spark, path)).find("s1").get
    val sp = Esdb.open(spark, path).find("s1").get
    def reads(): Map[String, Int] = {
      var rows = 0
      val jobs = Map(
        "fromFrame scanN" -> jobsOf(frameSpace.scanN("g3", 5) { _ => rows += 1; true }),
        "scanIndex" -> jobsOf(sp.scanIndex("country", "c2") { _ => rows += 1; true }))
      assert(rows > 0)
      jobs
    }
    reads()
    val got = reads()
    info(s"Spark jobs per warm read: $got")
    val budget = Map("fromFrame scanN" -> 1, "scanIndex" -> 1)
    assert(got == budget, s"warm read job counts $got, want $budget")
  }
}
