package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

class ScaleFixtureSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def outDir(): String = {
    val d = Files.createTempDirectory("graft-scale").toFile
    d.delete()
    d.getAbsolutePath
  }

  private lazy val out = outDir()
  private lazy val ids = ScaleFixture.build(spark, dir, out)
  private def src(name: String) = engine.Tables.table(spark, dir, name)
  private def big(name: String) = engine.Tables.table(spark, out, name)

  test("fact tables hold exactly 10x the rows and their ids never collide across copies") {
    val rows = ids.map(t => t.name -> t.rows).toMap
    ScaleFixture.Facts.foreach { case (name, id) =>
      val s = src(name)
      assert(s.count() > 0, name)
      assert(rows(name) == 10 * s.count(), name)
      assert(big(name).select(id).distinct().count() == 10 * s.select(id).distinct().count(), name)
    }
    // a row key in the source stays one in the fixture (lineitem has
    // several lines per l_orderkey, so the check above covers it)
    Seq("events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (name, id) => assert(big(name).select(id).distinct().count() == rows(name), name)
    }
  }

  test("dimension tables are copied as the same row sets") {
    ScaleFixture.Dims.foreach { name =>
      val (s, b) = (src(name), big(name))
      assert(s.columns.toSeq == b.columns.toSeq, name)
      assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty, name)
      assert(ids.find(_.name == name).get.rows == s.count(), name)
    }
  }

  test("two builds print the same JSON line, and a changed table changes its hash") {
    val again = ScaleFixture.build(spark, dir, outDir())
    assert(again == ids)
    assert(ScaleFixture.json(dir, "x", again) == ScaleFixture.json(dir, "x", ids))
    val events = big("events")
    val edited = events.withColumn("value", col("value") + 1.0)
    assert(ScaleFixture.contentHash(edited) != ids.find(_.name == "events").get.hash)
    assert(ScaleFixture.contentHash(events.orderBy(col("event_id").desc)) ==
      ids.find(_.name == "events").get.hash, "the hash ignores row order")
  }
}
