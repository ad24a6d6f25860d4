package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FormattedMode

import graft.engine.{EsdbWriter, EventStore}

class SkewAndIndexSpec extends SparkSpec {
  import spark.implicits._

  test("write-time index attrs materialize and drive scanIndex pushdown") {
    val dir = { val d = Files.createTempDirectory("esdbidx").toFile; d.delete(); d.getAbsolutePath }
    val ev = Seq(
      ("a", "g", 1L, 1L, 0.0, """{"city": "austin", "v": "x"}"""),
      ("a", "g", 2L, 2L, 0.0, """{"city": "dallas", "v": "y"}"""),
      ("a", "h", 3L, 3L, 0.0, """{"city": "austin", "v": "z"}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir, indexAttrs = Seq("city"))
    val back = EsdbWriter.read(spark, dir)
    assert(back.columns.contains("idx_city"))

    // same results as JSON-path filtering...
    val viaIdx = EventStore.scanIndex(back, "a", "city", "austin")
      .select("event_id").as[Long].collect().toSeq
    assert(viaIdx == Seq(3L, 1L)) // ts desc

    // ...but the predicate is now a plain column comparison pushed to parquet
    val plan = EventStore.scanIndex(back, "a", "city", "austin")
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("EqualTo(idx_city,austin)"), plan)

    // un-declared attrs still work via JSON fallback (reference: no index → scan)
    val viaJson = EventStore.scanIndex(back, "a", "v", "z")
      .select("event_id").as[Long].collect().toSeq
    assert(viaJson == Seq(3L))
  }

  test("declared index columns carry parquet bloom filters") {
    val dir = { val d = Files.createTempDirectory("esdbbloom").toFile; d.delete(); d.getAbsolutePath }
    val ev = (1 to 500).map(i => ("a", "g", i.toLong, i.toLong, 0.0, s"""{"city": "c$i"}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir, indexAttrs = Seq("city"))
    val part = new java.io.File(s"$dir/space=a").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byPath = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(byPath("idx_city").getBloomFilterOffset >= 0,
        "declared index column must carry a bloom filter")
      assert(byPath("value").getBloomFilterOffset < 0,
        "non-index columns must not pay bloom overhead")
    } finally reader.close()
  }
}
