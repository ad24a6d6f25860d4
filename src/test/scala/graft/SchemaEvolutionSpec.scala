package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventStore}

/** Additive schema evolution: stores live for years and events gain
  * fields. An appended batch may carry NEW columns; every read path
  * (DSv2 ordered scan, vanilla parquet read, log scan) must see the
  * union schema, with pre-evolution rows reading null — consistently,
  * not depending on which file inference happened to sample. The
  * write-time `_MANIFEST.schema` sidecar makes "what columns does this
  * store have" one small read instead of a 100k-footer sweep; legacy
  * stores without one fall back to mergeSchema inference. Type CHANGES
  * refuse before any data lands.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  private def base(ids: Range): DataFrame =
    ids.map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def withScore(ids: Range): DataFrame =
    ids.map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}",
        i * 2.5))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "score")

  test("store append with a new column: every read path sees the union, old rows null") {
    val p = tmp("evostore")
    EsdbWriter.write(base(1 to 40), p)
    EsdbWriter.append(withScore(41 to 80), p)

    // sidecar records the union
    val conf = spark.sparkContext.hadoopConfiguration
    val side = EsdbWriter.schemaManifest(conf, p)
    assert(side.exists(_.fieldNames.contains("score")), side.toString)

    // DSv2 ordered scan
    val dsv2 = EsdbWriter.readOrdered(spark, p)
    assert(dsv2.columns.contains("score"))
    val got = dsv2.select("event_id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(10L).isEmpty, "pre-evolution row must read null")
    assert(got(50L).contains(125.0))
    assert(got.size == 80)

    // vanilla parquet read path
    val vanilla = EsdbWriter.read(spark, p)
    assert(vanilla.columns.contains("score"))
    assert(vanilla.where(col("score").isNull).count() == 40)
    assert(vanilla.where(col("score") === 125.0).count() == 1)

    // ordered scan with a pinned grouping still merges correctly
    val pinned = EventStore.scan(dsv2, "s0", "g0")
    assert(pinned.columns.contains("score"))
    assert(pinned.count() > 0)
  }

  test("RENAME COLUMN is metadata-only: old files resolve by field ID on every read path") {
    val p = tmp("evorename")
    EsdbWriter.write(withScore(1 to 40), p)          // files stamped with field IDs
    EsdbWriter.renameColumn(spark, p, "score", "quality")
    // no data file changed; only the sidecar did
    val conf = spark.sparkContext.hadoopConfiguration
    val side = EsdbWriter.schemaManifest(conf, p).get
    assert(side.fieldNames.contains("quality") && !side.fieldNames.contains("score"))
    // vanilla read path: renamed column reads old files' values
    val vanilla = EsdbWriter.read(spark, p)
    assert(vanilla.columns.contains("quality") && !vanilla.columns.contains("score"))
    assert(vanilla.select(sum(col("quality"))).as[Double].head() == (1 to 40).map(_ * 2.5).sum)
    // DSv2 ordered merge path: ID fallback resolves the old stored name
    val ordered = EsdbWriter.readOrdered(spark, p)
    assert(ordered.select("event_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap.apply(7L) == 17.5)
    // appends use the CURRENT name and keep the same field ID
    EsdbWriter.append(withScore(41 to 60).withColumnRenamed("score", "quality"), p)
    assert(EsdbWriter.read(spark, p).select(sum(col("quality"))).as[Double].head()
      == (1 to 60).map(_ * 2.5).sum)
    // compaction rewrites files under the new name; content unchanged
    EsdbWriter.compact(spark, p)
    assert(EsdbWriter.readOrdered(spark, p).select(sum(col("quality"))).as[Double].head()
      == (1 to 60).map(_ * 2.5).sum)
    // canonical/layout columns refuse
    intercept[IllegalArgumentException] { EsdbWriter.renameColumn(spark, p, "grouping", "k") }
    intercept[IllegalArgumentException] { EsdbWriter.renameColumn(spark, p, "quality", "space") }
  }

  test("DROP COLUMN tombstones: hidden at once, ID never reused, re-add cannot resurrect") {
    val p = tmp("evodrop")
    EsdbWriter.write(withScore(1 to 30), p)
    EsdbWriter.dropColumn(spark, p, "score")
    // hidden from every read path immediately
    assert(!EsdbWriter.read(spark, p).columns.contains("score"))
    assert(!EsdbWriter.readOrdered(spark, p).columns.contains("score"))
    // the tombstone keeps the ID occupied in the sidecar
    val conf = spark.sparkContext.hadoopConfiguration
    val side = EsdbWriter.schemaManifest(conf, p).get
    assert(side.fields.exists(graft.engine.FieldIds.isDropped), side.toString)
    // re-adding the SAME name allocates a fresh ID: the old files'
    // dropped values must NOT resurface under the new column
    EsdbWriter.append(withScore(31 to 40), p) // batch carries a NEW 'score'
    val got = EsdbWriter.read(spark, p).select("event_id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(5L).isEmpty, "dropped data must stay dropped for pre-drop rows")
    assert(got(35L).contains(87.5), "the re-added column reads the new batch's values")
    // a predicate rewrite carries the tombstone (sidecar fold)
    EsdbWriter.deleteWhere(spark, p, Seq(org.apache.spark.sql.sources.LessThan("value", 0.2)))
    assert(EsdbWriter.schemaManifest(conf, EsdbWriter.dataRoot(spark, p)).get
      .fields.exists(graft.engine.FieldIds.isDropped), "tombstone must survive a rewrite")
    assert(EsdbWriter.read(spark, p).select("event_id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      .apply(5L).isEmpty, "still no resurrection after the rewrite")
    // full compaction physically forgets the tombstone
    EsdbWriter.compact(spark, p)
    assert(!EsdbWriter.schemaManifest(conf, EsdbWriter.dataRoot(spark, p)).get
      .fields.exists(graft.engine.FieldIds.isDropped))
  }

  test("a store written before field IDs refuses rename until one compaction stamps them") {
    val p = tmp("evolegacyids")
    EsdbWriter.write(withScore(1 to 20), p, assignFieldIds = false) // legacy layout
    intercept[IllegalStateException] { EsdbWriter.renameColumn(spark, p, "score", "quality") }
    EsdbWriter.compact(spark, p) // full rewrite stamps IDs everywhere
    EsdbWriter.renameColumn(spark, p, "score", "quality")
    assert(EsdbWriter.read(spark, p).select(sum(col("quality"))).as[Double].head()
      == (1 to 20).map(_ * 2.5).sum)
  }

  test("SQL surface: ALTER TABLE RENAME COLUMN and DROP COLUMN through the catalog") {
    val root = tmp("evosqlalter")
    val p = s"$root/t"
    graft.engine.Publish.publish(spark.sparkContext.hadoopConfiguration, p) { tmpDir =>
      EsdbWriter.write(withScore(1 to 25), tmpDir)
    }
    spark.conf.set("spark.sql.catalog.esdb_evo2", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_evo2.root", root)
    spark.sql("ALTER TABLE esdb_evo2.t RENAME COLUMN score TO quality")
    assert(spark.table("esdb_evo2.t").select(sum(col("quality"))).as[Double].head()
      == (1 to 25).map(_ * 2.5).sum)
    spark.sql("ALTER TABLE esdb_evo2.t DROP COLUMN quality")
    assert(!spark.table("esdb_evo2.t").columns.contains("quality"))
    assert(spark.table("esdb_evo2.t").count() == 25)
  }

  test("legacy store without a sidecar still sees the union via mergeSchema inference") {
    val p = tmp("evolegacy")
    EsdbWriter.write(base(1 to 40), p)
    EsdbWriter.append(withScore(41 to 80), p)
    // simulate a store created before the sidecar existed
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p, EsdbWriter.SchemaManifest), false)

    assert(EsdbWriter.readOrdered(spark, p).columns.contains("score"))
    assert(EsdbWriter.read(spark, p).columns.contains("score"))
  }

  test("a type-changing append refuses before any data lands") {
    val p = tmp("evoconflict")
    EsdbWriter.write(base(1 to 20), p)
    val filesBefore = EsdbWriter.read(spark, p).inputFiles.sorted.toSeq
    val bad = (21 to 30)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, s"oops-$i", "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val e = intercept[IllegalStateException] { EsdbWriter.append(bad, p) }
    assert(e.getMessage.contains("value"), e.getMessage)
    assert(EsdbWriter.read(spark, p).inputFiles.sorted.toSeq == filesBefore,
      "refused append must not have written data files")
  }

  test("int->long widening: old int files and new long files read as one long column") {
    val p = tmp("evowidenil")
    val narrow = (1 to 40)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.write(narrow, p)
    // values past Int range prove the wide batch genuinely needs long
    val wide = (41 to 80)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}",
        i.toLong + 10000000000L))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.append(wide, p)

    // metadata-only: the sidecar records the wider type
    val conf = spark.sparkContext.hadoopConfiguration
    val side = EsdbWriter.schemaManifest(conf, p).get
    assert(side("hits").dataType == org.apache.spark.sql.types.LongType, side.treeString)

    def check(df: DataFrame): Unit = {
      assert(df.schema("hits").dataType == org.apache.spark.sql.types.LongType)
      val got = df.select("event_id", "hits").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(10L) == 10L, "old int row must up-cast")
      assert(got(50L) == 10000000050L, "new long row reads exactly")
      assert(got.size == 80)
    }
    check(EsdbWriter.readOrdered(spark, p)) // DSv2 merge reader up-cast
    check(EsdbWriter.read(spark, p)) // vanilla parquet read with the sidecar schema
    // a pinned-grouping ordered scan (row merge path) also up-casts
    val pinned = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s0", "g0")
    assert(pinned.schema("hits").dataType == org.apache.spark.sql.types.LongType)
    assert(pinned.count() > 0)

    // both compactions preserve the widened type
    EsdbWriter.compact(spark, p)
    check(EsdbWriter.readOrdered(spark, p))
    // narrower int batches keep appending fine after the widening —
    // the sidecar stays long and the new int file up-casts at read
    val narrowAgain = (81 to 90)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.append(narrowAgain, p)
    val after = EsdbWriter.readOrdered(spark, p)
    assert(after.schema("hits").dataType == org.apache.spark.sql.types.LongType)
    assert(after.count() == 90)
    assert(after.where(col("event_id") === 85L).select("hits").head.getLong(0) == 85L)
  }

  test("float->double widening on a log store: merge and vanilla reads up-cast") {
    val p = tmp("evowidenfd")
    val narrow = (1 to 30)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, "{}", i / 4.0f))
      .toDF("space", "grouping", "ts_us", "event_id", "payload", "score")
    EsdbWriter.writeLog(narrow, p)
    val wide = (31 to 60)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, "{}", i / 4.0))
      .toDF("space", "grouping", "ts_us", "event_id", "payload", "score")
    EsdbWriter.appendLog(wide, p)
    val df = EsdbWriter.readLog(spark, p)
    assert(df.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    val got = df.select("event_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(8L) == 2.0d && got(40L) == 10.0d)
    assert(got.size == 60)
    // ordered iterate from an offset still up-casts (bounded merge path)
    val page = graft.engine.EventLog.iterate(df, fromOffset = 31L)
    assert(page.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(page.count() == 30)
  }

  test("a widened compacted store keeps the vectorized read path (reader promotes)") {
    val p = tmp("evowidenvec")
    val narrow = (1 to 40)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.write(narrow, p)
    EsdbWriter.compact(spark, p) // one file per space: columnar-eligible shape
    // proactive widening, no new data: old int32 files under a long schema
    val conf = spark.sparkContext.hadoopConfiguration
    val root = EsdbWriter.dataRoot(spark, p)
    val widened = org.apache.spark.sql.types.StructType(
      EsdbWriter.schemaManifest(conf, root).get.map(f =>
        if (f.name == "hits") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
    EsdbWriter.writeSchemaManifest(conf, root, widened)
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.schema("hits").dataType == org.apache.spark.sql.types.LongType)
    val (rows, plan) = collectPlanned(df.select("event_id", "hits"))
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == 7L && got.size == 40)
    assert(readColumnar(plan),
      "the widened compacted store must still decode through the vectorized path")
  }

  test("narrowing and cross-kind changes still refuse (widening is one-way)") {
    val p = tmp("evonarrow")
    val longFirst = (1 to 10)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i.toLong))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.write(longFirst, p)
    // int after long is fine (reads up-cast) — but long->string refuses
    val bad = (11 to 20)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", s"x$i"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    val e = intercept[IllegalStateException] { EsdbWriter.append(bad, p) }
    assert(e.getMessage.contains("hits"), e.getMessage)
    // sidecar keeps long after an int append (no silent narrowing)
    val intBatch = (11 to 20)
      .map(i => (s"s${i % 2}", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "hits")
    EsdbWriter.append(intBatch, p)
    val side = EsdbWriter.schemaManifest(spark.sparkContext.hadoopConfiguration, p).get
    assert(side("hits").dataType == org.apache.spark.sql.types.LongType)
  }

  test("full compaction preserves evolved columns and rebuilds the sidecar") {
    val p = tmp("evocompact")
    EsdbWriter.write(base(1 to 40), p)
    EsdbWriter.append(withScore(41 to 80), p)
    EsdbWriter.compact(spark, p)
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.columns.contains("score"))
    assert(df.where(col("score").isNull).count() == 40)
    assert(df.where(col("score") === 125.0).count() == 1)
    assert(EsdbWriter.schemaManifest(spark.sparkContext.hadoopConfiguration,
      EsdbWriter.dataRoot(spark, p)).exists(_.fieldNames.contains("score")))
  }

  test("incremental compaction keeps columns living only in carried spaces declared") {
    val p = tmp("evoincr")
    // one space fragmented WITHOUT the new column; the evolved batch
    // lands only in the carried (compact) space — the rewrite must not
    // lose `score` from the sidecar
    val old = (1 to 40)
      .map(i => ("hot", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(old, p)
    (1 to 5).foreach { b =>
      val more = (b * 100 to b * 100 + 9)
        .map(i => ("hot", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      EsdbWriter.append(more, p)
    }
    val cold = (1000 to 1009)
      .map(i => ("cold", s"g${i % 3}", i.toLong * 1000, i.toLong, i / 10.0, "{}", i * 1.5))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "score")
    EsdbWriter.append(cold, p)
    assert(EsdbWriter.compactIncremental(spark, p, maxFilesPerSpace = 3))
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.columns.contains("score"), df.columns.mkString(","))
    assert(df.where(col("space") === "cold" && col("score").isNotNull).count() == 10)
  }

  test("log append with a new column: merged scan, nulls for old rows, compactLog keeps it") {
    val p = tmp("evolog")
    EsdbWriter.writeLog(base(1 to 40), p)
    EsdbWriter.appendLog(withScore(41 to 80), p)
    val df = EsdbWriter.readLog(spark, p)
    assert(df.columns.contains("score"))
    assert(df.where(col("score").isNull).count() == 40)
    assert(df.select("event_id").as[Long].collect().toSeq == (1L to 80L),
      "log merge order must survive evolution")
    EsdbWriter.compactLog(spark, p)
    val df2 = EsdbWriter.readLog(spark, p)
    assert(df2.columns.contains("score"))
    assert(df2.where(col("score") === 125.0).count() == 1)
  }

  test("subpartitioned store evolution: sidecar-typed read survives bucket dirs") {
    val p = tmp("evosub")
    EsdbWriter.write(base(1 to 40), p, subparts = 4)
    EsdbWriter.append(withScore(41 to 80), p)
    val df = EsdbWriter.read(spark, p)
    assert(df.columns.contains("score"))
    assert(df.count() == 80)
    val dsv2 = EsdbWriter.readOrdered(spark, p)
    assert(dsv2.where(col("score").isNotNull).count() == 40)
  }

  test("evolution survives a grouping delete: rewritten and carried files keep the union") {
    val p = tmp("evodelete")
    EsdbWriter.write(base(1 to 40), p)
    EsdbWriter.append(withScore(41 to 80), p)
    EsdbWriter.delete(spark, p, groupings = Some(Set("g1")))
    val df = EsdbWriter.readOrdered(spark, p)
    assert(df.columns.contains("score"))
    assert(df.where(col("grouping") === "g1").count() == 0)
    // surviving post-evolution rows keep their scores; pre-evolution null
    assert(df.where(col("score") === 125.0).count() == 1) // event 50 is g2 -> survives
    assert(df.where(col("event_id") <= 40 && col("score").isNotNull).count() == 0)
    assert(EsdbWriter.schemaManifest(spark.sparkContext.hadoopConfiguration,
      EsdbWriter.dataRoot(spark, p)).exists(_.fieldNames.contains("score")))
  }
}
