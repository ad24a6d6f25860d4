package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventStore, Publish}

/** Keyed MERGE (upsert) — the third DML member next to deleteWhere and
  * updateWhere: matched target rows are replaced by their source row,
  * unmatched source rows insert, one atomic version commit, footer
  * stats bounding the rewrite footprint.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(ids: Range): DataFrame =
    ids.map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000, i.toLong,
      i / 10.0, s"""{"k": ${i % 9}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def freshDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  private def versioned(prefix: String, df: DataFrame,
                        indexAttrs: Seq[String] = Nil): String = {
    val p = freshDir(prefix) + "/t"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(df, tmp, indexAttrs = indexAttrs)
    }: Unit
    p
  }

  private def hasSortNode(plan: String): Boolean =
    """(?m)^\W*\*?\(?\d*\)?\s*Sort """.r.findFirstIn(plan).isDefined ||
      plan.contains(") Sort [") || plan.contains("+- Sort [")

  test("upsert: matched rows replaced, unmatched inserted, layout order intact") {
    val p = versioned("merge", ev(1 to 100), indexAttrs = Seq("k"))
    // updates for 3 existing ids (new value + payload — idx_k must
    // follow the NEW payload), inserts for 5 new ids
    val source = Seq(10L, 20L, 30L).map(i =>
      (s"s${i % 3}", s"g${i % 7}", (i % 50) * 1000L, i, 99.0, s"""{"k": 7}""")) ++
      (101L to 105L).map(i =>
        (s"s${i % 3}", s"g${i % 7}", (i % 50) * 1000L, i, i / 10.0, s"""{"k": ${i % 9}}"""))
    val (replaced, inserted) = EsdbWriter.mergeInto(
      spark, p, source.toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      keys = Seq("event_id"), keepVersions = 8)
    assert(replaced == 3 && inserted == 5, s"got ($replaced, $inserted)")

    val all = EsdbWriter.readOrdered(spark, p)
    assert(all.count() == 105)
    val updatedRows = all.where($"event_id".isin(10L, 20L, 30L))
      .select("value", "idx_k").collect()
    assert(updatedRows.forall(r => r.getDouble(0) == 99.0 && r.getString(1) == "7"),
      "replaced rows must carry the source values with idx recomputed")
    // untouched rows keep their originals
    assert(all.where($"event_id" === 11L).select("value").head().getDouble(0) == 1.1)
    // the scan contract survives the rewrite
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s1", "g3")
    scan.collect()
    assert(!hasSortNode(scan.queryExecution.executedPlan.toString))
  }

  test("footer stats bound the footprint: files outside the key range carry by name") {
    // value-domain clustering on event_id → near-disjoint id slices per
    // file; a merge touching a narrow id range must carry the rest
    val p = freshDir("mergeclu") + "/t"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(ev(1 to 2000), tmp, clusterBy = Seq("event_id"), clusterChunks = 8)
    }: Unit
    val v1 = Publish.currentVersion(spark.sparkContext.hadoopConfiguration, p).get._1
    val before = Publish.snapshotFiles(spark.sparkContext.hadoopConfiguration, p, v1).get

    val source = Seq((("s1"): String, "g3", 1000L, 1900L, 777.0, """{"k": 1}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val (r, i) = EsdbWriter.mergeInto(spark, p, source, Seq("event_id"), keepVersions = 8)
    assert(r == 1 && i == 0)

    val after = Publish.currentFiles(spark.sparkContext.hadoopConfiguration, p)
    val carried = before.intersect(after)
    assert(carried.nonEmpty,
      s"clustered store must carry out-of-range files by name (before=${before.size}, " +
        s"after=${after.size}, carried=${carried.size})")
    assert(EsdbWriter.readOrdered(spark, p)
      .where($"event_id" === 1900L).select("value").head().getDouble(0) == 777.0)
    assert(EsdbWriter.readOrdered(spark, p).count() == 2000)
  }

  test("a single-key source past the 10,000-key IN-list cap merges through key ranges") {
    val p = versioned("mergecap", ev(1 to 200))
    val source = (150 to 10150).map(i =>
      (s"s${i % 3}", s"g${i % 7}", 1000L, i.toLong, -1.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val (r, i) = EsdbWriter.mergeInto(spark, p, source, Seq("event_id"), keepVersions = 8)
    assert((r, i) == (51L, 9950L))
    val all = EsdbWriter.read(spark, p)
    assert(all.count() == 10150)
    assert(all.where($"value" === -1.0).count() == 10001)
  }

  test("merge is one version: the change feed sees delete(old)+insert(new) and inserts") {
    val p = versioned("mergecdc", ev(1 to 50))
    val source = Seq(
      ("s1", "g3", 10000L, 10L, 42.0, "{}"),   // replaces id 10
      ("s0", "g4", 11000L, 60L, 6.0, "{}"))    // inserts id 60
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.mergeInto(spark, p, source, Seq("event_id"), keepVersions = 8)
    val feed = EsdbWriter.changesFeed(spark, p, 1L)
      .select("_change", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(feed.contains(("delete", 10L, 1.0)), s"old row must feed as delete: $feed")
    assert(feed.contains(("insert", 10L, 42.0)), "new row must feed as insert")
    assert(feed.contains(("insert", 60L, 6.0)), "unmatched source row must feed as insert")
    assert(feed.count(_._2 == 10L) == 2 && feed.count(_._2 == 60L) == 1)
  }

  test("a non-PK key replaces EVERY matching target row with the one source row") {
    val p = versioned("mergemulti", ev(1 to 40)) // g3: ids 3,10,17,24,31,38
    val source = Seq(("s9", "g3", 5000L, 999L, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val (r, i) = EsdbWriter.mergeInto(spark, p, source, Seq("grouping"), keepVersions = 8)
    assert(r == 6 && i == 0, s"got ($r, $i)")
    val g3 = EsdbWriter.readOrdered(spark, p).where($"grouping" === "g3").collect()
    assert(g3.length == 1 && g3.head.getAs[Long]("event_id") == 999L)
    assert(EsdbWriter.readOrdered(spark, p).count() == 40 - 6 + 1)
  }

  test("counts stay exact when keys match several rows and the write range-partitions") {
    // a clustered store's write samples its range bounds first: the
    // counts the write observes must still count each row once
    val p = freshDir("mergecounts") + "/t"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(ev(1 to 300), tmp, clusterBy = Seq("value"), clusterChunks = 4)
    }: Unit
    val source = Seq(("s0", "g3", 1000L, 9001L, 1.0, "{}"), ("s1", "g5", 2000L, 9002L, 2.0, "{}"),
      ("s2", "gnew", 3000L, 9003L, 3.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val target = ev(1 to 300)
    val matched = target.where($"grouping".isin("g3", "g5")).count()
    assert(matched > 60)
    val (r, i) = EsdbWriter.mergeInto(spark, p, source, Seq("grouping"), keepVersions = 8)
    assert((r, i) == (matched, 1L))
    val after = EsdbWriter.readOrdered(spark, p)
    assert(after.count() == 300 - matched + 3)
    assert(after.where($"grouping".isin("g3", "g5", "gnew")).select("event_id").as[Long]
      .collect().toSet == Set(9001L, 9002L, 9003L))
  }

  test("refusals: duplicate source keys, null keys, unknown columns, sealed store") {
    val p = versioned("mergebad", ev(1 to 20))
    val dup = Seq(("s1", "g1", 1L, 5L, 1.0, "{}"), ("s2", "g2", 2L, 5L, 2.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val e1 = intercept[IllegalArgumentException] {
      EsdbWriter.mergeInto(spark, p, dup, Seq("event_id"))
    }
    assert(e1.getMessage.contains("duplicate"), e1.getMessage)

    val nulls = Seq(("s1", "g1", 1L, Option.empty[java.lang.Long], 1.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val e2 = intercept[IllegalArgumentException] {
      EsdbWriter.mergeInto(spark, p, nulls, Seq("event_id"))
    }
    assert(e2.getMessage.contains("null key"), e2.getMessage)

    val extra = Seq(("s1", 5L, "x"))
      .toDF("space", "event_id", "never_seen")
    val e3 = intercept[IllegalArgumentException] {
      EsdbWriter.mergeInto(spark, p, extra, Seq("event_id"))
    }
    assert(e3.getMessage.contains("never_seen"), e3.getMessage)

    // store contents untouched by any refusal
    assert(EsdbWriter.readOrdered(spark, p).count() == 20)

    EsdbWriter.seal(spark, p, "done")
    val e4 = intercept[IllegalArgumentException] {
      EsdbWriter.mergeInto(spark, p,
        Seq(("s1", "g1", 1L, 5L, 1.0, "{}"))
          .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
        Seq("event_id"))
    }
    assert(e4.getMessage.contains("sealed"), e4.getMessage)
  }

  test("a partial-width source null-fills evolved columns; subpartitioned layout survives") {
    val p = freshDir("mergesub") + "/t"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(ev(1 to 60), tmp, subparts = 2)
    }: Unit
    // evolve: add a column via an append
    EsdbWriter.append(ev(61 to 70).withColumn("note", lit("n")), p)
    // source WITHOUT the evolved column: merge must null-fill it
    val source = Seq(("s1", "g3", 3000L, 10L, 55.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val (r, i) = EsdbWriter.mergeInto(spark, p, source, Seq("event_id"), keepVersions = 8)
    assert(r == 1 && i == 0)
    val all = EsdbWriter.readOrdered(spark, p)
    assert(all.count() == 70)
    val merged = all.where($"event_id" === 10L).select("value", "note").head()
    assert(merged.getDouble(0) == 55.0 && merged.isNullAt(1))
    assert(all.where($"note" === "n").count() == 10, "evolved rows keep their values")
    // grouping-pinned scan on the subpartitioned store still works
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s1", "g3")
    assert(scan.count() > 0)
  }

  test("merge into an empty store is a pure insert; empty source is a no-op") {
    val p = versioned("mergeempty", ev(1 to 1).limit(0))
    val (r0, i0) = EsdbWriter.mergeInto(spark, p, ev(1 to 1).limit(0), Seq("event_id"))
    assert((r0, i0) == ((0L, 0L)), "empty source must change nothing")
    val (r, i) = EsdbWriter.mergeInto(spark, p, ev(1 to 20), Seq("event_id"), keepVersions = 4)
    assert(r == 0 && i == 20, s"got ($r, $i)")
    assert(EsdbWriter.readOrdered(spark, p).count() == 20)
    // CDC sees pure inserts
    val feed = EsdbWriter.changesFeed(spark, p, 1L)
    assert(feed.where(col("_change") === "delete").count() == 0)
    assert(feed.count() == 20)
  }

  test("CALL merge_keyed: the SQL surface upserts through the same engine path") {
    val root = freshDir("mergecall")
    val conf = spark.sparkContext.hadoopConfiguration
    Publish.publish(conf, s"$root/orders", keepVersions = 8) { tmp =>
      EsdbWriter.write(ev(1 to 30), tmp)
    }: Unit
    val cat = "esdbmerge"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Seq(("s2", "g5", 12000L, 12L, 88.0, "{}"), ("s0", "g6", 31000L, 31L, 3.1, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      .createOrReplaceTempView("merge_src")
    val res = spark.sql(
      s"CALL $cat.system.merge_keyed(table => 'orders', source => 'merge_src', keys => 'event_id')")
      .collect()
    assert(res.length == 1)
    assert(res(0).getLong(1) == 1 && res(0).getLong(2) == 1,
      s"replaced/inserted from CALL: ${res(0)}")
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 12").head().getDouble(0) == 88.0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 31)

    // source forms beyond a bare identifier all go through the SQL
    // parser: parenthesized, commented, and newline-separated queries
    for (q <- Seq(
      "(SELECT * FROM merge_src)",
      "-- upsert batch\nSELECT * FROM merge_src",
      "select\n* FROM merge_src")) {
      val r = spark.sql(
        s"CALL $cat.system.merge_keyed(table => 'orders', source => '${q.replace("'", "''")}', keys => 'event_id')")
        .collect()
      assert(r.length == 1, s"source form failed: $q")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 31)

    // a source string that parses as a STATEMENT is refused, not
    // executed: the old Try(table).getOrElse(sql) fallback would have
    // run arbitrary DDL/DML passed where a source belongs
    spark.sql("CREATE OR REPLACE TEMP VIEW merge_victim AS SELECT 1 AS x")
    for (stmt <- Seq("DROP VIEW merge_victim",
                     "SET spark.graft.pwned=true",
                     "INSERT INTO merge_victim VALUES (2)")) {
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.merge_keyed(table => 'orders', " +
          s"source => '${stmt.replace("'", "''")}', keys => 'event_id')").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("refuses to execute")), s"stmt not refused: $stmt -> $e")
    }
    // the refusal happened before execution: the view survived, the conf never set
    assert(spark.sql("SELECT * FROM merge_victim").count() == 1)
    assert(spark.conf.getOption("spark.graft.pwned").isEmpty)
    // a genuine table-name typo surfaces as a lookup error, not a parse error
    val typo = intercept[Exception] {
      spark.sql(s"CALL $cat.system.merge_keyed(table => 'orders', " +
        "source => 'no_such_view_xyz', keys => 'event_id')").collect()
    }
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(typo).exists(m => m.contains("no_such_view_xyz")), s"got: $typo")
  }
}
