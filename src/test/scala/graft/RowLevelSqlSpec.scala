package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventStore, Publish}

/** Native SQL DML through `SupportsRowLevelOperations`: `UPDATE`,
  * `MERGE INTO`, and predicate `DELETE FROM` plan group-based
  * copy-on-write (`ReplaceData`) over the engine's footprint machinery
  * ([[graft.sources.EsdbRowLevelOperation]] →
  * [[graft.engine.EsdbWriter.replaceFootprint]]). These are the
  * statements a SQL-literate user types first; the CALL procedures
  * stay as aliases of the same engine paths.
  */
class RowLevelSqlSpec extends SparkSpec {
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

  private var n = 0
  /** A fresh catalog with one versioned store `orders`; returns the
    * catalog name and the store's logical path.
    */
  private def catalogWith(df: DataFrame, indexAttrs: Seq[String] = Nil): (String, String) = {
    val root = freshDir("rlsql")
    val p = s"$root/orders"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(df, tmp, indexAttrs = indexAttrs)
    }: Unit
    n += 1
    val cat = s"rlsql$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, p)
  }

  private def hasSortNode(plan: String): Boolean =
    """(?m)^\W*\*?\(?\d*\)?\s*Sort """.r.findFirstIn(plan).isDefined ||
      plan.contains(") Sort [") || plan.contains("+- Sort [")

  test("native SQL UPDATE rewrites matching rows, carries the rest, keeps layout invariants") {
    val (cat, p) = catalogWith(ev(1 to 100), indexAttrs = Seq("k"))
    spark.sql(s"UPDATE $cat.orders SET value = 777.0, payload = '{\"k\": 7}' WHERE event_id = 12")

    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 100)
    val hit = spark.sql(s"SELECT value, idx_k FROM $cat.orders WHERE event_id = 12").head()
    assert(hit.getDouble(0) == 777.0)
    // the index column follows the NEW payload — idx_* is derived data
    assert(hit.getString(1) == "7", s"idx_k must re-derive from the SET payload, got ${hit.getString(1)}")
    // untouched rows intact
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 13").head().getDouble(0) == 1.3)
    // the pinned scan stays Sort-free after the rewrite
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s1", "g3")
    val plan = scan.queryExecution.executedPlan.toString
    assert(!hasSortNode(plan), "UPDATE must preserve the sorted layout:\n" + plan)
  }

  test("SQL UPDATE footprint is stats-bounded: untouched spaces' files carry by name") {
    val (cat, p) = catalogWith(ev(1 to 99))
    // the head's logical file set: carried files resolve to their host dirs
    def live: Set[String] = {
      val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
      EsdbWriter.storeDataFiles(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
        .map(_._1).toSet
    }
    val before = live
    // event_id = 3 lives in space s0 only: s1/s2 files must carry
    spark.sql(s"UPDATE $cat.orders SET value = -1.0 WHERE event_id = 3 AND space = 's0'")
    val after = live
    val carried = before.intersect(after)
    assert(carried.exists(_.startsWith("space=s1/")), "space=s1 files must carry by name")
    assert(carried.exists(_.startsWith("space=s2/")), "space=s2 files must carry by name")
    assert(!after.exists(f => before.contains(f) && f.startsWith("space=s0/")),
      "space=s0 footprint files must be rewritten")
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 3").head().getDouble(0) == -1.0)
  }

  test("native SQL MERGE INTO upserts through the same engine path") {
    val (cat, p) = catalogWith(ev(1 to 30))
    Seq(("s2", "g5", 12000L, 12L, 88.0, "{}"), ("s0", "g6", 31000L, 31L, 3.1, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      .createOrReplaceTempView("rl_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.orders t USING rl_merge_src s ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 31)
    val updated = spark.sql(s"SELECT space, value FROM $cat.orders WHERE event_id = 12").head()
    assert(updated.getString(0) == "s2" && updated.getDouble(1) == 88.0, updated.toString)
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 31").head().getDouble(0) == 3.1)
    // groupings manifest followed the insert's new (space, grouping) pair
    val pairs = EsdbWriter.manifestGroupings(spark, p).get.toSet
    assert(pairs.contains(("s0", "g6")), "manifest must record the merged-in pair")
    // ordered-scan contract survives the merge
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s0", "g6")
    val got = scan.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(31L))
  }

  test("MERGE with delete and conditional clauses executes correctly") {
    val (cat, _) = catalogWith(ev(1 to 20))
    Seq((5L, 500.0), (6L, -1.0), (21L, 2.1))
      .toDF("event_id", "value").createOrReplaceTempView("rl_merge_mixed")
    spark.sql(
      s"""MERGE INTO $cat.orders t USING rl_merge_mixed s ON t.event_id = s.event_id
         |WHEN MATCHED AND s.value < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.value = s.value
         |WHEN NOT MATCHED THEN INSERT (space, grouping, ts_us, event_id, value, payload)
         |  VALUES ('s0', 'g0', 21000, s.event_id, s.value, '{}')""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 20) // -1 deleted, +1 inserted
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 5").head().getDouble(0) == 500.0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders WHERE event_id = 6").head().getLong(0) == 0)
    assert(spark.sql(s"SELECT value FROM $cat.orders WHERE event_id = 21").head().getDouble(0) == 2.1)
  }

  test("MERGE on an INDEXED store: explicit assignments work, idx_* re-derives from payload") {
    val (cat, p) = catalogWith(ev(1 to 20), indexAttrs = Seq("k"))
    Seq((7L, """{"k": 42}"""), (25L, """{"k": 9}"""))
      .toDF("event_id", "payload").createOrReplaceTempView("rl_merge_idx")
    // SET * cannot resolve derived idx_* columns from a source that
    // lacks them — explicit assignments are the indexed-store form;
    // the engine recomputes idx_* from the new payload regardless
    spark.sql(
      s"""MERGE INTO $cat.orders t USING rl_merge_idx s ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET t.payload = s.payload
         |WHEN NOT MATCHED THEN INSERT (space, grouping, ts_us, event_id, value, payload)
         |  VALUES ('s1', 'g2', 25000, s.event_id, 0.5, s.payload)""".stripMargin)
    val updated = spark.sql(s"SELECT idx_k, payload FROM $cat.orders WHERE event_id = 7").head()
    assert(updated.getString(0) == "42",
      s"idx_k must re-derive from the merged payload, got ${updated.getString(0)}")
    val inserted = spark.sql(s"SELECT idx_k FROM $cat.orders WHERE event_id = 25").head()
    assert(inserted.getString(0) == "9", s"inserted row's idx_k, got ${inserted.getString(0)}")
    // untouched rows keep their derived index
    val kept = spark.sql(s"SELECT count(*) FROM $cat.orders " +
      s"WHERE idx_k = CAST(get_json_object(payload, '$$.k') AS STRING)").head()
    assert(kept.getLong(0) == 21)
  }

  test("predicate DELETE FROM (not keyed) now runs group-based instead of refusing") {
    val (cat, _) = catalogWith(ev(1 to 60))
    // value predicate — canDeleteWhere refuses it, so this exercises
    // the ReplaceData path end-to-end
    spark.sql(s"DELETE FROM $cat.orders WHERE value < 1.0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) ==
      (1 to 60).count(_ / 10.0 >= 1.0))
    assert(spark.sql(s"SELECT min(value) FROM $cat.orders").head().getDouble(0) >= 1.0)
  }

  test("SQL UPDATE on a subpartitioned clustered store keeps bucket routing and pruning") {
    val root = freshDir("rlsqlsub")
    val p = s"$root/orders"
    Publish.publish(spark.sparkContext.hadoopConfiguration, p, keepVersions = 8) { tmp =>
      EsdbWriter.write(ev(1 to 120), tmp, subparts = 2)
    }: Unit
    n += 1
    val cat = s"rlsql$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"UPDATE $cat.orders SET value = 0.5 WHERE value < 1.0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 120)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders WHERE value = 0.5").head().getLong(0) == 9)
    // grouping-pinned scan prunes to its hash bucket and sees full history
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s1", "g3")
    val got = scan.select("event_id").collect().map(_.getLong(0)).toSet
    val want = (1 to 120).filter(i => i % 3 == 1 && i % 7 == 3).map(_.toLong).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("keyed DELETE FROM still plans metadata-only through SupportsDelete") {
    val (cat, _) = catalogWith(ev(1 to 60))
    spark.sql(s"DELETE FROM $cat.orders WHERE space = 's1'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders WHERE space = 's1'").head().getLong(0) == 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) ==
      (1 to 60).count(_ % 3 != 1))
  }
}
