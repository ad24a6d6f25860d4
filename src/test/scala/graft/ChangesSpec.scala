package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.engine.{EsdbWriter, Publish}

/** Change feeds that survive rewrites: per-version add/remove file
  * diffs from the `_FILES` snapshots (`cat.t.changes` + the rewrite-
  * aware `option("changesSince", v)` scan) and the row-level
  * [[EsdbWriter.changesFeed]] — carried files cancel by NAME for free,
  * only the rewrite footprint pays a row-level set difference, and the
  * feed stays exact across delete + update + full compaction.
  */
class ChangesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  private def mk(ids: Range, spaceOf: Int => String = i => Seq("a", "b", "c")(i % 3)): DataFrame =
    ids.map(i => (spaceOf(i), s"g${i % 4}", i.toLong * 1000, i.toLong, i / 10.0, s"p$i"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def writeV1(p: String, df: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Publish.publish(conf, p, keepVersions = 8) { tmpDir =>
      EsdbWriter.write(df, tmpDir)
    }: Unit
  }

  private def feedRows(df: DataFrame): Set[(String, Long)] =
    df.select("_change", "event_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("changesFeed is exact across append + delete + update + compact") {
    val p = tmp("chgfeed")
    writeV1(p, mk(1 to 60))
    // v2: versioned append of new ids
    EsdbWriter.appendVersioned(mk(100 to 129), p, keepVersions = 8)
    // v3: predicate delete (rewrite kind)
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 1.0)), keepVersions = 8)
    // v4: redaction update (rewrite kind)
    EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("{}")),
      Seq(GreaterThanOrEqual("value", 12.0)), keepVersions = 8)
    // v5: full compaction renames EVERYTHING; the feed must net it out
    EsdbWriter.compact(spark, p, keepVersions = 8)

    val feed = EsdbWriter.changesFeed(spark, p, 1L)
    // expected from first principles: deletes = v1 rows gone or changed;
    // inserts = rows now present that v1 lacked
    val v1 = (1 to 60).map(i => (i.toLong, i / 10.0, s"p$i"))
    val deleted = v1.filter(_._2 < 1.0).map(_._1).toSet // ids 1..9
    val redactedOld = v1.filter(t => t._2 >= 12.0).map(_._1).toSet // payload changed
    val expectedDeletes = deleted ++ redactedOld
    val appended = (100 to 129).map(_.toLong).toSet // all values 10.0-12.9 >= 1.0
    val appendedRedacted = (100 to 129).filter(i => i / 10.0 >= 12.0).map(_.toLong).toSet
    val expectedInserts = appended ++ redactedOld // redaction = delete old + insert new
    assert(feedRows(feed) ==
      expectedDeletes.map(("delete", _)) ++ expectedInserts.map(("insert", _)),
      "feed must equal the content diff of the two snapshots")
    // and the redacted insert rows carry the NEW payload
    val redactedRows = feed.where(col("_change") === "insert" && col("payload") === "{}")
      .select("event_id").as[Long].collect().toSet
    assert(redactedRows == (redactedOld ++ appendedRedacted))
  }

  /** r12 audit mode: `exact = true` (streaming `option("exactDiff",
    * true)`) routes the window through bit-exact EXCEPT ALL instead of
    * the 96-bit hash projection — identical output by construction,
    * proven here on the full rewrite gauntlet including duplicate rows
    * (the multiset case hashes could in principle get wrong).
    */
  test("exact-diff mode produces the identical feed to the hashed projection") {
    val p = tmp("chgexact")
    // duplicates in v1: two identical copies of each of ids 1..5
    val dup = mk(1 to 5).unionByName(mk(1 to 5))
    writeV1(p, mk(6 to 60).unionByName(dup))
    EsdbWriter.appendVersioned(mk(100 to 129), p, keepVersions = 8)
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 1.0)), keepVersions = 8)
    EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("{}")),
      Seq(GreaterThanOrEqual("value", 12.0)), keepVersions = 8)
    EsdbWriter.compact(spark, p, keepVersions = 8)
    def multiset(df: DataFrame): Map[String, Int] =
      df.collect().map(_.toString).groupBy(identity).map { case (k, v) => (k, v.length) }
    for (from <- Seq(1L, 2L, 3L)) {
      val hashed = multiset(EsdbWriter.changesFeed(spark, p, from))
      val exact = multiset(EsdbWriter.changesFeed(spark, p, from, exact = true))
      assert(hashed == exact, s"window since v$from diverged: " +
        s"hashed-only=${(hashed.toSet -- exact.toSet).take(3)}, " +
        s"exact-only=${(exact.toSet -- hashed.toSet).take(3)}")
    }
    // exact mode must also report the duplicate-row multiplicities
    val exactFeed = EsdbWriter.changesFeed(spark, p, 1L, exact = true)
    assert(exactFeed.where(col("_change") === "delete" && col("event_id") <= 5).count() == 10L,
      "both copies of each duplicate deleted row must appear")
  }

  /** r12: the feed window as a BATCH relation — pure SQL consumers get
    * the row-level CDC without Scala (`CREATE TEMPORARY VIEW ... USING
    * esdbchanges`), same distributed diff plan underneath.
    */
  test("batch esdbchanges read: DataFrame and SQL-view forms equal the engine feed") {
    val p = tmp("chgbatch")
    writeV1(p, mk(1 to 60))
    EsdbWriter.appendVersioned(mk(100 to 119), p, keepVersions = 8)
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 1.0)), keepVersions = 8)
    val want = feedRows(EsdbWriter.changesFeed(spark, p, 1L))
    val viaRead = feedRows(spark.read.format("esdbchanges")
      .option("sinceVersion", 1L).load(p))
    assert(viaRead == want)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW chg_batch_v
      USING esdbchanges OPTIONS (path '$p', sinceVersion '1')""")
    val viaSql = feedRows(spark.sql("SELECT * FROM chg_batch_v"))
    assert(viaSql == want)
    // pinned upper bound: (1 → 2] sees only the append's inserts
    val window = spark.read.format("esdbchanges")
      .option("sinceVersion", 1L).option("toVersion", 2L).load(p)
    assert(feedRows(window) ==
      feedRows(EsdbWriter.changesFeedBetween(spark, p, 1L, Some(2L))))
    // exactDiff option routes the audit path; identical content
    assert(feedRows(spark.read.format("esdbchanges")
      .option("sinceVersion", 1L).option("exactDiff", true).load(p)) == want)
    // the window resolves at SCAN time: a version committed AFTER the
    // view was defined appears on the next SELECT (live-head contract)
    EsdbWriter.appendVersioned(mk(200 to 204), p, keepVersions = 8)
    val after = feedRows(spark.sql("SELECT * FROM chg_batch_v"))
    assert(after == want ++ (200 to 204).map(i => ("insert", i.toLong)),
      s"view must see the post-creation version: ${after -- want}")
    // a batch window needs its lower bound
    val e = intercept[IllegalArgumentException] {
      spark.read.format("esdbchanges").load(p)
    }
    assert(e.getMessage.contains("sinceVersion"), e.getMessage)
  }

  test("changesFeed across ONLY a compaction nets to zero changes") {
    val p = tmp("chgnoop")
    writeV1(p, mk(1 to 40))
    EsdbWriter.compact(spark, p, keepVersions = 8)
    val feed = EsdbWriter.changesFeed(spark, p, 1L)
    assert(feed.count() == 0,
      "a pure compaction rewrites encodings, not content: the feed must be empty")
  }

  test("changesFeed ≡ diff of the two version-pinned snapshot scans") {
    val p = tmp("chgdiff")
    writeV1(p, mk(1 to 50))
    EsdbWriter.appendVersioned(mk(200 to 219), p, keepVersions = 8)
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThan("value", 3.0)), keepVersions = 8)
    val cols = Seq("space", "grouping", "ts_us", "event_id", "value", "payload")
    val atV1 = EsdbWriter.readOrderedAt(spark, p, 1L).select(cols.map(col): _*)
    val now = EsdbWriter.readOrdered(spark, p).select(cols.map(col): _*)
    val expected =
      now.except(atV1).withColumn("_change", lit("insert"))
        .unionByName(atV1.except(now).withColumn("_change", lit("delete")))
        .select(("_change" +: cols).map(col): _*) // except() is positional
    val feed = EsdbWriter.changesFeed(spark, p, 1L).select(("_change" +: cols).map(col): _*)
    assert(feed.except(expected).count() == 0 && expected.except(feed).count() == 0,
      "feed must equal the EXCEPT-diff of the pinned snapshot scans")
  }

  test("cat.t.changes classifies appends vs rewrites and flags at-head appends") {
    val p = tmp("chgmeta")
    writeV1(p, mk(1 to 30))
    EsdbWriter.appendVersioned(mk(50 to 59), p, keepVersions = 8) // v2 append
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 0.5)), keepVersions = 8) // v3 rewrite
    EsdbWriter.append(mk(300 to 304), p) // at-head, uncommitted
    val name = new java.io.File(p).getName
    spark.conf.set("spark.sql.catalog.esdb_chg", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_chg.root", new java.io.File(p).getParent)
    val rows = spark.sql(
      s"SELECT version, kind, change, committed FROM esdb_chg.`$name`.changes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(rows.filter(_._1 == 1L).forall(r => r._2 == "append" && r._3 == "add"))
    assert(rows.filter(_._1 == 2L).forall(r => r._2 == "append" && r._3 == "add"),
      s"v2 was a pure append: $rows")
    val v3 = rows.filter(r => r._1 == 3L && r._4)
    assert(v3.nonEmpty && v3.forall(_._2 == "rewrite"), s"v3 was a rewrite: $rows")
    assert(v3.exists(_._3 == "add") && v3.exists(_._3 == "remove"),
      "a rewrite diff lists both added and removed files")
    val live = rows.filter(!_._4)
    assert(live.nonEmpty && live.forall(r => r._2 == "append" && r._3 == "add" && r._1 == 3L),
      s"at-head appends flag committed=false on the head version: $rows")
  }

  test("changesSince reads the pure append delta and refuses after a rewrite") {
    val p = tmp("chgsince")
    writeV1(p, mk(1 to 30))
    EsdbWriter.appendVersioned(mk(50 to 59), p, keepVersions = 8)
    EsdbWriter.append(mk(300 to 304), p)
    val got = spark.read.format("esdb").option("changesSince", "1").load(p)
      .select("event_id").as[Long].collect().toSet
    assert(got == ((50 to 59) ++ (300 to 304)).map(_.toLong).toSet,
      "append-only history: changesSince = the appended rows")
    // now a rewrite intervenes: file-level incremental must refuse
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 0.5)), keepVersions = 8)
    val e = intercept[IllegalStateException] {
      spark.read.format("esdb").option("changesSince", "1").load(p).count()
    }
    assert(e.getMessage.contains("changesFeed"),
      s"refusal must point at the row-level feed: ${e.getMessage}")
    // sinceVersion (adds-only contract) still reads, re-surfacing renames
    assert(spark.read.format("esdb").option("sinceVersion", "1").load(p).count() > 0)
    // and the row-level feed handles it
    assert(EsdbWriter.changesFeed(spark, p, 1L).count() > 0)
  }

  test("multiset semantics: duplicate identical rows keep their multiplicity in the feed") {
    val p = tmp("chgdup")
    // three IDENTICAL rows (no uniqueness key anywhere)
    val dup = Seq.fill(3)(("a", "g0", 1000L, 7L, 0.5, "same"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    writeV1(p, dup.union(mk(10 to 19)))
    // delete removes value==0.5 rows: ALL three identical copies go
    EsdbWriter.deleteWhere(spark, p, Seq(EqualTo("value", 0.5)), keepVersions = 8)
    val feed1 = EsdbWriter.changesFeed(spark, p, 1L)
    assert(feed1.where(col("_change") === "delete" && col("event_id") === 7L).count() == 3,
      "three identical deleted rows must feed three deletes")
    // now append two more identical copies of a row that already exists
    val cur = Publish.currentVersion(spark.sparkContext.hadoopConfiguration, p).get._1
    EsdbWriter.appendVersioned(
      Seq.fill(2)(("a", "g2", 10000L, 10L, 1.0, "p10"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"),
      p, keepVersions = 8)
    val feed2 = EsdbWriter.changesFeed(spark, p, cur)
    assert(feed2.where(col("_change") === "insert").count() == 2,
      "two new identical copies must feed two inserts (set semantics would collapse to none)")
    assert(feed2.where(col("_change") === "delete").count() == 0)
  }

  test("streaming change feed: version offsets, resume from checkpoint, batch equivalence") {
    val p = tmp("chgstream")
    val ckpt = tmp("chgstreamck")
    writeV1(p, mk(1 to 40))                                              // v1
    EsdbWriter.appendVersioned(mk(100 to 109), p, keepVersions = 8)      // v2 (append kind)
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 0.5)), keepVersions = 8) // v3 (rewrite)
    def drain(): Unit = {
      val q = spark.readStream.format("esdbchanges")
        .option("sinceVersion", "1").load(p)
        .writeStream.format("parquet")
        .option("path", s"$ckpt/out").option("checkpointLocation", s"$ckpt/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000): Unit
    }
    drain()
    val streamed = spark.read.parquet(s"$ckpt/out")
    val batch = EsdbWriter.changesFeed(spark, p, 1L)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "the drained stream must equal the batch feed over the same window")
    // resume: two more committed versions; the same checkpoint reads
    // ONLY the new window (offsets = versions)
    EsdbWriter.appendVersioned(mk(200 to 204), p, keepVersions = 8)      // v4
    EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("{}")),
      Seq(EqualTo("event_id", 200L)), keepVersions = 8)                  // v5 (rewrite)
    drain()
    val resumed = spark.read.parquet(s"$ckpt/out")
    val full = EsdbWriter.changesFeed(spark, p, 1L)
    // window diffs compose: (1→3] ∪ (3→5] nets intermediate churn the
    // full (1→5] diff never sees (200's pre-update insert + its delete)
    val extra = resumed.exceptAll(full)
    assert(resumed.count() > streamed.count(), "the resumed drain must have appended rows")
    val ids = resumed.where(col("_change") === "insert")
      .select("event_id").as[Long].collect().toSet
    assert((200L to 204L).toSet.subsetOf(ids), "resumed window must cover v4's appends")
    assert(extra.select("event_id").as[Long].collect().toSet.subsetOf(Set(200L)),
      "composed windows may only differ on the intra-window churn row")
  }

  test("streaming change feed: maxVersionsPerTrigger bounds each micro-batch") {
    val p = tmp("chgadm")
    val ckpt = tmp("chgadmck")
    writeV1(p, mk(1 to 10))                                              // v1
    (0 until 3).foreach(k =>
      EsdbWriter.appendVersioned(mk((100 + 10 * k) to (109 + 10 * k)), p, keepVersions = 8)) // v2..v4
    val q = spark.readStream.format("esdbchanges")
      .option("sinceVersion", "1").option("maxVersionsPerTrigger", "1").load(p)
      .writeStream.format("memory").queryName("chg_adm")
      .option("checkpointLocation", s"$ckpt/ck")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("chg_adm")
      assert(got.count() == 30, "all three appended versions must drain")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "a 1-version cap must spread the catch-up over >= 3 non-empty micro-batches")
    } finally q.stop()
  }

  test("in-place appends surface at the next committed version — the documented cadence") {
    val p = tmp("chginplace")
    val ckpt = tmp("chginplaceck")
    writeV1(p, mk(1 to 10))                                          // v1
    EsdbWriter.appendVersioned(mk(20 to 24), p, keepVersions = 8)    // v2
    def drain(): Long = {
      val q = spark.readStream.format("esdbchanges")
        .option("sinceVersion", "1").load(p)
        .writeStream.format("parquet")
        .option("path", s"$ckpt/out").option("checkpointLocation", s"$ckpt/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
      spark.read.parquet(s"$ckpt/out").count()
    }
    val afterV2 = drain()
    assert(afterV2 == 5)
    // a plain in-place append commits NO version: the stream's offset
    // sequence is the publish history, so the rows are NOT yet visible
    // to the feed — the contract EsdbChangesSource documents
    EsdbWriter.append(mk(30 to 34), p)
    assert(drain() == afterV2, "no publish, no new offset, no new feed rows")
    // the next committed version's snapshot captures the in-place files
    // alongside its own batch: both surface in one window
    EsdbWriter.appendVersioned(mk(40 to 44), p, keepVersions = 8)    // v3
    val rows = { drain(): Unit; spark.read.parquet(s"$ckpt/out") }
    val inserts = rows.where(col("_change") === "insert")
      .select("event_id").as[Long].collect().toSet
    assert((30L to 34L).toSet.subsetOf(inserts), "in-place rows surface at v3")
    assert((40L to 44L).toSet.subsetOf(inserts))
    assert(rows.where(col("_change") === "delete").count() == 0)
  }

  /** r13: `cdc=true` tables route catalog INSERT INTO through
    * [[EsdbWriter.appendVersioned]], so SQL-ingested rows surface in
    * the change feed at their own committed version instead of waiting
    * for the next unrelated publish.
    */
  test("cdc=true: INSERT INTO commits its own version, immediately feed-visible") {
    val root = tmp("chgcdccat")
    val cat = "esdbcdccat"
    val conf = spark.sparkContext.hadoopConfiguration
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    mk(1 to 10).createOrReplaceTempView("cdc_seed")
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES('cdc'='true', 'keepVersions'='8') " +
      "AS SELECT * FROM cdc_seed")
    val p = s"$root/t"
    assert(EsdbWriter.cdcEnabled(conf, p), "CTAS property must set the marker")
    val v1 = Publish.currentVersionNumber(conf, p).get
    mk(20 to 24).createOrReplaceTempView("cdc_batch")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cdc_batch")
    val v2 = Publish.currentVersionNumber(conf, p).get
    assert(v2 == v1 + 1, s"INSERT must commit its own version: $v1 -> $v2")
    val feed = feedRows(EsdbWriter.changesFeed(spark, p, v1))
    assert(feed == (20L to 24L).map(("insert", _)).toSet, s"got $feed")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 15)
    // the CTAS keepVersions=8 is recorded in the marker, so INSERT-
    // driven publishes must NOT sweep early history — two more INSERTs
    // (v3, v4) give the assertion teeth: under the appendVersioned
    // default keep=2 they WOULD retire v1/v2
    assert(EsdbWriter.cdcKeepVersions(conf, p).contains(8))
    mk(25 to 26).createOrReplaceTempView("cdc_more1")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cdc_more1")
    mk(27 to 28).createOrReplaceTempView("cdc_more2")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cdc_more2")
    assert(Publish.currentVersionNumber(conf, p).get == v1 + 3)
    assert(Publish.committedVersions(conf, p).map(_._1).toSet.contains(v1),
      "version 1 must survive CDC appends under the declared retention")
    // a lagging consumer can still drain the whole feed from v1
    assert(feedRows(EsdbWriter.changesFeed(spark, p, v1)) ==
      ((20L to 24L) ++ (25L to 28L)).map(("insert", _)).toSet)
    // the idx contract holds on the versioned path too: payload-derived
    // columns stay derived (spot-check via a fresh scan)
    // toggling cdc off restores the cheap in-place append
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('cdc'='false')")
    assert(!EsdbWriter.cdcEnabled(conf, p))
    mk(30 to 31).createOrReplaceTempView("cdc_batch2")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cdc_batch2")
    assert(Publish.currentVersionNumber(conf, p).get == v1 + 3, "in-place append: no version")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 21)
    // ...and back on via ALTER alone (no CTAS property needed)
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('cdc'='true')")
    mk(40 to 41).createOrReplaceTempView("cdc_batch3")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cdc_batch3")
    val v5 = Publish.currentVersionNumber(conf, p).get
    assert(v5 == v1 + 4)
    // the v5 snapshot sweeps up the in-place rows with its own batch —
    // same cadence contract as the engine-level test above
    val feed3 = feedRows(EsdbWriter.changesFeed(spark, p, v5 - 1))
    assert((40L to 41L).map(("insert", _)).toSet.subsetOf(feed3), s"got $feed3")
    assert((30L to 31L).map(("insert", _)).toSet.subsetOf(feed3), s"got $feed3")
    // a toggle cycle through ALTER preserves the CTAS-declared window:
    // the off-toggle tombstones the marker instead of deleting it, so a
    // feed consumer relying on keepVersions=8 cannot lose history to an
    // operator flipping the flag off and back on
    assert(EsdbWriter.cdcKeepVersions(conf, p).contains(8))
  }

  /** r13: the CDC window is enforced ANYWHERE versions sweep — a
    * compact/vacuum CALL with a narrower keep_versions must not retire
    * feed history the `_CDC` marker declares a consumer may still need.
    */
  test("CALL compact/vacuum cannot sweep below a table's declared CDC window") {
    val root = tmp("chgcdcsweep")
    val cat = "esdbcdcsweep"
    val conf = spark.sparkContext.hadoopConfiguration
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    mk(1 to 10).createOrReplaceTempView("sweep_seed")
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES('cdc'='true', 'keepVersions'='8') " +
      "AS SELECT * FROM sweep_seed")
    val p = s"$root/t"
    val v1 = Publish.currentVersionNumber(conf, p).get
    for (k <- 0 until 3) {
      mk((20 + 2 * k) to (21 + 2 * k)).createOrReplaceTempView(s"sweep_b$k")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM sweep_b$k")
    }
    // narrower CALLs are widened to the marker's window: v1 survives
    spark.sql(s"CALL $cat.system.compact(table => 't', keep_versions => 1)").collect(): Unit
    spark.sql(s"CALL $cat.system.vacuum(table => 't', keep => 1)").collect(): Unit
    assert(Publish.committedVersions(conf, p).map(_._1).toSet.contains(v1),
      "CDC window must survive compact/vacuum CALLs with narrower keeps")
    val feed = feedRows(EsdbWriter.changesFeed(spark, p, v1))
    assert(feed == (20L to 25L).map(("insert", _)).toSet, s"got $feed")
  }

  private def contentEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSet.intersect(b.columns.toSet).toSeq.sorted
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  test("applyChanges replicates a store across delete + update + compaction exactly") {
    val srcP = tmp("cdcsrc")
    val repP = tmp("cdcrep")
    val v1 = mk(1 to 60)
    writeV1(srcP, v1)
    writeV1(repP, v1) // the replica forks at v1

    // source evolves through every rewrite kind
    EsdbWriter.appendVersioned(mk(100 to 119), srcP, keepVersions = 8)                  // v2
    EsdbWriter.deleteWhere(spark, srcP, Seq(LessThan("value", 1.0)), keepVersions = 8)  // v3
    EsdbWriter.updateWhere(spark, srcP, Map("payload" -> lit("\"x\"")),
      Seq(EqualTo("event_id", 105L)), keepVersions = 8)                                 // v4
    EsdbWriter.compact(spark, srcP, keepVersions = 8)                                   // v5

    val feed = EsdbWriter.changesFeed(spark, srcP, 1L)
    val (ins, del) = EsdbWriter.applyChanges(spark, repP, feed)
    assert(ins > 0 && del > 0, s"the window has both kinds, got ($ins, $del)")
    assert(contentEqual(
      EsdbWriter.readOrdered(spark, repP), EsdbWriter.readOrdered(spark, srcP)),
      "replica must equal the source after one feed window")
    // scan contract survives replication
    val probe = EsdbWriter.readOrdered(spark, repP).select("space", "grouping").head()
    val scan = graft.engine.EventStore.scan(
      EsdbWriter.readOrdered(spark, repP), probe.getString(0), probe.getString(1))
    val got = scan.select("ts_us", "event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == got.sortBy { case (ts, id) => (-ts, id) })
  }

  test("applyChanges detects replica drift and refuses loudly") {
    val srcP = tmp("cdcdriftsrc")
    val repP = tmp("cdcdriftrep")
    val v1 = mk(1 to 30)
    writeV1(srcP, v1)
    writeV1(repP, v1)
    // the replica drifts: someone hand-deletes a row the feed will
    // later try to delete too
    EsdbWriter.deleteWhere(spark, repP, Seq(EqualTo("event_id", 3L)), keepVersions = 8)
    EsdbWriter.deleteWhere(spark, srcP, Seq(LessThan("event_id", 10L)), keepVersions = 8)
    val feed = EsdbWriter.changesFeed(spark, srcP, 1L)
    val e = intercept[IllegalStateException] {
      EsdbWriter.applyChanges(spark, repP, feed)
    }
    assert(e.getMessage.contains("diverged"), e.getMessage)
  }

  test("applyChanges onto a clustered replica counts each footprint row once") {
    // a range-clustered rewrite samples its range bounds in a job of its
    // own: the drift check's kept count must not include that pass
    val repP = tmp("cdcclustrep")
    Publish.publish(spark.sparkContext.hadoopConfiguration, repP, keepVersions = 8) { t =>
      EsdbWriter.write(mk(1 to 800, _ => "a"), t, clusterBy = Seq("value"), clusterChunks = 8)
    }: Unit
    // deletes across the whole value range: every clustered file rewrites
    val feed = mk(1 to 800, _ => "a").where(col("event_id") % 100 === 0)
      .withColumn("_change", lit("delete"))
    assert(EsdbWriter.applyChanges(spark, repP, feed) == (0L, 8L))
    assert(EsdbWriter.read(spark, repP).count() == 792)
  }

  test("applyChanges refuses a feed column the replica lacks instead of dropping it") {
    val srcP = tmp("cdccolsrc")
    val repP = tmp("cdccolrep")
    writeV1(srcP, mk(1 to 30))
    writeV1(repP, mk(1 to 30))
    EsdbWriter.deleteWhere(spark, srcP, Seq(LessThan("event_id", 5L)), keepVersions = 8)
    // the followed source gained a column the replica doesn't have yet:
    // silently dropping it would lose insert values and surface later
    // as a confusing drift error
    val feed = EsdbWriter.changesFeed(spark, srcP, 1L)
      .withColumn("extra_col", lit(1L))
    val e = intercept[IllegalArgumentException] {
      EsdbWriter.applyChanges(spark, repP, feed)
    }
    assert(e.getMessage.contains("extra_col") && e.getMessage.contains("ALTER"), e.getMessage)
  }

  test("streaming replication: esdbchanges + foreachBatch(applyChanges) follows the source") {
    val srcP = tmp("cdcstreamsrc")
    val repP = tmp("cdcstreamrep")
    val ckpt = tmp("cdcstreamck")
    val v1 = mk(1 to 40)
    writeV1(srcP, v1)
    writeV1(repP, v1)
    def follow(): Unit = {
      val q = spark.readStream.format("esdbchanges")
        .option("sinceVersion", "1").load(srcP)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          EsdbWriter.applyChanges(spark, repP, batch): Unit
        }
        .option("checkpointLocation", s"$ckpt/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    EsdbWriter.appendVersioned(mk(200 to 219), srcP, keepVersions = 8)                 // v2
    EsdbWriter.deleteWhere(spark, srcP, Seq(LessThan("value", 0.8)), keepVersions = 8) // v3
    follow()
    assert(contentEqual(
      EsdbWriter.readOrdered(spark, repP), EsdbWriter.readOrdered(spark, srcP)))
    // more source churn; the SAME checkpoint resumes at the next window
    EsdbWriter.updateWhere(spark, srcP, Map("value" -> lit(0.0)),
      Seq(EqualTo("event_id", 205L)), keepVersions = 8)                                // v4
    EsdbWriter.compact(spark, srcP, keepVersions = 8)                                  // v5
    follow()
    assert(contentEqual(
      EsdbWriter.readOrdered(spark, repP), EsdbWriter.readOrdered(spark, srcP)),
      "the resumed follower must converge to the source again")
  }

  test("CALL apply_changes: the SQL surface replicates through the same engine path") {
    val root = tmp("cdccall")
    val conf = spark.sparkContext.hadoopConfiguration
    val v1 = mk(1 to 30)
    Seq("src", "rep").foreach { t =>
      Publish.publish(conf, s"$root/$t", keepVersions = 8) { tmpDir =>
        EsdbWriter.write(v1, tmpDir)
      }: Unit
    }
    EsdbWriter.appendVersioned(mk(50 to 59), s"$root/src", keepVersions = 8)
    EsdbWriter.deleteWhere(spark, s"$root/src",
      Seq(LessThan("value", 0.6)), keepVersions = 8)
    val cat = "esdbcdc"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val res = spark.sql(
      s"CALL $cat.system.apply_changes(table => 'rep', source => 'src', since_version => 1)")
      .collect()
    assert(res.length == 1 && res(0).getLong(1) > 0 && res(0).getLong(2) > 0, res.mkString)
    assert(contentEqual(
      EsdbWriter.readOrdered(spark, s"$root/rep"),
      EsdbWriter.readOrdered(spark, s"$root/src")))
  }

  test("the feed window is the retention window: a swept base version fails loudly") {
    val p = tmp("chgswept")
    writeV1(p, mk(1 to 20))
    EsdbWriter.appendVersioned(mk(30 to 39), p, keepVersions = 8)
    // aggressive retention: only the current version's data survives
    EsdbWriter.compact(spark, p, keepVersions = 1)
    Publish.vacuum(spark.sparkContext.hadoopConfiguration, p, keep = 1)
    intercept[Exception] {
      EsdbWriter.changesFeed(spark, p, 1L).count()
    }
  }
}
