package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventStore}

/** The DSv2 ordered store read path: correctness parity with the
  * vanilla parquet path, and the plan properties that are its reason
  * to exist — no Sort on scans of written stores, top-N absorbed into
  * the scan, directory pruning on space predicates.
  */
class OrderedStoreSpec extends SparkSpec {
  import spark.implicits._

  /** 3 spaces × 7 groupings, shuffled insert order, duplicate
    * timestamps to exercise the event_id tiebreak; written in two
    * batches so every space has 2+ sorted files to merge.
    */
  private lazy val storePath: String = {
    val dir = java.nio.file.Files.createTempDirectory("ordstore").toFile
    dir.delete()
    val rows = scala.util.Random.shuffle(
      (1 to 600).map(i => (s"s${i % 3}", s"g${i % 7}", (i % 50).toLong * 1000, i.toLong,
        i / 10.0, s"""{"k": ${i % 9}}"""))).toSeq
    val (batch1, batch2) = rows.splitAt(300)
    val df1 = batch1.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val df2 = batch2.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(df1, dir.getAbsolutePath)
    EsdbWriter.append(df2, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def ordered: DataFrame = EsdbWriter.readOrdered(spark, storePath)
  private def vanilla: DataFrame = EsdbWriter.read(spark, storePath)

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def hasSortNode(plan: String): Boolean =
    """(?m)^\W*\*?\(?\d*\)?\s*Sort """.r.findFirstIn(plan).isDefined ||
      plan.contains(") Sort [") || plan.contains("+- Sort [")

  test("scan parity: ordered source returns exactly the vanilla scan rows, in order") {
    val o = EventStore.scan(ordered, "s1", "g3")
      .select("event_id", "ts_us", "value", "payload").collect().toSeq
    val v = EventStore.scan(vanilla, "s1", "g3")
      .select("event_id", "ts_us", "value", "payload").collect().toSeq
    assert(o == v)
    assert(o.nonEmpty)
  }

  test("stored scan elides the sort: layout order is reported, not re-sorted") {
    val q = EventStore.scan(ordered, "s1", "g3").select("event_id", "ts_us", "value")
    val plan = executed(q)
    assert(!hasSortNode(plan), "scan of a written store must not re-sort:\n" + plan)
    assert(plan.contains("BatchScan"), plan)
  }

  test("scan with limit: top-N is absorbed into the scan (no sort, no TakeOrdered)") {
    val q = EventStore.scan(ordered, "s1", "g3", Some(5)).select("event_id", "ts_us")
    val rows = q.as[(Long, Long)].collect().toSeq
    val expect = EventStore.scan(vanilla, "s1", "g3", Some(5))
      .select("event_id", "ts_us").as[(Long, Long)].collect().toSeq
    assert(rows == expect)
    val plan = executed(q)
    assert(!hasSortNode(plan), plan)
    assert(!plan.contains("TakeOrderedAndProject"), plan)
  }

  test("scan observability: files/rows/early-exit surface as DSv2 custom metrics") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // executedPlan stays inspectable
    try {
      val q = EventStore.scan(ordered, "s1", "g3", Some(5)).select("event_id")
      q.collect()
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      import graft.sources.EsdbMetrics
      // fixture writes two batches -> two sorted files merged per space
      assert(scan.metrics(EsdbMetrics.FilesOpened).value == 2, scan.metrics)
      assert(scan.metrics(EsdbMetrics.RowsMerged).value >= 5, scan.metrics)
      // pushed top-N stops the reader before EOF
      assert(scan.metrics(EsdbMetrics.EarlyExits).value >= 1, scan.metrics)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a grouping-pinned ts bound stops the merge at the first row past it") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // executedPlan stays inspectable
    try {
      val q = EventStore.scanSince(ordered, "s1", "g3", 25000L).select("event_id", "ts_us")
      val rows = q.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty && rows == EventStore.scanSince(vanilla, "s1", "g3", 25000L)
        .select("event_id", "ts_us").as[(Long, Long)].collect().toSeq)
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      import graft.sources.EsdbMetrics
      // no limit: only the bound can stop the reader before EOF, one
      // row past it per file at most
      val grouping = vanilla.where($"space" === "s1" && $"grouping" === "g3").count()
      assert(scan.metrics(EsdbMetrics.EarlyExits).value == 1, scan.metrics)
      assert(scan.metrics(EsdbMetrics.RowsMerged).value <= rows.size + 2, scan.metrics)
      assert(rows.size < grouping)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("space predicate prunes to one directory (one partition, SinglePartition plan)") {
    val q = ordered.where(col("space") === "s2")
    assert(q.rdd.getNumPartitions == 1)
    val all = ordered
    assert(all.rdd.getNumPartitions == 3) // one per space
  }

  test("full-space ordered iterate: layout order, no sort node") {
    val q = EventStore.scanSpace(ordered, "s0").select("grouping", "ts_us", "event_id")
    val got = q.as[(String, Long, Long)].collect().toSeq
    val expect = EventStore.scanSpace(vanilla, "s0")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq
    assert(got == expect)
    assert(!hasSortNode(executed(q)), executed(q))
  }

  test("each written file is PHYSICALLY sorted (grouping, ts desc, id) — layout regression guard") {
    // regression for the FileFormatWriter trap: a write sort that does
    // not lead with the partition column gets silently replaced by
    // Spark's own non-stable sort on (space) alone, scrambling the
    // layout while every re-sorting read path still passes
    val spaceDirs = new java.io.File(storePath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("space="))
    assert(spaceDirs.nonEmpty)
    spaceDirs.foreach { d =>
      d.listFiles().filter(f => f.getName.endsWith(".parquet")).foreach { f =>
        val rows = spark.read.parquet(f.getAbsolutePath)
          .select("grouping", "ts_us", "event_id")
          .as[(String, Long, Long)].collect().toSeq
        rows.sliding(2).foreach {
          case Seq((g1, t1, e1), (g2, t2, e2)) =>
            assert(g1 < g2 || (g1 == g2 && (t1 > t2 || (t1 == t2 && e1 < e2))),
              s"${f.getName}: ($g1,$t1,$e1) precedes ($g2,$t2,$e2)")
          case _ => ()
        }
      }
    }
  }

  test("merge is correct across appended files and ties break on event_id") {
    // per grouping: ts strictly descending, and event_id ascending within equal ts
    val rows = EventStore.scan(ordered, "s0", "g0")
      .select("ts_us", "event_id").as[(Long, Long)].collect().toSeq
    rows.sliding(2).foreach {
      case Seq((t1, e1), (t2, e2)) =>
        assert(t1 > t2 || (t1 == t2 && e1 < e2), s"order violation: ($t1,$e1) before ($t2,$e2)")
      case _ => ()
    }
    assert(rows.size >= 2)
  }

  test("column pruning reaches the reader: unprojected columns are not read") {
    val q = ordered.where(col("space") === "s1" && col("grouping") === "g1")
      .select("payload")
    assert(q.collect().nonEmpty)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("BatchScan"), scan)
  }

  test("non-pushed predicates still evaluate (post-scan filter)") {
    val o = ordered.where(col("space") === "s1" && col("value") > 10.0).count()
    val v = vanilla.where(col("space") === "s1" && col("value") > 10.0).count()
    assert(o == v && o > 0)
  }

  test("grouping IsNotNull pushdown does not drop rows (all groupings non-null here)") {
    assert(ordered.where(col("grouping").isNotNull).count() == vanilla.count())
  }

  test("SQL surface: the store is queryable as a USING esdb table with the same plan properties") {
    spark.sql("DROP TABLE IF EXISTS ordered_store_sql")
    spark.sql(s"CREATE TABLE ordered_store_sql USING esdb OPTIONS (path '$storePath')")
    val q = spark.sql(
      "SELECT event_id, ts_us FROM ordered_store_sql " +
        "WHERE space = 's1' AND grouping = 'g3' ORDER BY ts_us DESC, event_id LIMIT 5")
    val viaApi = EventStore.scan(ordered, "s1", "g3", Some(5))
      .select("event_id", "ts_us").as[(Long, Long)].collect().toSeq
    assert(q.as[(Long, Long)].collect().toSeq == viaApi)
    val plan = executed(q)
    assert(!hasSortNode(plan), plan)
  }

  test("runtime filtering: a broadcast join on space prunes store directories at runtime") {
    import org.apache.spark.sql.functions.broadcast
    // DPP fires only when the build side carries a SELECTIVE predicate;
    // a LocalRelation's filter is constant-folded away before the DPP
    // rule runs, so the dim must come from a real source
    val dimPath = java.nio.file.Files.createTempDirectory("dppdim").toString + "/dim"
    Seq(("s2", "only"), ("zz", "other")).toDF("space", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "only")
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      // size heuristics never fire on KB-scale local stores (same as
      // file-source DPP); the ratio fallback lets the local test prove
      // the wiring that real table stats would trigger at scale
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val q = ordered.join(broadcast(dim), "space")
      val n = q.count()
      assert(n == vanilla.where(col("space") === "s2").count() && n > 0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("RuntimeFilters: [dynamicpruning"),
        "expected a runtime pruning filter on the esdb scan:\n" + plan)
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
  }

  test("runtime filtering: a broadcast join on grouping prunes to the keys' hash buckets") {
    import org.apache.spark.sql.functions.broadcast
    // subpartitioned store: each grouping lives in ONE bucket dir, so a
    // join keyed on grouping should open only its keys' buckets
    val dir = java.nio.file.Files.createTempDirectory("dppbucket").toFile
    dir.delete()
    val ev = (1 to 400).map(i => ("s", s"g${i % 8}", i.toLong * 1000, i.toLong, i / 10.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir.getAbsolutePath, subparts = 8)
    val dimPath = java.nio.file.Files.createTempDirectory("dppbdim").toString + "/dim"
    Seq(("g3", "only"), ("zz", "other")).toDF("grouping", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "only")
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val store = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
      val q = store.join(broadcast(dim), "grouping")
      val (n, counting) = countPlanned(q)
      assert(n == 50, s"g3 holds 50 of 400 events, got $n")
      val pulled = rowsMerged(counting)
      // only g3's hash bucket should open: its resident groupings'
      // rows (collisions included), never the whole store — the
      // record-level grouping filter isn't claimed by runtime pruning,
      // so the bucket file's rows are all pulled and the join filters
      val bucketOfG3 = EsdbWriter.bucketOf("g3", 8)
      val expected = (0 until 8).count(g => EsdbWriter.bucketOf(s"g$g", 8) == bucketOfG3) * 50
      assert(pulled == expected && expected < 400,
        s"bucket pruning should read only g3's bucket ($expected rows), pulled $pulled")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("RuntimeFilters: [dynamicpruning"),
        "expected a runtime pruning filter on the esdb scan:\n" + plan)
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
  }

  test("hinted predicates: index equality skips via parquet filters without changing results") {
    val dir = java.nio.file.Files.createTempDirectory("ordhint").toFile
    dir.delete()
    val ev = (1 to 400).map(i => (s"s${i % 2}", s"g${i % 5}", i.toLong, i.toLong, i / 10.0,
      s"""{"k": ${i % 7}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir.getAbsolutePath, indexAttrs = Seq("k"))
    val o = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
    val v = EsdbWriter.read(spark, dir.getAbsolutePath)
    // string hint (idx_k), long hint (event_id), double hint (value)
    val ixO = EventStore.scanIndex(o, "s1", "k", "3").select("event_id").as[Long].collect().toSeq
    val ixV = EventStore.scanIndex(v, "s1", "k", "3").select("event_id").as[Long].collect().toSeq
    assert(ixO == ixV && ixO.nonEmpty)
    assert(o.where(col("event_id") === 123L).count() == 1)
    assert(o.where(col("value") === 20.0).collect().map(_.getAs[Long]("event_id")).toSeq == Seq(200L))
  }

  test("compaction: one sorted file set per space, identical reads, manifest intact") {
    val dir = java.nio.file.Files.createTempDirectory("ordcompact").toFile
    dir.delete()
    // the `extra` column is non-canonical: compaction must carry it through
    val mk = (r: Range) => r.map(i => (s"s${i % 2}", s"g${i % 3}", (i % 20).toLong, i.toLong,
      i / 2.0, s"""{"k": ${i % 4}}""", s"x$i"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "extra")
    EsdbWriter.write(mk(1 to 100), dir.getAbsolutePath, indexAttrs = Seq("k"))
    EsdbWriter.append(mk(101 to 200), dir.getAbsolutePath, indexAttrs = Seq("k"))
    EsdbWriter.append(mk(201 to 300), dir.getAbsolutePath, indexAttrs = Seq("k"))
    // compaction publishes a new versioned data root; physical-layout
    // assertions must follow the version pointer
    def root = graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, dir.getAbsolutePath)
    def filesOf(space: String) = new java.io.File(root, s"space=$space").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(filesOf("s0").length == 3)
    val before = EventStore.scan(EsdbWriter.readOrdered(spark, dir.getAbsolutePath), "s0", "g1")
      .select("event_id", "ts_us", "value", "payload").collect().toSeq
    val statsBefore = EsdbWriter.storeStats(spark, dir.getAbsolutePath).collect().toSeq
    EsdbWriter.compact(spark, dir.getAbsolutePath)
    assert(filesOf("s0").length == 1, "compaction must leave one file per space")
    val after = EventStore.scan(EsdbWriter.readOrdered(spark, dir.getAbsolutePath), "s0", "g1")
      .select("event_id", "ts_us", "value", "payload").collect().toSeq
    assert(after == before)
    assert(EsdbWriter.storeStats(spark, dir.getAbsolutePath).collect().toSeq == statsBefore)
    // manifest rebuilt and index scans still pushed through idx_k
    assert(graft.engine.EventStore.iterateGroupingsStored(spark, dir.getAbsolutePath, "s0")
      .contains(Seq("g0", "g1", "g2")))
    // the space enumeration follows the version pointer too
    assert(graft.engine.EventStore.iterateSpacesStored(spark, dir.getAbsolutePath)
      == Seq("s0", "s1"))
    val ix = EventStore.scanIndex(EsdbWriter.read(spark, dir.getAbsolutePath), "s0", "k", "2")
    assert(ix.count() > 0)
    // non-canonical columns survive compaction byte-for-byte
    val extras = spark.read.option("basePath", root).parquet(root)
      .select("event_id", "extra").as[(Long, String)].collect().toMap
    assert(extras.size == 300 && extras(42L) == "x42")
  }

  test("ts-bounded scan: exact rows, and the reader materializes fewer rows than the full grouping") {
    val bound = 30000L // fixture ts range is 0..49000
    def rowsReadDuring(q: DataFrame): (Seq[org.apache.spark.sql.Row], Long) = {
      val (rows, plan) = collectPlanned(q)
      (rows, rowsMerged(plan))
    }
    val (full, fullRead) = rowsReadDuring(
      EventStore.scan(ordered, "s1", "g3").select("event_id", "ts_us"))
    val (got, boundedRead) = rowsReadDuring(
      EventStore.scanSince(ordered, "s1", "g3", bound).select("event_id", "ts_us"))
    val expect = EventStore.scan(vanilla, "s1", "g3")
      .where(col("ts_us") >= bound).select("event_id", "ts_us").collect().toSeq
    assert(got == expect && got.nonEmpty)
    assert(got.size < full.size, "bound must select a proper subset")
    assert(boundedRead < fullRead,
      s"ts bound must cut rows materialized by the merge: bounded=$boundedRead full=$fullRead")
    // the plan carries no post-scan ts filter re-evaluation is NOT
    // asserted (Spark may keep one); what matters is no Sort + pushdown
    assert(!hasSortNode(executed(EventStore.scanSince(ordered, "s1", "g3", bound))))
  }

  test("ts bounds exclude null-ts rows exactly (upper-only, lower-only, both)") {
    val dir = java.nio.file.Files.createTempDirectory("ordnullts").toFile
    dir.delete()
    val rows: Seq[(String, String, Option[Long], Long, Double, String)] =
      (1 to 60).map { i =>
        val ts = if (i % 5 == 0) None else Some((i % 20).toLong * 100)
        ("s", s"g${i % 2}", ts, i.toLong, i / 10.0, s"""{"k": ${i % 3}}""")
      }
    rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      .createOrReplaceTempView("null_ts_src")
    EsdbWriter.write(spark.table("null_ts_src"), dir.getAbsolutePath)
    val o = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
    val v = EsdbWriter.read(spark, dir.getAbsolutePath)
    def ids(df: DataFrame, pred: org.apache.spark.sql.Column): Seq[Long] =
      df.where(pred).select("event_id").as[Long].collect().toSeq.sorted
    for (pred <- Seq(col("ts_us") <= 900L, col("ts_us") >= 900L,
                     col("ts_us") > 300L && col("ts_us") < 1500L,
                     col("ts_us") <= 900L && col("grouping") === "g1")) {
      assert(ids(o, pred) == ids(v, pred), s"mismatch under $pred")
      assert(ids(o, pred).nonEmpty)
    }
    // null-ts rows are still readable when no bound is active
    assert(o.where(col("ts_us").isNull).count() == v.where(col("ts_us").isNull).count())
    assert(o.where(col("ts_us").isNull).count() > 0)
  }

  test("all-numeric space values stay StringType through the DSv2 source") {
    val dir = java.nio.file.Files.createTempDirectory("ordnumspace").toFile
    dir.delete()
    val ev = (1 to 40).map(i => (s"${i % 2 + 1}", s"g${i % 3}", i.toLong, i.toLong, i / 4.0,
      s"""{"k": ${i % 3}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir.getAbsolutePath)
    val o = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
    assert(o.schema("space").dataType == org.apache.spark.sql.types.StringType)
    val got = EventStore.scan(o, "1", "g1")
      .select("event_id", "ts_us", "value", "payload").collect().toSeq
    val expect = ev.where(col("space") === "1" && col("grouping") === "g1")
      .orderBy(col("ts_us").desc, col("event_id")).select("event_id", "ts_us", "value", "payload")
      .collect().toSeq
    assert(got == expect && got.nonEmpty)
    // whole-store read round-trips every row (values compared as strings)
    assert(o.select("event_id").as[Long].collect().sorted.toSeq == (1L to 40L))
    // a user-supplied schema typing space as INT is coerced, not honored
    val userSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("space", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType)))
    val withUser = spark.read.format("esdb").schema(userSchema)
      .load(dir.getAbsolutePath)
    assert(withUser.schema("space").dataType == org.apache.spark.sql.types.StringType)
    assert(withUser.select("space").distinct().as[String].collect().sorted.toSeq == Seq("1", "2"))
  }

  test("listing economy: one filesystem listing per scan, shared by stats + planning + execution") {
    import graft.sources.EsdbScan
    val before = EsdbScan.ListingCount.get()
    assert(EventStore.scan(ordered, "s1", "g3").collect().nonEmpty)
    val delta = EsdbScan.ListingCount.get() - before
    assert(delta == 1,
      s"statistics estimation, planInputPartitions and execution must share ONE listing; saw $delta")
  }

  test("storeStats from footers equals the data-derived aggregate") {
    val fromFooters = graft.engine.EsdbWriter.storeStats(spark, storePath)
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
    val fromData = vanilla.groupBy("space")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("ts_us"), org.apache.spark.sql.functions.max("ts_us"))
      .orderBy("space")
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
    assert(fromFooters == fromData)
    assert(fromFooters.size == 3)
  }

  test("vectorized fast path: compacted single-file spaces decode columnar, filtered scans stay row-wise") {
    val dir = java.nio.file.Files.createTempDirectory("ordvec").toFile
    dir.delete()
    val mk = (r: Range) => r.map(i => (s"s${i % 2}", s"g${i % 5}", (i % 40).toLong * 10, i.toLong,
      i / 3.0, s"""{"k": ${i % 6}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(mk(1 to 300), dir.getAbsolutePath)
    EsdbWriter.append(mk(301 to 600), dir.getAbsolutePath)
    val multi = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
    // two files per space: the merge path, no columnar batches. Collect
    // the pre-compaction truth now — compaction publishes a new version
    // root and retires this one, so `multi` is a stale handle afterwards
    val (preCompact, prePlan) = collectPlanned(
      multi.select("space", "grouping", "ts_us", "event_id", "value", "payload")
        .as[(String, String, Long, Long, Double, String)])
    assert(readRowWise(prePlan), "multi-file spaces must take the row merge path")
    EsdbWriter.compact(spark, dir.getAbsolutePath)
    val o = EsdbWriter.readOrdered(spark, dir.getAbsolutePath)
    // whole-store scan: columnar, same rows, same order as pre-compaction
    val (postCompact, postPlan) = collectPlanned(
      o.select("space", "grouping", "ts_us", "event_id", "value", "payload")
        .as[(String, String, Long, Long, Double, String)])
    assert(readColumnar(postPlan), "single-file spaces must decode through the vectorized reader")
    assert(postCompact == preCompact)
    // space-pinned full iterate: still columnar (directory pruning is exact)
    val (spacePinned, spacePlan) = collectPlanned(
      EventStore.scanSpace(o, "s1").select("grouping", "ts_us", "event_id")
        .as[(String, Long, Long)])
    assert(readColumnar(spacePlan))
    assert(spacePinned == preCompact.filter(_._1 == "s1").map(r => (r._2, r._3, r._4)))
    assert(spacePinned.nonEmpty)
    // grouping-pinned scan claims a filter the vectorized decoder cannot
    // enforce — must stay on the row path and stay correct
    val (grpRows, grpPlan) = collectPlanned(
      EventStore.scan(o, "s1", "g2").select("event_id", "ts_us").as[(Long, Long)])
    assert(readRowWise(grpPlan), "claimed-filtered scans must not go columnar")
    assert(grpRows == preCompact.filter(r => r._1 == "s1" && r._2 == "g2").map(r => (r._4, r._3)))
    assert(grpRows.nonEmpty)
    // pushed limit truncates the batch stream
    val (limited, limPlan) = collectPlanned(o.limit(7))
    assert(readColumnar(limPlan) && limited.size == 7)
    // aggregate shapes (zero/one-column prunes) survive the columnar path
    assert(o.count() == 600L)
    assert(o.where(col("value") > 50.0).count() == preCompact.count(_._5 > 50.0))
    // a claimed ts bound covering every file's whole range is provably
    // vacuous — still columnar; a mid-range bound is not — row path
    val (vacuous, vacPlan) = countPlanned(
      o.where(col("ts_us") >= 0L)) // fixture ts range is 0..390
    assert(readColumnar(vacPlan), "file-wide ts bounds must stay vectorized")
    assert(vacuous == 600L)
    val (bounded, boundedPlan) = countPlanned(o.where(col("ts_us") >= 200L))
    assert(readRowWise(boundedPlan), "mid-range ts bounds must take the exact row path")
    assert(bounded == preCompact.count(_._3 >= 200L))
  }

  test("ts-range manifest prunes whole files from a bounded scan's listing") {
    import graft.sources.{EsdbInputPartition, EsdbScan, EsdbScanBuilder, EsdbStoreSource}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = java.nio.file.Files.createTempDirectory("ordtsmani").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    def mk(r: Range, base: Option[Long]) = r.map { i =>
      ("s", s"g${i % 3}", base.map(_ + (i % 50).toLong), i.toLong, 0.0, s"""{"k": ${i % 2}}""")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(mk(1 to 100, Some(0L)), path)           // ts 0..49
    EsdbWriter.append(mk(101 to 200, Some(100000L)), path)   // ts 100000..100049
    EsdbWriter.append(mk(201 to 260, None), path)            // all-null ts
    val mani = EsdbWriter.tsRangeManifest(spark.sparkContext.hadoopConfiguration,
      EsdbWriter.dataRoot(spark, path)).get
    assert(mani.length == 3, s"manifest must cover every data file: $mani")
    assert(mani.count(!_._2.hasTs) == 1)
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new EsdbScanBuilder(path, EsdbStoreSource.canonicalSchema(path))
      b.pushFilters(filters)
      b.build().asInstanceOf[EsdbScan].planInputPartitions()
        .map(_.asInstanceOf[EsdbInputPartition].files.length).sum
    }
    assert(plannedFiles(Array.empty) == 3, "unbounded scan must keep all files")
    // the bound admits only the late file: the early-range file AND the
    // all-null-ts file are pruned at listing time, no footers opened
    assert(plannedFiles(Array(GreaterThanOrEqual("ts_us", Long.box(100000L)))) == 1)
    // end-to-end parity under the bound, and null-ts rows readable unbounded
    val o = EsdbWriter.readOrdered(spark, path)
    val v = EsdbWriter.read(spark, path)
    def ids(df: DataFrame) = df.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids(o.where(col("ts_us") >= 100000L)) == ids(v.where(col("ts_us") >= 100000L)))
    assert(ids(o.where(col("ts_us") >= 100000L)).size == 100)
    assert(o.count() == 260 && v.count() == 260)
    // a bound no file satisfies plans an empty scan, not an error
    assert(o.where(col("ts_us") > 999999999L).count() == 0)
  }

  test("hot-space subpartitioning: bucketed layout, pruned grouping scans, parity") {
    import graft.sources.{EsdbInputPartition, EsdbScan, EsdbScanBuilder, EsdbStoreSource}
    import org.apache.spark.sql.sources.EqualTo
    val dir = java.nio.file.Files.createTempDirectory("ordbucket").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val mk = (r: Range) => r.map(i => ("hot", s"g${i % 20}", (i % 40).toLong * 10, i.toLong,
      i / 3.0, s"""{"k": ${i % 5}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(mk(1 to 400), path, subparts = 4)
    EsdbWriter.append(mk(401 to 600), path)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(EsdbWriter.subpartsOf(conf, path) == 4)
    // layout: bucket subdirs under the space, no direct files
    val spaceDir = new java.io.File(path, "space=hot")
    val bucketDirs = spaceDir.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(bucketDirs.nonEmpty && bucketDirs.forall(b => b.drop(7).toInt < 4))
    // the DSv2 schema never exposes the bucket implementation column
    val o = EsdbWriter.readOrdered(spark, path)
    assert(!o.columns.contains("bucket"))
    // grouping-pinned scan reads ONLY the grouping's bucket
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Seq[String] = {
      val b = new EsdbScanBuilder(path, EsdbStoreSource.canonicalSchema(path))
      b.pushFilters(filters)
      b.build().asInstanceOf[EsdbScan].planInputPartitions()
        .flatMap(_.asInstanceOf[EsdbInputPartition].files).toSeq
    }
    val allFiles = plannedFiles(Array.empty)
    val g7Bucket = EsdbWriter.bucketOf("g7", 4)
    val pinned = plannedFiles(Array(EqualTo("grouping", "g7")))
    assert(pinned.nonEmpty && pinned.size < allFiles.size)
    assert(pinned.forall(_.contains(s"bucket=$g7Bucket/")),
      s"pinned scan must read only bucket=$g7Bucket: $pinned")
    // parity + order: bucketed ordered scan == vanilla re-sorted scan
    val v = EsdbWriter.read(spark, path)
    val gotScan = EventStore.scan(o, "hot", "g7")
      .select("event_id", "ts_us", "value").collect().toSeq
    val expScan = EventStore.scan(v, "hot", "g7")
      .select("event_id", "ts_us", "value").collect().toSeq
    assert(gotScan == expScan && gotScan.nonEmpty)
    // whole-space iterate merges across buckets in (grouping, ts, id) order
    val gotSpace = EventStore.scanSpace(o, "hot")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq
    val expSpace = EventStore.scanSpace(v, "hot")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq
    assert(gotSpace == expSpace && gotSpace.size == 600)
    // compaction preserves the bucketing and every row
    EsdbWriter.compact(spark, path)
    assert(EsdbWriter.subpartsOf(conf,
      graft.engine.Publish.resolve(conf, path)) == 4)
    val afterCompact = EsdbWriter.readOrdered(spark, path)
    assert(EventStore.scanSpace(afterCompact, "hot")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq == expSpace)
    // index scans and storeStats still work over the bucketed layout
    assert(EsdbWriter.storeStats(spark, path)
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq ==
      Seq(("hot", 600L, Some(0L), Some(390L))))
  }

  test("a foreign file missing a claimed-filter column fails loudly, never silently filters") {
    val dir = java.nio.file.Files.createTempDirectory("ordforeign").toFile
    dir.delete()
    val ev = (1 to 40).map(i => ("s", s"g${i % 2}", i.toLong, i.toLong, 0.0, s"""{"k": ${i % 3}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir.getAbsolutePath)
    // drop a parquet WITHOUT grouping/ts_us into the space dir — not
    // engine-written, so any scan claiming those filters must throw
    // naming the file rather than return rows the claimed (and
    // planner-trusted) predicate never saw
    val root = graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, dir.getAbsolutePath)
    val stage = java.nio.file.Files.createTempDirectory("foreignsrc").toString
    Seq((999L, 9.9)).toDF("event_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val target = new java.io.File(s"$root/space=s/zzz-foreign.parquet")
    java.nio.file.Files.copy(part.toPath, target.toPath)
    val e1 = intercept[org.apache.spark.SparkException] {
      EventStore.scan(EsdbWriter.readOrdered(spark, dir.getAbsolutePath), "s", "g1").collect()
    }
    assert(e1.getMessage.contains("zzz-foreign.parquet") ||
      Option(e1.getCause).exists(_.getMessage.contains("zzz-foreign.parquet")), e1.getMessage)
    val e2 = intercept[org.apache.spark.SparkException] {
      graft.engine.EventStore.scanSince(
        EsdbWriter.readOrdered(spark, dir.getAbsolutePath), "s", "g1", 5L).collect()
    }
    assert(e2.getMessage.contains("foreign") ||
      Option(e2.getCause).exists(_.getMessage.contains("foreign")), e2.getMessage)
    // an unfiltered scan has claimed nothing, so it still reads (the
    // foreign rows surface with null grouping — visible, not hidden)
    assert(EsdbWriter.readOrdered(spark, dir.getAbsolutePath).count() == 41)
  }

  test("sealed-store sidecar directories are invisible to the ordered source") {
    val dir = java.nio.file.Files.createTempDirectory("ordseal").toFile
    dir.delete()
    val ev = (1 to 40).map(i => ("s", s"g${i % 2}", i.toLong, i.toLong, 0.0, s"""{"k": ${i % 3}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(ev, dir.getAbsolutePath)
    EsdbWriter.seal(spark, dir.getAbsolutePath, "k")
    assert(EsdbWriter.readOrdered(spark, dir.getAbsolutePath).count() == 40)
  }

  /** r13 layout evolution: a full compaction may change a store's
    * subpartition count — the rewrite re-hashes every row anyway — so a
    * store created small is not stuck with its creation-time write
    * parallelism and pruning granularity.
    */
  test("layout evolution: compact re-buckets to a new subparts count; pruning follows") {
    import graft.sources.{EsdbInputPartition, EsdbScan, EsdbScanBuilder, EsdbStoreSource}
    import org.apache.spark.sql.sources.EqualTo
    val dir = java.nio.file.Files.createTempDirectory("ordrebucket").toFile
    dir.delete()
    val path = dir.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    val mk = (r: Range) => r.map(i => ("hot", s"g${i % 20}", (i % 40).toLong * 10, i.toLong,
      i / 3.0, s"""{"k": ${i % 5}}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    // created flat — the "store that outgrew its layout" starting point
    EsdbWriter.write(mk(1 to 300), path)
    EsdbWriter.append(mk(301 to 400), path)
    assert(EsdbWriter.subpartsOf(conf, path) == 1)
    val expSpace = EventStore.scanSpace(EsdbWriter.read(spark, path), "hot")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq

    EsdbWriter.compact(spark, path, keepVersions = 2, subparts = Some(8))
    val v1 = graft.engine.Publish.resolve(conf, path)
    assert(EsdbWriter.subpartsOf(conf, v1) == 8, "_SUBPARTS must be rewritten")
    // layout: bucket dirs of the NEW count
    val buckets = new java.io.File(v1, "space=hot").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.nonEmpty && buckets.forall(_.drop(7).toInt < 8), buckets.mkString(","))
    // grouping-pinned reads prune to the NEW 1/8
    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Seq[String] = {
      val b = new EsdbScanBuilder(v1, EsdbStoreSource.canonicalSchema(v1))
      b.pushFilters(filters)
      b.build().asInstanceOf[EsdbScan].planInputPartitions()
        .flatMap(_.asInstanceOf[EsdbInputPartition].files).toSeq
    }
    val g7b = EsdbWriter.bucketOf("g7", 8)
    val pinned = plannedFiles(Array(EqualTo("grouping", "g7")))
    assert(pinned.nonEmpty && pinned.forall(_.contains(s"bucket=$g7b/")),
      s"pinned scan must read only the new bucket=$g7b: $pinned")
    assert(pinned.size < plannedFiles(Array.empty).size)
    // content + order parity across the re-bucket
    val after = EventStore.scanSpace(EsdbWriter.readOrdered(spark, path), "hot")
      .select("grouping", "ts_us", "event_id").as[(String, Long, Long)].collect().toSeq
    assert(after == expSpace)
    // appends AFTER the re-bucket hash into the new bucket space
    EsdbWriter.append(mk(401 to 440), path)
    val gotScan = EventStore.scan(EsdbWriter.readOrdered(spark, path), "hot", "g7")
      .select("event_id").as[Long].collect().toSet
    assert(gotScan == (1 to 440).filter(_ % 20 == 7).map(_.toLong).toSet)
    // merge (keyed upsert) against the re-bucketed layout stays exact
    EsdbWriter.mergeInto(spark, path,
      mk(441 to 444), keys = Seq("event_id"), keepVersions = 2): Unit
    assert(EsdbWriter.read(spark, path).count() == 444)
    // ...and compacting back DOWN flattens the layout (marker gone = 1)
    EsdbWriter.compact(spark, path, keepVersions = 2, subparts = Some(1))
    val v3 = graft.engine.Publish.resolve(conf, path)
    assert(EsdbWriter.subpartsOf(conf, v3) == 1)
    assert(!new java.io.File(v3, "space=hot").listFiles()
      .exists(d => d.isDirectory && d.getName.startsWith("bucket=")))
    assert(EsdbWriter.read(spark, path).count() == 444)
  }
}
