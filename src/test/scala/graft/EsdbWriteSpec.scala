package graft

import org.apache.spark.sql.DataFrame

import graft.engine.{EsdbWriter, EventStore, Publish}

/** The DSv2 write bridge: `df.write.format("esdb").mode("append")` and
  * SQL `INSERT INTO` through the catalog land as engine appends —
  * same layout invariants as [[EsdbWriter.append]], because they ARE
  * [[EsdbWriter.append]] (V1Write bridge, one copy of the contract).
  */
class EsdbWriteSpec extends SparkSpec {
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

  private def hasSortNode(plan: String): Boolean =
    """(?m)^\W*\*?\(?\d*\)?\s*Sort """.r.findFirstIn(plan).isDefined ||
      plan.contains(") Sort [") || plan.contains("+- Sort [")

  test("DataFrame append mode lands through the engine writer: visible and still Sort-free") {
    val path = freshDir("dsvwrite")
    EsdbWriter.write(ev(1 to 100), path)

    ev(101 to 200).write.format("esdb").mode("append").save(path)

    val ordered = EsdbWriter.readOrdered(spark, path)
    assert(ordered.count() == 200)
    // the appended rows merge into the layout order — the ordered scan
    // contract survives a DSv2-path append with no Sort node
    val q = EventStore.scan(ordered, "s1", "g3")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!hasSortNode(plan), "append must preserve the sorted layout:\n" + plan)
    val got = q.select("event_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (1 to 200)
      .filter(i => i % 3 == 1 && i % 7 == 3)
      .map(i => (i.toLong, (i % 50).toLong * 1000))
      .sortBy { case (id, ts) => (-ts, id) }
    assert(got.toSeq == want)
  }

  test("INSERT INTO through the catalog appends to the live store and recomputes idx columns") {
    val root = freshDir("dsvwritecat")
    val conf = spark.sparkContext.hadoopConfiguration
    Publish.publish(conf, s"$root/orders") { tmp =>
      EsdbWriter.write(ev(1 to 60), tmp, indexAttrs = Seq("k"))
    }
    val cat = "esdbwtest"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)

    // supply a WRONG idx_k on purpose: the write path derives idx_* from
    // the payload, so an INSERT can't desynchronize an index
    spark.sql(
      s"""INSERT INTO $cat.orders
         |VALUES ('s1', 'g3', 99000, 9001, 1.5, '{"k": 7}', 'WRONG')""".stripMargin)

    val row = spark.sql(
      s"SELECT idx_k, value FROM $cat.orders WHERE event_id = 9001").collect()
    assert(row.length == 1)
    assert(row(0).getString(0) == "7", "idx_k must be recomputed from payload")
    assert(row(0).getDouble(1) == 1.5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0) == 61)
  }

  test("log-layout append mode keeps global event_id order") {
    val path = freshDir("dsvwritelog")
    EsdbWriter.writeLog(ev(1 to 80), path)

    ev(81 to 120).write.format("esdblog").mode("append").save(path)

    val q = graft.engine.EventLog.iterate(EsdbWriter.readLog(spark, path))
    val ids = q.select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 120L))
  }

  test("version-pinned bindings and overwrite mode are refused") {
    val root = freshDir("dsvwritepin")
    val conf = spark.sparkContext.hadoopConfiguration
    Publish.publish(conf, s"$root/t", keepVersions = 2) { tmp => EsdbWriter.write(ev(1 to 30), tmp) }
    Publish.publish(conf, s"$root/t", keepVersions = 2) { tmp => EsdbWriter.write(ev(1 to 50), tmp) }

    // a version-pinned table binding advertises no write capability
    intercept[Exception] {
      ev(51 to 60).write.format("esdb")
        .option("version", "1").mode("append").save(s"$root/t")
    }
    // overwrite would bypass the versioned-publish snapshot contract
    intercept[Exception] {
      ev(51 to 60).write.format("esdb").mode("overwrite").save(s"$root/t")
    }
    // neither refused path may have mutated the store
    assert(EsdbWriter.read(spark, s"$root/t").count() == 50)
  }

  private def freshCatalog(prefix: String): (String, String) = {
    val root = freshDir(prefix)
    val cat = prefix.filter(_.isLetter)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("CREATE TABLE AS SELECT creates an indexed store; bare CREATE TABLE stays rejected") {
    val (cat, _) = freshCatalog("ctasbase")
    ev(1 to 90).createOrReplaceTempView("ctas_src")

    spark.sql(
      s"CREATE TABLE $cat.docs TBLPROPERTIES ('indexAttrs'='k') AS SELECT * FROM ctas_src")

    assert(spark.sql(s"SELECT count(*) FROM $cat.docs").head().getLong(0) == 90)
    // the writer materialized the index column from the payload
    val k = spark.sql(s"SELECT idx_k FROM $cat.docs WHERE event_id = 13").head().getString(0)
    assert(k == (13 % 9).toString)
    // a bare CREATE TABLE cannot establish the layout invariants
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bare (space STRING, grouping STRING, " +
        "ts_us BIGINT, event_id BIGINT)")
    }
    assert(e.getMessage.contains("AS"), e.getMessage)
  }

  test("REPLACE TABLE AS SELECT is a versioned publish: pinned readers keep the old snapshot") {
    val (cat, _) = freshCatalog("ctasrepl")
    ev(1 to 40).createOrReplaceTempView("rtas_v1")
    ev(1 to 70).createOrReplaceTempView("rtas_v2")
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ('keepVersions'='2') AS SELECT * FROM rtas_v1")

    spark.sql(s"REPLACE TABLE $cat.t TBLPROPERTIES ('keepVersions'='2') AS SELECT * FROM rtas_v2")

    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 70)
    // time travel still serves the replaced snapshot inside the window
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1").head().getLong(0) == 40)
    // replacing a missing table is an error (REPLACE ≠ CREATE)
    intercept[Exception] { spark.sql(s"REPLACE TABLE $cat.missing AS SELECT * FROM rtas_v1") }
  }

  test("CTAS layout=log creates a log store: global id order, no Sort") {
    val (cat, root) = freshCatalog("ctaslog")
    ev(1 to 50).createOrReplaceTempView("ctas_log_src")
    spark.sql(
      s"CREATE TABLE $cat.stream TBLPROPERTIES ('layout'='log') AS SELECT * FROM ctas_log_src")

    val ids = graft.engine.EventLog.iterate(EsdbWriter.readLog(spark, s"$root/stream"))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 50L))
  }

  test("CTAS fails fast on a missing or mistyped canonical column") {
    val (cat, _) = freshCatalog("ctasbad")
    // ts_us as INT: refuse before any data moves, with cast guidance
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.bad AS SELECT 's' AS space, 'g' AS grouping,
           |CAST(1 AS INT) AS ts_us, CAST(1 AS BIGINT) AS event_id""".stripMargin)
    }
    assert(e.getMessage.contains("cast"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad2 AS SELECT 's' AS space")
    }
    assert(e2.getMessage.contains("canonical"), e2.getMessage)
  }

  test("native writeStream sink: epochs commit exactly-once, merge order stays global") {
    val path = freshDir("dsvsink")
    EsdbWriter.writeLog(ev(1 to 30), path)

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Long, Long, Double, String)]
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    def rows(ids: Range) = ids.map(i => (s"s${i % 3}", s"g${i % 7}",
      (i % 50).toLong * 1000, i.toLong, i / 10.0, s"""{"k": ${i % 9}}"""))
    val ckpt = freshDir("dsvsink-ckpt")

    // REVERSED input: the sink's RequiresDistributionAndOrdering must
    // sort the micro-batch before the writers see it, or the written
    // file violates the log reader's sorted-file invariant and the
    // global iterate order below breaks
    mem.addData(rows(31 to 60).reverse: _*)
    val q = src.writeStream.format("esdblog").option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // resumed query with the same checkpoint: epoch ids continue
    mem.addData(rows(61 to 90): _*)
    val q2 = src.writeStream.format("esdblog").option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)

    val ids = graft.engine.EventLog.iterate(EsdbWriter.readLog(spark, path))
      .select("event_id").collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 90L))
    // the sink's files carry the LogCommits naming + marker protocol
    val root = new java.io.File(path)
    val streamFiles = root.listFiles().filter(_.getName.startsWith("stream-"))
    assert(streamFiles.nonEmpty)
    assert(new java.io.File(root, "_STREAM_COMMITS").listFiles()
      .count(_.getName.endsWith(".commit")) >= 2)
  }

  test("a replayed committed epoch's stragglers are swept, never double-read") {
    val path = freshDir("dsvsinkreplay")
    EsdbWriter.writeLog(ev(1 to 20), path)
    graft.engine.EsdbWriter.appendLogBatch(ev(21 to 40), path, epochId = 7L)
    val before = graft.engine.EventLog.iterate(EsdbWriter.readLog(spark, path)).count()

    // simulate a replay of committed epoch 7 that got as far as writing
    // a duplicate file before commit ran
    val dup = new java.io.File(path, "stream-7-p00001-deadbeef.parquet")
    ev(21 to 40).coalesce(1).write.parquet(dup.getAbsolutePath + ".tmpdir")
    val part = new java.io.File(dup.getAbsolutePath + ".tmpdir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dup.toPath)

    graft.engine.EsdbWriter.commitStreamEpoch(spark, path, 7L, Seq(dup.getName))

    assert(!dup.exists(), "duplicate replay file must be deleted on commit")
    val after = graft.engine.EventLog.iterate(EsdbWriter.readLog(spark, path)).count()
    assert(after == before)
  }

  test("the native sink refuses a sealed stream") {
    val path = freshDir("dsvsinkseal")
    EsdbWriter.writeLog(ev(1 to 10), path)
    EsdbWriter.seal(spark, path, "k")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Long, Long, Double, String)]
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    mem.addData(("s1", "g1", 1000L, 11L, 1.1, "{}"))
    val q = src.writeStream.format("esdblog").option("path", path)
      .option("checkpointLocation", freshDir("dsvsinkseal-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert(e.getMessage.contains("closed") ||
      Option(e.getCause).exists(_.getMessage.contains("closed")), e.getMessage)
  }

  // ---- the native STORE-layout streaming sink (writeStream.format("esdb")) ----

  private def memStream() = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[(String, String, Long, Long, Double, String, String)]
  }
  private def storeRows(ids: Range) = ids.map(i => (s"s${i % 3}", s"g${i % 7}",
    (i % 50).toLong * 1000, i.toLong, i / 10.0, s"""{"k": ${i % 9}}""", "WRONG"))

  test("native store writeStream sink: exactly-once epochs, Sort-free order, idx recomputed") {
    val path = freshDir("storesink")
    EsdbWriter.write(ev(1 to 30), path, indexAttrs = Seq("k"))

    val mem = memStream()
    // idx_k arrives WRONG on purpose: the sink must recompute it from
    // the payload, like the batch INSERT path does
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "idx_k")
    val ckpt = freshDir("storesink-ckpt")

    // REVERSED input: RequiresDistributionAndOrdering must sort the
    // micro-batch (space, grouping, ts desc, id) before writers see it
    mem.addData(storeRows(31 to 60).reverse: _*)
    val q = src.writeStream.format("esdb").option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))

    // resumed query with the same checkpoint: epoch ids continue
    mem.addData(storeRows(61 to 90): _*)
    val q2 = src.writeStream.format("esdb").option("path", path)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000))

    val ordered = EsdbWriter.readOrdered(spark, path)
    assert(ordered.count() == 90)
    val scan = EventStore.scan(ordered, "s1", "g3")
    val plan = scan.queryExecution.executedPlan.toString
    assert(!hasSortNode(plan), "streamed files must keep the sorted layout:\n" + plan)
    val got = scan.select("event_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (1 to 90).filter(i => i % 3 == 1 && i % 7 == 3)
      .map(i => (i.toLong, (i % 50).toLong * 1000))
      .sortBy { case (id, ts) => (-ts, id) }
    assert(got.toSeq == want)
    // idx_k recomputed from payload, never trusted from the stream
    val idx = ordered.where($"event_id" === 42L).select("idx_k").head().getString(0)
    assert(idx == (42 % 9).toString, s"idx_k must be recomputed, got $idx")
    // dot-staged names are gone; the epoch markers landed
    val spaceDirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("space="))
    assert(spaceDirs.nonEmpty)
    // no dot-staged data files remain (local-FS .crc sidecars are fine)
    assert(spaceDirs.flatMap(_.listFiles())
      .forall(f => !f.getName.startsWith(".stream-") || f.getName.endsWith(".crc")))
    assert(spaceDirs.flatMap(_.listFiles()).exists(_.getName.startsWith("stream-")))
    assert(new java.io.File(path, "_STREAM_COMMITS").listFiles()
      .count(_.getName.endsWith(".commit")) >= 2)
    // the groupings manifest extended by the batch deltas
    val pairs = EsdbWriter.manifestGroupings(spark, path).get.size
    assert(pairs == 21, s"3 spaces x 7 groupings, got $pairs")
  }

  test("store sink replay of a committed epoch sweeps staged duplicates, keeps the original") {
    val path = freshDir("storesinkreplay")
    EsdbWriter.write(ev(1 to 30), path)

    val mem = memStream()
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "idx_k")
      .drop("idx_k")
    mem.addData(storeRows(31 to 50): _*)
    val q = src.writeStream.format("esdb").option("path", path)
      .option("checkpointLocation", freshDir("storesinkreplay-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val before = EsdbWriter.readOrdered(spark, path).count()

    // a replay of committed epoch 0 that crashed between staging and
    // commit: its dot-staged duplicate must be swept by the re-commit
    val spaceDir = new java.io.File(path, "space=s1")
    val dup = new java.io.File(spaceDir, ".stream-0-p00009-deadbeef.parquet")
    val tmp = new java.io.File(freshDir("storesinkreplay-dup"), "d.parquet")
    ev(31 to 40).where($"space" === "s1").drop("space").coalesce(1)
      .write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dup.toPath)

    EsdbWriter.commitStoreEpoch(spark, path, 0L, staged = Nil, pairs = Nil,
      batchSchema = ev(1 to 1).schema)

    assert(!dup.exists(), "replay duplicate must be swept on re-commit")
    assert(EsdbWriter.readOrdered(spark, path).count() == before)
  }

  test("store sink commit finalizes this attempt and sweeps a crashed attempt's stragglers") {
    val path = freshDir("storesinkcrash")
    EsdbWriter.write(ev(1 to 30), path)
    val spaceDir = new java.io.File(path, "space=s2")

    // a crashed FIRST attempt of epoch 5 left an invisible staged file
    val straggler = new java.io.File(spaceDir, ".stream-5-p00001-cafe0000.parquet")
    val tmp = new java.io.File(freshDir("storesinkcrash-tmp"), "d.parquet")
    ev(101 to 110).where($"space" === "s2").drop("space").coalesce(1)
      .write.parquet(tmp.getAbsolutePath)
    java.nio.file.Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, straggler.toPath)

    // the retry's attempt staged its own file; commit finalizes it
    val retry = new java.io.File(spaceDir, ".stream-5-p00002-beef0000.parquet")
    val tmp2 = new java.io.File(freshDir("storesinkcrash-tmp2"), "d.parquet")
    ev(101 to 110).where($"space" === "s2").drop("space").coalesce(1)
      .write.parquet(tmp2.getAbsolutePath)
    java.nio.file.Files.move(
      tmp2.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, retry.toPath)

    EsdbWriter.commitStoreEpoch(spark, path, 5L,
      staged = Seq("space=s2/" + retry.getName),
      pairs = (101 to 110).filter(_ % 3 == 2).map(i => ("s2", s"g${i % 7}")).distinct,
      batchSchema = ev(1 to 1).schema)

    assert(!straggler.exists(), "crashed attempt's straggler must be swept")
    assert(!retry.exists() && new java.io.File(spaceDir, retry.getName.stripPrefix(".")).exists(),
      "the committing attempt's file must be finalized (dot-stripped)")
    val n = (101 to 110).count(_ % 3 == 2)
    assert(EsdbWriter.readOrdered(spark, path).count() == 30 + n)
  }

  test("the store sink refuses a sealed store") {
    val sealedPath = freshDir("storesinkseal")
    EsdbWriter.write(ev(1 to 10), sealedPath)
    EsdbWriter.seal(spark, sealedPath, "k")
    val mem = memStream()
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "idx_k")
      .drop("idx_k")
    mem.addData(storeRows(11 to 12): _*)
    val q = src.writeStream.format("esdb").option("path", sealedPath)
      .option("checkpointLocation", freshDir("storesinkseal-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert(e.getMessage.contains("closed") ||
      Option(e.getCause).exists(_.getMessage.contains("closed")), e.getMessage)
  }

  test("the store sink streams into a SUBPARTITIONED store: bucket routing + pruning hold") {
    val subPath = freshDir("storesinksub")
    EsdbWriter.write(ev(1 to 40), subPath, subparts = 2)
    val mem = memStream()
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "idx_k")
      .drop("idx_k")
    mem.addData(storeRows(41 to 120): _*)
    val q = src.writeStream.format("esdb").option("path", subPath)
      .option("checkpointLocation", freshDir("storesinksub-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))

    val all = EsdbWriter.readOrdered(spark, subPath)
    assert(all.count() == 120)
    // streamed files landed in the grouping-hash bucket dirs, finalized
    val spaceDirs = new java.io.File(subPath).listFiles()
      .filter(_.getName.startsWith("space="))
    val bucketFiles = spaceDirs.flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap(_.listFiles()).map(_.getName)
    assert(bucketFiles.exists(_.startsWith("stream-")), "epoch files must be in bucket dirs")
    assert(!bucketFiles.exists(n => n.startsWith(".stream-") && !n.endsWith(".crc")))
    // every grouping's rows live in its ONE hash bucket: the pinned scan
    // (which prunes to that bucket) must see the full history
    val scan = EventStore.scan(all, "s1", "g3")
    val got = scan.select("event_id").collect().map(_.getLong(0)).toSet
    val want = (1 to 120).filter(i => i % 3 == 1 && i % 7 == 3).map(_.toLong).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    val plan = scan.queryExecution.executedPlan.toString
    assert(!hasSortNode(plan), "bucketed streamed files must keep the sorted layout:\n" + plan)
  }

  test("store sink follows a mid-stream re-bucket: later epochs hash into the NEW bucket space") {
    val path = freshDir("storesinkrebucket")
    EsdbWriter.write(ev(1 to 40), path, subparts = 2)
    val mem = memStream()
    val src = mem.toDF.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "idx_k")
      .drop("idx_k")
    val q = src.writeStream.format("esdb").option("path", path)
      .option("checkpointLocation", freshDir("storesinkrebucket-ckpt"))
      .start() // continuous micro-batches: the ONE long-lived writer
    val conf = spark.sparkContext.hadoopConfiguration
    val v = try {
      mem.addData(storeRows(41 to 80): _*)
      q.processAllAvailable()
      // layout evolution lands between epochs, while the query is live
      EsdbWriter.compact(spark, path, keepVersions = 2, subparts = Some(4))
      val v = graft.engine.Publish.resolve(conf, path)
      assert(EsdbWriter.subpartsOf(conf, v) == 4)
      mem.addData(storeRows(81 to 140): _*)
      q.processAllAvailable()
      v
    } finally q.stop()
    // the post-compact epoch's files are in NEW-count bucket dirs (the
    // sink reads the count per task from the version it writes into,
    // not from query start)
    val streamed = new java.io.File(v).listFiles().filter(_.getName.startsWith("space="))
      .flatMap(_.listFiles()).filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.startsWith("stream-")).map(_ => d.getName))
    assert(streamed.nonEmpty && streamed.forall(_.drop(7).toInt < 4), streamed.mkString(","))
    // pinned scans (pruned to the NEW buckets) see the whole history:
    // pre-stream, pre-compact epoch, and post-compact epoch rows
    val all = EsdbWriter.readOrdered(spark, path)
    assert(all.count() == 140)
    val got = EventStore.scan(all, "s1", "g3")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = (1 to 140).filter(i => i % 3 == 1 && i % 7 == 3).map(_.toLong).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("subpartitioned epoch markers record full space=/bucket= paths; replay sweeps in buckets") {
    val path = freshDir("storesinksubmark")
    EsdbWriter.write(ev(1 to 40), path, subparts = 2)
    // stage an epoch-9 file inside a bucket dir, as the subpartitioned sink does
    val bucketDir = new java.io.File(path, "space=s1").listFiles()
      .find(d => d.isDirectory && d.getName.startsWith("bucket=")).get
    val staged = new java.io.File(bucketDir, ".stream-9-p00001-aa000000.parquet")
    val tmp = new java.io.File(freshDir("subm-tmp"), "d.parquet")
    ev(201 to 210).where($"space" === "s1").drop("space").coalesce(1)
      .write.parquet(tmp.getAbsolutePath)
    java.nio.file.Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath, staged.toPath)

    EsdbWriter.commitStoreEpoch(spark, path, 9L,
      staged = Seq(s"space=s1/${bucketDir.getName}/${staged.getName}"),
      pairs = Nil, batchSchema = ev(1 to 1).schema)

    val fin = new java.io.File(bucketDir, staged.getName.stripPrefix("."))
    assert(!staged.exists() && fin.exists(), "staged file must finalize in its bucket dir")
    // the marker must record the FULL relative path — dropping the
    // space= segment would break the replay sweep and failure cleanup
    val lines = new java.io.File(path, "_STREAM_COMMITS").listFiles()
      .filter(_.getName == "9.commit")
      .flatMap { m =>
        val s = scala.io.Source.fromFile(m); try s.getLines().toList finally s.close()
      }.filter(_.nonEmpty)
    assert(lines.nonEmpty)
    lines.foreach { n =>
      assert(n.startsWith("space=s1/bucket="), s"marker must keep the full relative path, got $n")
      assert(new java.io.File(path, n).isFile, s"marker path $n must resolve to a real file")
    }
    // replay of the committed epoch: its bucket-dir duplicate is swept
    val dup = new java.io.File(bucketDir, ".stream-9-p00002-bb000000.parquet")
    java.nio.file.Files.copy(fin.toPath, dup.toPath)
    val before = EsdbWriter.readOrdered(spark, path).count()
    EsdbWriter.commitStoreEpoch(spark, path, 9L, staged = Nil, pairs = Nil,
      batchSchema = ev(1 to 1).schema)
    assert(!dup.exists(), "replay duplicate in the bucket dir must be swept")
    assert(EsdbWriter.readOrdered(spark, path).count() == before)
  }

  test("store-layout rewrites carry _STREAM_COMMITS: a replayed epoch stays a no-op after MERGE/compact") {
    val path = freshDir("storemarkcarry")
    EsdbWriter.write(ev(1 to 30), path)
    // epoch 0 committed through the sink protocol; the staged file is a
    // byte-copy of an engine-written file so every reader accepts it
    val spaceDir = new java.io.File(path, "space=s1")
    val donor = spaceDir.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val st = new java.io.File(spaceDir, ".stream-0-p00001-cc000000.parquet")
    java.nio.file.Files.copy(donor.toPath, st.toPath)
    EsdbWriter.commitStoreEpoch(spark, path, 0L, staged = Seq("space=s1/" + st.getName),
      pairs = Nil, batchSchema = ev(1 to 1).schema)
    def markers: Set[String] = {
      val d = new java.io.File(EsdbWriter.dataRoot(spark, path), "_STREAM_COMMITS")
      if (d.isDirectory) d.listFiles().map(_.getName).filter(_.endsWith(".commit")).toSet
      else Set.empty
    }
    assert(markers.contains("0.commit"))

    EsdbWriter.mergeInto(spark, path, ev(5 to 8), Seq("event_id"))
    assert(markers.contains("0.commit"), "mergeInto dropped the epoch marker")
    EsdbWriter.compact(spark, path)
    assert(markers.contains("0.commit"), "compact dropped the epoch marker")

    // the replay of epoch 0 against the rewritten store must be a no-op
    val root = new java.io.File(EsdbWriter.dataRoot(spark, path))
    val curSpace = new java.io.File(root, "space=s1")
    val donor2 = curSpace.listFiles().find(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).get
    val dup = new java.io.File(curSpace, ".stream-0-p00009-dd000000.parquet")
    java.nio.file.Files.copy(donor2.toPath, dup.toPath)
    val before = EsdbWriter.readOrdered(spark, path).count()
    EsdbWriter.commitStoreEpoch(spark, path, 0L, staged = Nil, pairs = Nil,
      batchSchema = ev(1 to 1).schema)
    assert(!dup.exists(), "replayed epoch must sweep its duplicate, not re-append")
    assert(EsdbWriter.readOrdered(spark, path).count() == before)
  }

  test("appends to a sealed stream are refused through the DSv2 path too") {
    val path = freshDir("dsvwriteseal")
    EsdbWriter.writeLog(ev(1 to 40), path)
    EsdbWriter.seal(spark, path, "k")
    val e = intercept[Exception] {
      ev(41 to 50).write.format("esdblog").mode("append").save(path)
    }
    assert(e.getMessage.contains("closed"), e.getMessage)
  }
}
