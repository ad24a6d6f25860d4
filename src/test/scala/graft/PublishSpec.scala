package graft

import java.nio.file.Files

import graft.engine.{EsdbWriter, EventStore, Publish}

/** Version-pointer publish protocol ([[graft.engine.Publish]]): the
  * commit point is a single pointer object, so readers never observe a
  * partially-written store — the property S3-class stores cannot get
  * from directory renames. Crash injection = performing every step up
  * to (but not including) the pointer write, then reading.
  */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String = {
    val d = Files.createTempDirectory("pub").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def ev(ids: Range) = ids.map(i => (s"s${i % 2}", "g", i.toLong, i.toLong, 0.0, "{}"))
    .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("legacy direct-layout store resolves to itself") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    assert(Publish.resolve(hconf, dir) == dir)
    assert(EsdbWriter.read(spark, dir).count() == 10)
  }

  test("compact commits a new version; content round-trips; old data retired") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.append(ev(11 to 20), dir)
    EsdbWriter.compact(spark, dir)
    val v1 = Publish.resolve(hconf, dir)
    assert(v1 != dir && v1.contains(Publish.VersionsDir))
    assert(EsdbWriter.read(spark, dir).count() == 20)
    // legacy space= dirs are gone from the root after the commit
    assert(!new java.io.File(dir).listFiles.exists(_.getName.startsWith("space=")))
    // second compact bumps the version and retires the first
    EsdbWriter.compact(spark, dir)
    val v2 = Publish.resolve(hconf, dir)
    assert(v2 != v1)
    assert(!new java.io.File(v1).exists())
    assert(EsdbWriter.read(spark, dir).count() == 20)
    // ordered DSv2 read follows the pointer too
    assert(EsdbWriter.readOrdered(spark, dir).count() == 20)
    assert(EventStore.scan(EsdbWriter.read(spark, dir), "s1", "g")
      .select("event_id").as[Long].collect().toSeq == (19L to 1L by -2L))
  }

  test("pointer commit refuses to overwrite a committed pointer (conflict primitive)") {
    // The conflict window lives INSIDE publish (between its
    // currentVersion read and its pointer rename), so it cannot be
    // triggered from outside without a hook; what the detection relies
    // on is the commit primitive itself: FileContext.rename without
    // Options.Rename.OVERWRITE must refuse an existing destination.
    // (FileSystem.rename on the local FS delegates to File.renameTo,
    // which silently OVERWRITES on POSIX — with it, two racing
    // publishers would both "commit" and then sweep each other's data.)
    val dir = freshDir()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    val ptrDir = new org.apache.hadoop.fs.Path(dir, Publish.PtrDir)
    fs.mkdirs(ptrDir)
    val committed = new org.apache.hadoop.fs.Path(ptrDir, "1.ptr")
    val o1 = fs.create(committed, false)
    try o1.write("winner".getBytes("UTF-8")) finally o1.close()
    val tmp = new org.apache.hadoop.fs.Path(ptrDir, ".tmp-loser")
    val o2 = fs.create(tmp, false)
    try o2.write("loser".getBytes("UTF-8")) finally o2.close()
    intercept[Exception] {
      org.apache.hadoop.fs.FileContext.getFileContext(committed.toUri, hconf)
        .rename(tmp, committed)
    }
    val in = fs.open(committed)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(content == "winner", "a losing rename must not clobber the committed pointer")
  }

  test("racing appenders: the loser re-stages against the new head; contents = union") {
    val dir = freshDir()
    val store = s"$dir/s"
    EsdbWriter.appendVersioned(ev(1 to 10), store) // version 1: base
    // appender A stages against v1; mid-stage, appender B commits v2 —
    // A's pointer commit conflicts, its closure re-runs against v2 and
    // commits v3 (deterministic single-threaded interleave of the race)
    var bFired = false
    var aAttempts = 0
    Publish.publishRetrying(hconf, store, keepVersions = 3) { tmp =>
      aAttempts += 1
      val cur = EsdbWriter.read(spark, store) // resolves the head NOW
      if (!bFired) {
        bFired = true
        EsdbWriter.appendVersioned(ev(11 to 20), store, keepVersions = 3) // B wins the race
      }
      EsdbWriter.write(cur.unionByName(ev(21 to 30)), tmp)
    }
    assert(aAttempts == 2, s"A must lose once and retry, attempted $aAttempts")
    val ids = EsdbWriter.read(spark, store).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 30L), "both appenders' batches must survive")
    assert(Publish.currentVersion(hconf, store).map(_._1).contains(3L))
    // non-retrying publishes keep failing loudly on conflict — the
    // retry is opt-in for version-independent payloads only (the
    // conflict primitive itself is pinned by the test above)
  }

  test("pointer-commit failure with an existing destination classifies as publish conflict") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 5), dir)
    // occupy the next pointer slot with a non-pointer entry (a dir is
    // skipped by currentVersion's isFile filter, so publish still
    // targets version 1): the rename hits an existing destination,
    // which is exactly the lost-race shape and must surface as a
    // "publish conflict" — the retryable classification
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, s"${Publish.PtrDir}/1.ptr"))
    val e = intercept[java.io.IOException] {
      Publish.publish(hconf, dir) { tmp => EsdbWriter.write(ev(6 to 10), tmp) }
    }
    assert(e.getMessage.startsWith("publish conflict"), e.getMessage)
    // the original direct-layout data is untouched by the failed publish
    assert(EsdbWriter.read(spark, dir).count() == 5)
  }

  test("appendVersioned on a legacy direct-layout store (plain write, no version pointer)") {
    // The carry loop copies the data root's entries into the staging
    // dir; on a direct layout the data root IS the logical root, which
    // also holds _versions (containing the staging dir itself) — that
    // must be skipped or the copy recurses into its own destination.
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)              // direct layout, no pointer
    EsdbWriter.appendVersioned(ev(11 to 20), dir)   // first versioned append upgrades it
    val ids = EsdbWriter.read(spark, dir).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 20L))
    assert(Publish.currentVersion(hconf, dir).isDefined, "store must now be versioned")
    // and the upgraded store keeps appending fine
    EsdbWriter.appendVersioned(ev(21 to 25), dir)
    assert(EsdbWriter.read(spark, dir).count() == 25)
    // no stray publish machinery was carried into the version dir
    val vroot = new java.io.File(Publish.resolve(hconf, dir))
    assert(!vroot.listFiles.exists(f =>
      f.getName == Publish.PtrDir || f.getName == Publish.VersionsDir))
  }

  test("crash before pointer write: readers keep seeing the previous version") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir) // v1
    val before = EsdbWriter.read(spark, dir).select("event_id").as[Long].collect().toSet
    // simulate a compaction that crashed after fully staging its data
    // but before the pointer commit: stage a bogus version dir by hand
    val orphan = new java.io.File(dir, s"${Publish.VersionsDir}/00000000000000000002-dead")
    orphan.mkdirs()
    ev(100 to 120).write.mode("overwrite")
      .partitionBy("space").parquet(orphan.getAbsolutePath)
    // no pointer was written -> resolution and reads are unchanged
    assert(EsdbWriter.read(spark, dir).select("event_id").as[Long].collect().toSet == before)
    assert(EsdbWriter.readOrdered(spark, dir).count() == 10)
    // the publish that takes the orphan's NUMBER spares it (it could be
    // a concurrent loser still staging — sweeping mid-build would turn
    // its clean conflict into a job failure); the one after sweeps it
    EsdbWriter.compact(spark, dir) // v2: same number as the orphan
    assert(orphan.exists(), "a same-numbered stage dir must survive its winner's sweep")
    EsdbWriter.compact(spark, dir) // v3: the orphan is strictly older now
    assert(!orphan.exists())
    assert(EsdbWriter.read(spark, dir).select("event_id").as[Long].collect().toSet == before)
  }

  test("crash mid-pointer-write (hidden temp file) is invisible to readers") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir)
    val cur = Publish.currentVersion(hconf, dir).get
    // a torn temp pointer from a crashed publisher: not *.ptr, ignored
    Files.writeString(new java.io.File(dir, s"${Publish.PtrDir}/.tmp-2-dead").toPath, "garbage")
    assert(Publish.currentVersion(hconf, dir).contains(cur))
    assert(EsdbWriter.read(spark, dir).count() == 10)
  }

  test("append after compact lands in the current version and survives the next compact") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir)
    EsdbWriter.append(ev(11 to 15), dir)
    assert(EsdbWriter.read(spark, dir).count() == 15)
    assert(EsdbWriter.storeStats(spark, dir).agg(org.apache.spark.sql.functions.sum("n_events"))
      .as[Long].head() == 15)
    EsdbWriter.compact(spark, dir)
    assert(EsdbWriter.read(spark, dir).count() == 15)
    assert(EsdbWriter.manifestGroupings(spark, dir).get.size == 2) // (s0,g),(s1,g)
  }

  test("retention: keep=2 protects a long-running reader across compaction; the slide fails it loudly") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir) // v1
    val v1 = Publish.resolve(hconf, dir)
    // a long-running reader: resolved v1 at table-load time
    val pinned = EsdbWriter.readOrdered(spark, dir)
    assert(pinned.count() == 10)
    EsdbWriter.append(ev(11 to 12), dir) // appends land in the current (v1) dir
    EsdbWriter.compact(spark, dir, keepVersions = 2) // v2; v1 frozen but retained
    assert(new java.io.File(v1).exists(), "previous version must survive a keep=2 publish")
    // every file the pinned reader can list still exists — it keeps working
    // (it sees the pre-freeze appends too: 12 rows, same as current)
    assert(pinned.count() == 12, "pinned reader must keep working across the compaction")
    assert(EsdbWriter.read(spark, dir).count() == 12)
    // the next keep=2 publish slides the window: v1 retires, v2 stays —
    // and the still-pinned reader now fails LOUDLY, never silently empty
    val v2 = Publish.resolve(hconf, dir)
    EsdbWriter.compact(spark, dir, keepVersions = 2) // v3
    assert(!new java.io.File(v1).exists(), "v1 must leave the window at v3")
    assert(new java.io.File(v2).exists())
    intercept[java.io.FileNotFoundException] { pinned.count() }
    assert(EsdbWriter.read(spark, dir).count() == 12)
  }

  test("version pin: a retained predecessor equals the compaction that superseded it") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir) // v1
    EsdbWriter.append(ev(11 to 14), dir) // lands in v1, pre-freeze
    EsdbWriter.compact(spark, dir, keepVersions = 2) // v2 rewrite; v1 frozen at this instant
    val at1 = EsdbWriter.readOrderedAt(spark, dir, 1)
      .select("event_id").as[Long].collect().toSet
    val cur = EsdbWriter.readOrdered(spark, dir)
      .select("event_id").as[Long].collect().toSet
    assert(at1 == (1L to 14L).toSet)
    // the rewrite-preserves-content audit only a retained predecessor allows
    assert(cur == at1)
    // a version that was never committed fails loudly
    intercept[java.io.FileNotFoundException] { EsdbWriter.readOrderedAt(spark, dir, 5) }
  }

  test("vacuum retires all but the newest keep; retired time travel fails, current read unaffected") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir) // v1
    EsdbWriter.compact(spark, dir, keepVersions = 9) // v2 — window wide, nothing retires
    EsdbWriter.compact(spark, dir, keepVersions = 9) // v3
    assert(Publish.committedVersions(hconf, dir).map(_._1) == Seq(1L, 2L, 3L))
    assert(EsdbWriter.readOrderedAt(spark, dir, 1).count() == 10)
    Publish.vacuum(hconf, dir, keep = 1)
    assert(Publish.committedVersions(hconf, dir).map(_._1) == Seq(3L))
    assert(EsdbWriter.read(spark, dir).count() == 10)
    assert(EsdbWriter.readOrdered(spark, dir).count() == 10)
    intercept[java.io.FileNotFoundException] { EsdbWriter.readOrderedAt(spark, dir, 1) }
  }

  test("log store: retention + version pin through the esdblog source") {
    val dir = freshDir()
    graft.engine.Publish.publish(hconf, dir) { tmp =>
      EsdbWriter.writeLog(ev(1 to 10), tmp)
    } // v1
    EsdbWriter.appendLog(ev(11 to 13), dir) // lands in v1, pre-freeze
    val pinned = EsdbWriter.readLog(spark, dir) // resolved v1 at load
    EsdbWriter.compactLog(spark, dir, keepVersions = 2) // v2; v1 frozen but retained
    assert(spark.read.format("esdblog").option("version", 1).load(dir).count() == 13)
    assert(pinned.count() == 13, "pinned log reader must survive the keep=2 compaction")
    assert(EsdbWriter.readLog(spark, dir).count() == 13)
    // window slides: v1 retires and the pinned reader fails loudly
    EsdbWriter.compactLog(spark, dir, keepVersions = 2) // v3
    intercept[java.io.FileNotFoundException] { pinned.count() }
    assert(EsdbWriter.readLog(spark, dir).count() == 13)
  }

  test("racing IVF builders: the loser conflicts and ensureIndex adopts the winner's index") {
    val docs = (0 until 40).map(i => (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val path = freshDir() + "/ivfrace"
    // deterministic cross-driver interleave (same shape as the racing-
    // appenders test): driver A stages its index build; mid-stage,
    // driver B's ensureIndex builds AND commits first; A's pointer
    // rename must conflict, never clobber B
    val e = intercept[java.io.IOException] {
      Publish.publish(hconf, path) { tmp =>
        graft.ops.Ivf.ensureIndex(docs, path, nLists = 4) // B wins while A stages
        val (assigned, centroids) = graft.ops.Ivf.buildIndex(docs, nLists = 4)
        assigned.write.partitionBy("list").parquet(s"$tmp/assigned")
        centroids.write.parquet(s"$tmp/centroids")
      }
    }
    assert(e.getMessage.startsWith("publish conflict"), e.getMessage)
    val v1 = Publish.resolve(hconf, path)
    // A's recovery IS ensureIndex: the committed index satisfies the
    // build-if-absent contract, so it adopts v1 — no redundant rebuild,
    // no version bump, and probes work
    graft.ops.Ivf.ensureIndex(docs, path, nLists = 4)
    assert(Publish.resolve(hconf, path) == v1, "loser must adopt, not rebuild")
    assert(graft.ops.Ivf.ivfTopKIndexed(spark, path, docs.limit(3), k = 5, nProbe = 2)
      .count() > 0)
  }

  test("IVF index publish: crashed build leaves no trusted index; rebuild commits v2") {
    val docs = (0 until 40).map(i => (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val path = freshDir() + "/ivf"
    graft.ops.Ivf.ensureIndex(docs, path, nLists = 4)
    val v1 = Publish.resolve(hconf, path)
    assert(v1.contains(Publish.VersionsDir))
    val q = docs.limit(3)
    assert(graft.ops.Ivf.ivfTopKIndexed(spark, path, q, k = 5, nProbe = 2).count() > 0)
    // crashed rebuild: staged data, no pointer — ensureIndex still trusts v1 only
    new java.io.File(path, s"${Publish.VersionsDir}/00000000000000000002-dead/assigned").mkdirs()
    graft.ops.Ivf.ensureIndex(docs, path, nLists = 4)
    assert(Publish.resolve(hconf, path) == v1)
    // explicit rebuild commits the next version and retires v1
    graft.ops.Ivf.writeIndex(docs, path, nLists = 4)
    val v2 = Publish.resolve(hconf, path)
    assert(v2 != v1 && !new java.io.File(v1).exists())
    assert(graft.ops.Ivf.ivfTopKIndexed(spark, path, q, k = 5, nProbe = 2).count() > 0)
  }

  test("expectedVersion pins a rewrite: a commit landing after the listing conflicts") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir) // v1
    val headAtListing = Publish.currentVersionNumber(hconf, dir).get
    // a concurrent append commits v2 between "listing" and "publish"
    EsdbWriter.appendVersioned(ev(11 to 12), dir)
    val e = intercept[java.io.IOException] {
      Publish.publish(hconf, dir, keepVersions = 2,
        expectedVersion = Some(headAtListing)) { tmp =>
        EsdbWriter.write(ev(1 to 10), tmp)
      }
    }
    assert(e.getMessage.startsWith("publish conflict"), e.getMessage)
    // the concurrent append's rows were NOT dropped
    assert(EsdbWriter.read(spark, dir).count() == 12)
    // with the CURRENT head as expected, the publish goes through
    val head2 = Publish.currentVersionNumber(hconf, dir).get
    Publish.publish(hconf, dir, keepVersions = 2, expectedVersion = Some(head2)) { tmp =>
      EsdbWriter.write(ev(1 to 12), tmp)
    }: Unit
    assert(Publish.currentVersionNumber(hconf, dir).get == head2 + 1)
  }

  test("stage writer refuses a width+1 row whose leading field is not an op code") {
    // EsdbStageDataWriter strips a leading __row_operation column when
    // widths say one is present; a future Spark layout change must
    // surface as an error here, never as silently shifted columns
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", IntegerType)))
    val dir = new org.apache.hadoop.fs.Path(freshDir())
    val w = new graft.sources.EsdbStageDataWriter(dir, schema, 0, 0L, hconf)
    val bad = new GenericInternalRow(Array[Any](99, 1, 2)) // field 0 not in 1..3
    val e = intercept[IllegalArgumentException] { w.write(bad) }
    assert(e.getMessage.contains("operation"), e.getMessage)
    val ok = new GenericInternalRow(Array[Any](1, 7, 8)) // delete op code leads
    val w2 = new graft.sources.EsdbStageDataWriter(dir, schema, 1, 1L, hconf)
    w2.write(ok)
    w2.commit()
    val read = spark.read.schema(schema).parquet(dir.toString).collect()
    assert(read.length == 1 && read(0).getInt(0) == 7 && read(0).getInt(1) == 8)
  }

  test("versioned append carries data files by reference; vacuum keeps their host") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 100), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 4) // v1
    val v1 = Publish.resolve(hconf, dir)
    EsdbWriter.appendVersioned(ev(101 to 110), dir, keepVersions = 4) // v2: v1's files carry
    val v2 = Publish.resolve(hconf, dir)
    def dataFiles(root: String): Map[String, org.apache.hadoop.fs.Path] = {
      val r = new org.apache.hadoop.fs.Path(root)
      EsdbWriter.storeDataFiles(r.getFileSystem(hconf), r).map(f => f._1 -> f._2.getPath).toMap
    }
    val f1 = dataFiles(v1)
    val f2 = dataFiles(v2)
    val shared = f1.keySet.intersect(f2.keySet)
    assert(shared.nonEmpty, s"v2 must carry v1's files: v1=${f1.keySet} v2=${f2.keySet}")
    shared.foreach { rel =>
      assert(f2(rel) == f1(rel), s"carried $rel must resolve to v1's physical file, got ${f2(rel)}")
      assert(!new java.io.File(v2, rel).exists(), s"v2's dir must hold no copy of carried $rel")
    }
    // carried MARKERS stay independent files: they are rewritten in
    // place (create overwrite=true), so a shared one would let a later
    // version's rewrite corrupt this one
    val m1 = new java.io.File(v1, EsdbWriter.SubpartsMarker)
    val m2 = new java.io.File(v2, EsdbWriter.SubpartsMarker)
    if (m1.exists() && m2.exists())
      assert(!java.nio.file.Files.isSameFile(m1.toPath, m2.toPath),
        "markers must carry as copies")
    assert(EsdbWriter.read(spark, dir).count() == 110)
    // retiring v1 keeps its dir as the host of the files v2 references
    Publish.vacuum(hconf, dir, keep = 1)
    shared.foreach { rel =>
      assert(new java.io.File(f1(rel).toUri).exists(), s"vacuum deleted referenced $rel")
    }
    assert(EsdbWriter.read(spark, dir).count() == 110)
    assert(EventStore.scan(EsdbWriter.readOrdered(spark, dir), "s1", "g")
      .count() > 0)
  }

  test("vacuum sweeps orphaned .rl-stage-* dirs past the grace period") {
    val dir = freshDir()
    EsdbWriter.write(ev(1 to 10), dir)
    EsdbWriter.compact(spark, dir)
    EsdbWriter.compact(spark, dir) // two versions so vacuum has work
    val old = System.currentTimeMillis() - 7L * 3600 * 1000
    val stale = new java.io.File(dir, ".rl-stage-deadbeef")
    val fresh = new java.io.File(dir, ".rl-stage-cafebabe")
    val beating = new java.io.File(dir, ".rl-stage-00heart")
    assert(stale.mkdirs() && fresh.mkdirs() && beating.mkdirs())
    java.nio.file.Files.write(stale.toPath.resolve("part-0.parquet"), Array[Byte](1, 2))
    assert(stale.toPath.resolve("part-0.parquet").toFile.setLastModified(old))
    assert(stale.setLastModified(old))
    // a long-running statement: files staged hours ago, but the driver's
    // heartbeat file is fresh — liveness is the NEWEST inner mtime
    java.nio.file.Files.write(beating.toPath.resolve("part-0.parquet"), Array[Byte](1, 2))
    assert(beating.toPath.resolve("part-0.parquet").toFile.setLastModified(old))
    assert(beating.setLastModified(old))
    java.nio.file.Files.write(beating.toPath.resolve("_HEARTBEAT"), Array.emptyByteArray)
    Publish.vacuum(hconf, dir, keep = 1)
    assert(!stale.exists(), "stale stage dir must be swept")
    assert(fresh.exists(), "in-flight stage dir must survive the grace period")
    assert(beating.exists(), "a heartbeating stage dir must survive however old its files")
    // the grace period is configurable: with a zero grace the fresh dir
    // (no heartbeat, mtime now) is still younger than... nothing — so
    // prove the knob works by sweeping it with grace 0 after aging it
    assert(fresh.setLastModified(old))
    val tuned = new org.apache.hadoop.conf.Configuration(hconf)
    tuned.setLong(Publish.StageGraceKey, 3600 * 1000L)
    Publish.sweepStaleStages(tuned, dir)
    assert(!fresh.exists(), "configured 1h grace must sweep the 7h-old dir")
    assert(beating.exists(), "heartbeat still protects within the tuned grace")
  }
}
