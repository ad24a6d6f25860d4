package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Carry, EsdbWriter, Publish}

/** Reference-based predecessor carry (`_CARRY`): the answer to "every
  * versioned rewrite pays O(store bytes)", on every filesystem. Proves
  * the VERDICT r13 contract:
  *  - rewrite commits touch only changed files + one `_CARRY` manifest;
  *  - pinned readers at old versions still resolve;
  *  - vacuum deletes a file only when no retained version references it;
  *  - drift (a referenced file deleted externally) refuses loudly;
  *  - clones are self-contained; log trims carry by reference too.
  */
class CarrySpec extends AnyFunSuite with SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    s"$d/store" // fresh (non-existent) path: write() is create-once
  }

  private def ev(ids: Range, space: String = "s1"): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map(i => (space, s"g${i % 3}", 1000000L + i * 1000L, i.toLong, i.toDouble,
      s"""{"type":"t$i"}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
  }

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Nil
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
    finally s.close()
  }

  private def physicalParquet(dir: String): Seq[String] =
    walk(dir).map(_.toString)
      .filter(p => p.endsWith(".parquet") &&
        !p.stripPrefix(dir).split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith(".")))

  private def readIds(path: String): Set[Long] = {
    import spark.implicits._
    EsdbWriter.read(spark, path).select("event_id").as[Long].collect().toSet
  }

  test("versioned append carries by reference: O(batch) physical bytes, one-hop chains") {
    val dir = tmp("carryappend")
    EsdbWriter.write(ev(1 to 100), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 2) // -> version 1
    val v1 = Publish.resolveAt(hconf, dir, 1L)
    val v1Files = physicalParquet(v1).map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    EsdbWriter.appendVersioned(ev(101 to 110), dir, keepVersions = 2) // -> v2
    EsdbWriter.appendVersioned(ev(111 to 120), dir, keepVersions = 3) // -> v3
    val v3 = Publish.resolveAt(hconf, dir, 3L)
    // O(changed): the new version dir physically holds ONLY its batch
    val v3Physical = physicalParquet(v3)
    assert(v3Physical.nonEmpty && v3Physical.forall(_.startsWith(v3)),
      s"v3 physical files: $v3Physical")
    val v3Names = v3Physical.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(v3Names.intersect(v1Files).isEmpty, "v1 files must not be re-materialized")
    // one-hop manifests: every carried entry points at the ORIGINAL host
    val fs3 = new org.apache.hadoop.fs.Path(v3).getFileSystem(hconf)
    val manifest = Carry.readManifest(fs3, new org.apache.hadoop.fs.Path(v3))
    assert(manifest.nonEmpty)
    val v1Dir = v1.split('/').last
    val v2Dir = Publish.resolveAt(hconf, dir, 2L).split('/').last
    assert(manifest.values.toSet.subsetOf(Set(v1Dir, v2Dir)),
      s"hosts: ${manifest.values.toSet}")
    // and the full logical set still reads — COUNT too: a bad file→
    // space join would duplicate rows invisibly to the Set compare
    // (partitionBy reuses one task's part-file basename across spaces)
    assert(EsdbWriter.read(spark, dir).count() == 120L)
    assert(readIds(dir) == (1 to 120).map(_.toLong).toSet)
    // pinned readers at old versions resolve their exact file sets
    assert(Publish.snapshotFiles(hconf, dir, 2L).get.size ==
      Carry.dataFiles(new org.apache.hadoop.fs.Path(v3).getFileSystem(hconf),
        new org.apache.hadoop.fs.Path(Publish.resolveAt(hconf, dir, 2L))).size)
  }

  test("copy-on-write delete rewrites only hit files; carried rels resolve in place") {
    val dir = tmp("carrydelete")
    EsdbWriter.write(ev(1 to 60, "a").unionByName(ev(61 to 120, "b")), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 4) // v1
    EsdbWriter.delete(spark, dir, spaces = Some(Set("a")), groupings = None,
      keepVersions = 4) // v2: space a dropped, space b carried by reference
    val v2 = Publish.resolveAt(hconf, dir, 2L)
    assert(physicalParquet(v2).isEmpty, "nothing was rewritten, nothing physical")
    val fs = new org.apache.hadoop.fs.Path(v2).getFileSystem(hconf)
    val m = Carry.readManifest(fs, new org.apache.hadoop.fs.Path(v2))
    assert(m.nonEmpty && m.keys.forall(_.startsWith("space=b/")), s"manifest: $m")
    assert(EsdbWriter.read(spark, dir).count() == 60L)
    assert(readIds(dir) == (61 to 120).map(_.toLong).toSet)
    // store stats and cluster listing walk the resolved set too
    val stats = EsdbWriter.storeStats(spark, dir)
    assert(stats.agg(sum("n_events")).head().getLong(0) == 60L)
  }

  test("vacuum deletes a host file only when no retained version references it") {
    val dir = tmp("carryvacuum")
    EsdbWriter.write(ev(1 to 50), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v1: physical host
    EsdbWriter.appendVersioned(ev(51 to 60), dir, keepVersions = 8) // v2
    EsdbWriter.appendVersioned(ev(61 to 70), dir, keepVersions = 8) // v3
    val v1 = Publish.resolveAt(hconf, dir, 1L)
    val v1Data = physicalParquet(v1)
    assert(v1Data.nonEmpty)
    // keep=2 retires v1's POINTER, but v2/v3 manifests still reference
    // v1-hosted files: they must survive as a host
    Publish.vacuum(hconf, dir, keep = 2)
    intercept[Exception](Publish.resolveAt(hconf, dir, 1L)) // pointer gone
    assert(v1Data.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
      "referenced host files must survive the sweep")
    assert(readIds(dir) == (1 to 70).map(_.toLong).toSet)
    // now rewrite everything: v4 references nothing in v1
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v4: full rewrite
    Publish.vacuum(hconf, dir, keep = 1)
    assert(v1Data.forall(f => !java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
      "unreferenced host files must be swept once the last reference retires")
    assert(readIds(dir) == (1 to 70).map(_.toLong).toSet)
  }

  test("publish retention sweep is refcount-aware mid-publish too") {
    val dir = tmp("carrysweep")
    EsdbWriter.write(ev(1 to 40), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 1) // v1
    // keepVersions=1: publishing v2 retires v1's dir immediately — but
    // v2's manifest references v1-hosted files, so they must survive
    EsdbWriter.appendVersioned(ev(41 to 45), dir, keepVersions = 1)
    assert(readIds(dir) == (1 to 45).map(_.toLong).toSet)
  }

  test("a retention-gutted file host refuses pinned reads instead of serving partial data") {
    val dir = tmp("carrygutted")
    EsdbWriter.write(ev(1 to 40, "a").unionByName(ev(41 to 80, "b")), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v1: physical host, both spaces
    // v2 carries ONLY space b (space a deleted) — v1 keeps hosting b's files
    EsdbWriter.delete(spark, dir, spaces = Some(Set("a")), groupings = None,
      keepVersions = 8)
    // retire v1's dir via the retention sweep path (pointer SURVIVES —
    // sweepVersions never deletes pointers): keep=1 on the next publish
    EsdbWriter.appendVersioned(ev(81 to 85, "b"), dir, keepVersions = 1)
    val v1dir = new java.io.File(s"$dir/${Publish.VersionsDir}")
      .listFiles().filter(_.getName.startsWith("1-")).head
    assert(v1dir.exists(), "v1 must survive as a file host (v2/v3 reference its b files)")
    assert(new java.io.File(v1dir, Publish.RetiredMarker).exists(),
      "a gutted host must be marked retired")
    // pointer still exists, dir still exists — but resolving v1 as a
    // VERSION must refuse: its space-a files and sidecars are gone
    val e = intercept[java.io.FileNotFoundException](Publish.resolveAt(hconf, dir, 1L))
    assert(e.getMessage.contains("retired"), e.getMessage)
    // ...and so must rollback: re-pointing the LIVE head at the gutted
    // host would silently serve partial data on every later SELECT
    val rb = intercept[IllegalArgumentException](Publish.rollback(hconf, dir, 1L))
    assert(rb.getMessage.contains("retired"), rb.getMessage)
    // the live head still reads its full content through the host
    assert(readIds(dir) == ((41 to 80) ++ (81 to 85)).map(_.toLong).toSet)
  }

  test("drift refuses loudly: externally deleting a referenced host file breaks the read") {
    val dir = tmp("carrydrift")
    EsdbWriter.write(ev(1 to 30), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 4) // v1
    EsdbWriter.appendVersioned(ev(31 to 35), dir, keepVersions = 4) // v2
    val v1 = Publish.resolveAt(hconf, dir, 1L)
    val victim = physicalParquet(v1).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(victim))
    // snapshot-priced planning doesn't probe existence (zero host-dir
    // round trips); the refusal moved to the file open, which names
    // the missing path — torn data is never served silently
    val e = intercept[Exception] {
      EsdbWriter.read(spark, dir).select("event_id").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    val victimName = victim.substring(victim.lastIndexOf('/') + 1)
    assert(chain(e).exists(c => c.getMessage != null && c.getMessage.contains(victimName)),
      s"read failure must name the missing file, got: $e")
    // the WALKING resolve path (legacy v1 snapshots) still refuses at
    // planning time with the classic message
    val v2 = new org.apache.hadoop.fs.Path(Publish.resolveAt(hconf, dir, 2L))
    val fs = v2.getFileSystem(hconf)
    val w = intercept[IllegalStateException] {
      Carry.resolveEntries(fs, v2, Carry.readManifest(fs, v2))
    }
    assert(w.getMessage.contains("carry drift"), w.getMessage)
  }

  test("read planning never lists host dirs on a snapshot-stamped carry chain") {
    val dir = tmp("carrypriced")
    EsdbWriter.write(ev(1 to 60, "a").unionByName(ev(61 to 120, "b")), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v1: physical host
    EsdbWriter.appendVersioned(ev(121 to 130, "a"), dir, keepVersions = 8) // v2
    EsdbWriter.appendVersioned(ev(131 to 140, "b"), dir, keepVersions = 8) // v3
    EsdbWriter.appendVersioned(ev(141 to 150, "a"), dir, keepVersions = 8) // v4
    val head = new org.apache.hadoop.fs.Path(Publish.resolve(hconf, dir))
    val fs = head.getFileSystem(hconf)
    assert(Carry.readManifest(fs, head).nonEmpty, "head must be manifest-carrying")
    val before = Carry.hostWalks.get()
    // planning enumeration, the DSv2 scan, stats, and the full-width
    // read all resolve carried entries from the head's own _FILES
    val resolved = Carry.dataFiles(fs, head)
    assert(EsdbWriter.read(spark, dir).count() == 150L)
    assert(readIds(dir) == (1 to 150).map(_.toLong).toSet)
    assert(EsdbWriter.storeStats(spark, dir)
      .agg(sum("n_events")).head().getLong(0) == 150L)
    assert(Carry.hostWalks.get() == before,
      s"read path listed ${Carry.hostWalks.get() - before} host dir(s); " +
        "snapshot-priced planning must list none")
    // the synthesized statuses carry real sizes (stamped at publish)
    val manifest = Carry.readManifest(fs, head)
    resolved.filter { case (rel, _) => manifest.contains(rel) }.foreach {
      case (rel, st) =>
        val real = new java.io.File(st.getPath.toUri.getPath)
        assert(real.isFile && real.length() == st.getLen, s"$rel: stamped ${st.getLen}")
    }
  }

  test("legacy v1 _FILES (rels only) falls back to the walking resolve and stays correct") {
    val dir = tmp("carrylegacy")
    EsdbWriter.write(ev(1 to 40), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v1
    EsdbWriter.appendVersioned(ev(41 to 50), dir, keepVersions = 8) // v2
    val head = new org.apache.hadoop.fs.Path(Publish.resolve(hconf, dir))
    val fs = head.getFileSystem(hconf)
    // rewrite the head's snapshot in the pre-r15 rel-only format
    val rels = Publish.snapshotEntries(fs, head).get.map(_.rel)
    val out = fs.create(new org.apache.hadoop.fs.Path(head, Publish.SnapshotFile), true)
    try out.write(rels.sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
    assert(Publish.snapshotEntries(fs, head).isEmpty, "v1 must parse as legacy")
    val before = Carry.hostWalks.get()
    assert(readIds(dir) == (1 to 50).map(_.toLong).toSet)
    assert(Carry.hostWalks.get() > before, "legacy snapshot must take the walking path")
    // and the incremental-read rel parse still works on both formats
    assert(Publish.snapshotFiles(hconf, dir, 2L).get == rels.toSet)
  }

  test("changes feed stays exact across manifest-carried versions") {
    import spark.implicits._
    val dir = tmp("carrychanges")
    EsdbWriter.write(ev(1 to 20), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 8) // v1
    EsdbWriter.appendVersioned(ev(21 to 25), dir, keepVersions = 8) // v2: pure append
    val feed = EsdbWriter.changesFeed(spark, dir, 1L)
    val got = feed.select("_change", "event_id").as[(String, Long)].collect().toSet
    assert(got == (21 to 25).map(i => ("insert", i.toLong)).toSet, s"got $got")
    // a carried-file delete shows as deletes only for the removed rows
    EsdbWriter.delete(spark, dir, spaces = None, groupings = Some(Set("g0")),
      keepVersions = 8) // v3
    val feed2 = EsdbWriter.changesFeed(spark, dir, 2L)
    val dels = feed2.where($"_change" === "delete")
      .select("event_id").as[Long].collect().toSet
    assert(dels == (1 to 25).filter(_ % 3 == 0).map(_.toLong).toSet, s"dels $dels")
  }

  test("clone of a manifest-carrying store is self-contained") {
    val dir = tmp("carryclonesrc")
    val dst = tmp("carryclonedst") + "/replica"
    EsdbWriter.write(ev(1 to 30), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 4)
    EsdbWriter.appendVersioned(ev(31 to 40), dir, keepVersions = 4)
    EsdbWriter.cloneStore(spark, dir, dst)
    assert(readIds(dst) == (1 to 40).map(_.toLong).toSet)
    // no reference back into the source: delete the source entirely
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    assert(readIds(dst) == (1 to 40).map(_.toLong).toSet)
  }

  test("log trim carries surviving flat files by reference") {
    import spark.implicits._
    val dir = tmp("carrylog")
    val rows = (1 to 100).map(i =>
      ("s1", s"g${i % 3}", 1000000L + i * 1000L, i.toLong, s"""{"n":$i}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "payload")
    EsdbWriter.writeLog(rows, dir)
    // publish once first: files at the LEGACY root can only carry
    // physically (manifest entries reference version dirs); after
    // compactLog the survivors live under _versions and trim can
    // reference them in place
    EsdbWriter.compactLog(spark, dir, numFiles = 4, keepVersions = 4)
    EsdbWriter.appendLog((101 to 200).map(i =>
      ("s1", s"g${i % 3}", 1000000L + i * 1000L, i.toLong, s"""{"n":$i}"""))
      .toDF("space", "grouping", "ts_us", "event_id", "payload"), dir)
    EsdbWriter.trimLog(spark, dir, beforeId = 101L, keepVersions = 2)
    val head = new org.apache.hadoop.fs.Path(Publish.resolve(hconf, dir))
    val fs = head.getFileSystem(hconf)
    val ids = EsdbWriter.readLog(spark, dir).select("event_id").as[Long].collect().toSet
    assert(ids == (101 to 200).map(_.toLong).toSet)
    // the surviving file was untouched by the trim: carried by reference
    val m = Carry.readManifest(fs, head)
    assert(m.nonEmpty, "trim must carry the surviving file by manifest")
  }

  test("rewrites of files carried from older versions keep escaped spaces and log columns") {
    import org.apache.spark.sql.sources.EqualTo
    // dir names escape these spaces, and `_metadata.file_path` URI-encodes
    // the escapes: each space must still come back as itself
    val spaces = Seq("a x", "a:b", "p%q", "a+b", "plain")
    val dir = tmp("carryescaped")
    EsdbWriter.write(spaces.zipWithIndex.map { case (sp, k) => ev(k * 10 + 1 to k * 10 + 10, sp) }
      .reduce(_ unionByName _), dir)
    EsdbWriter.compact(spark, dir, keepVersions = 4) // v1: every file physical
    EsdbWriter.delete(spark, dir, spaces = Some(Set("plain")), keepVersions = 4) // v2 carries the rest
    // footprints hosted in v1, rewritten from v2 and v3
    spaces.take(2).foreach { sp =>
      assert(EsdbWriter.updateWhere(spark, dir, Map("value" -> lit(-1.0)),
        Seq(EqualTo("space", sp)), keepVersions = 4))
    }
    EsdbWriter.compact(spark, dir, keepVersions = 4) // reads every carried file
    val got = EsdbWriter.read(spark, dir).select("space", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = spaces.zipWithIndex.filter(_._1 != "plain").flatMap { case (sp, k) =>
      (k * 10 + 1 to k * 10 + 10).map(i => (sp, i.toLong, if (k < 2) -1.0 else i.toDouble))
    }.toSet
    assert(got == want, s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")

    // a log rewrite reading files carried from an older version keeps
    // every column, `space` included (a data column in the log layout)
    val log = tmp("carrylogcols")
    EsdbWriter.writeLog(ev(1 to 60), log)
    EsdbWriter.compactLog(spark, log, numFiles = 3, keepVersions = 4)
    EsdbWriter.deleteWhereLog(spark, log, Seq(EqualTo("event_id", 5L)), keepVersions = 4)
    EsdbWriter.deleteWhereLog(spark, log, Seq(EqualTo("event_id", 55L)), keepVersions = 4)
    val rows = EsdbWriter.readLog(spark, log).select("space", "event_id").collect()
    assert(rows.map(_.getLong(1)).toSet == (1 to 60).filterNot(Set(5, 55)).map(_.toLong).toSet)
    assert(rows.forall(_.getString(0) == "s1"), "log rewrite lost the space column")
  }

  test("SQL DML (UPDATE) through the catalog works under manifest carry") {
    val root = tmp("carrysql")
    val cat = "esdbcarrycat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.EsdbCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    ev(1 to 50).createOrReplaceTempView("carry_seed")
    spark.sql(s"CREATE TABLE $cat.t AS SELECT * FROM carry_seed")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM carry_seed WHERE event_id > 45")
    spark.sql(s"UPDATE $cat.t SET payload = '{}' WHERE grouping = 'g1'")
    val n = spark.sql(s"SELECT count(*) FROM $cat.t WHERE payload = '{}'")
      .head().getLong(0)
    assert(n == (1 to 50).count(_ % 3 == 1) + (46 to 50).count(_ % 3 == 1))
  }
}
