package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Object-store-safe publish protocol: a version-pointer commit in place
  * of directory rename-swaps. S3-class stores have no atomic rename (a
  * "rename" is a non-atomic copy+delete per object), so any protocol
  * whose commit point is a directory rename can expose half-copied
  * stores to readers. Here the commit point is the creation of ONE new,
  * immutable, never-rewritten pointer object — atomic on every store
  * (local/HDFS: temp + single-file rename; S3-class: a single PUT that
  * becomes visible all-or-nothing on close).
  *
  * Layout under a logical store root:
  * {{{
  *   root/_ptr/<N>.ptr          one line: the data dir name (immutable)
  *   root/_versions/<N>-<uuid>/ a complete, self-contained data root
  * }}}
  * Readers resolve root → `_versions/<dir>` named by the HIGHEST-N
  * pointer; with no pointer the root itself is the data root (legacy
  * direct layout — every store starts this way, and first publish
  * upgrades it in place). A crash anywhere before the pointer write
  * leaves only unreferenced garbage: readers keep seeing the previous
  * version. Superseded data is deleted only AFTER the pointer commits,
  * so no reader window ever observes a partial store.
  *
  * Single-writer, like the reference's O_EXCL create (writer.go:27):
  * concurrent publishers race benignly on distinct uuid-suffixed dirs,
  * and the highest committed pointer wins. The `_`-prefixed dir names
  * keep both sidecars invisible to Spark's parquet discovery, so a
  * legacy data root stays readable while its first version is staged.
  */
object Publish {

  val PtrDir = "_ptr"
  val VersionsDir = "_versions"

  /** Marker written into a version dir that retention gutted down to a
    * pure FILE HOST (it keeps only data files a retained version's
    * `_CARRY` still references): the dir exists, but it is no longer a
    * complete version — pinned reads must refuse it exactly as if the
    * dir were gone.
    */
  val RetiredMarker = "_RETIRED"

  /** Read one small pointer object. On a checksum-verifying local FS
    * the commit rename moves the file and its `.crc` sidecar in two
    * steps, so a reader racing the rename can observe a mismatched
    * pair for a sub-millisecond window — retry a few times before
    * surfacing (the pair is immutable once both steps land).
    */
  private def readPtr(fs: FileSystem, p: Path): String = {
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        return try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
               finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          if (attempt >= 5) throw e
          attempt += 1
          Thread.sleep(2L << attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Highest committed (version, dataDirName), or None when the root
    * has no pointer (legacy direct layout or nothing written yet).
    */
  def currentVersion(conf: Configuration, root: String): Option[(Long, String)] = {
    val ptr = new Path(root, PtrDir)
    val fs = ptr.getFileSystem(conf)
    if (!fs.exists(ptr)) return None
    val ptrs = fs.listStatus(ptr).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ptr"))
      .flatMap { s =>
        val n = s.getPath.getName.stripSuffix(".ptr")
        scala.util.Try(n.toLong).toOption.map(v => (v, s.getPath))
      }
    if (ptrs.isEmpty) None
    else {
      val (v, p) = ptrs.maxBy(_._1)
      Some((v, readPtr(fs, p)))
    }
  }

  /** Version number of the current head, if any — the one canonical
    * accessor for callers that only need the number (everything else
    * destructures [[currentVersion]]'s `(version, dirName)` pair).
    */
  def currentVersionNumber(conf: Configuration, root: String): Option[Long] =
    currentVersion(conf, root).map(_._1)

  /** Resolve a logical store path to its current data root. */
  def resolve(conf: Configuration, root: String): String =
    currentVersion(conf, root)
      .map { case (_, dir) => s"$root/$VersionsDir/$dir" }
      .getOrElse(root)

  /** [[resolve]] plus the head version it resolved at (`None` = legacy
    * direct layout, nothing committed yet). Rewrites that list this
    * root's files pass the version back as [[publish]]'s
    * `expectedVersion` so a concurrent commit landing after the listing
    * surfaces as a publish conflict instead of being silently dropped
    * from the rewritten version.
    */
  def resolveWithVersion(conf: Configuration, root: String): (Option[Long], String) =
    currentVersion(conf, root) match {
      case Some((v, dir)) => (Some(v), s"$root/$VersionsDir/$dir")
      case None => (None, root)
    }

  /** Data dir name of one committed version, if its pointer exists. */
  def versionDir(conf: Configuration, root: String, version: Long): Option[String] = {
    val p = new Path(new Path(root, PtrDir), s"$version.ptr")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else Some(readPtr(fs, p))
  }

  /** Resolve a PINNED version to its data root. Appends land in the
    * CURRENT version's dir, so a superseded version is frozen at the
    * moment the next publish committed — pinning yields that exact
    * retained file set (reader reproducibility; auditing a compaction
    * rewrite against the predecessor it replaced), not a per-append
    * point-in-time history. Fails loudly when the version was never
    * committed or its data has been retired (swept by a later publish's
    * retention or [[vacuum]]): a pinned read must never silently fall
    * back to different data.
    */
  def resolveAt(conf: Configuration, root: String, version: Long): String = {
    val dir = versionDir(conf, root, version).getOrElse(
      throw new java.io.FileNotFoundException(
        s"version $version was never committed at $root"))
    val data = new Path(root, s"$VersionsDir/$dir")
    val fs = data.getFileSystem(conf)
    // a gutted file host (RetiredMarker) is NOT a readable version:
    // it keeps only the files newer manifests reference, so resolving
    // it would silently serve partial data
    if (!fs.exists(data) || fs.exists(new Path(data, RetiredMarker)))
      throw new java.io.FileNotFoundException(
        s"version $version at $root has been retired (vacuumed or outside the " +
          "publish retention window); retained versions: " +
          committedVersions(conf, root).filter(v => versionDataReadable(conf, root, v._2))
            .map(_._1).mkString(", "))
    data.toString
  }

  /** `TIMESTAMP AS OF` resolution: the newest version whose pointer
    * object was committed at or before `tsMicros` (pointer mtime IS the
    * commit instant — the pointer is written exactly once). Fails
    * loudly when no version existed yet at that time, or when the
    * matched version's data has been retired.
    */
  def resolveAtTime(conf: Configuration, root: String, tsMicros: Long): String = {
    val ptr = new Path(root, PtrDir)
    val fs = ptr.getFileSystem(conf)
    if (!fs.exists(ptr)) throw new java.io.FileNotFoundException(
      s"no committed versions at $root")
    val eligible = fs.listStatus(ptr).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ptr"))
      .flatMap { s =>
        val n = s.getPath.getName.stripSuffix(".ptr")
        scala.util.Try(n.toLong).toOption
          .filter(_ => s.getModificationTime * 1000L <= tsMicros)
      }
    if (eligible.isEmpty) throw new java.io.FileNotFoundException(
      s"no version of $root was committed at or before timestamp $tsMicros us")
    resolveAt(conf, root, eligible.max)
  }

  /** All committed (version, dataDirName) pairs, ascending — pointers
    * are immutable history, so this includes retired versions whose
    * data is gone.
    */
  def committedVersions(conf: Configuration, root: String): Seq[(Long, String)] = {
    val ptr = new Path(root, PtrDir)
    val fs = ptr.getFileSystem(conf)
    if (!fs.exists(ptr)) return Seq.empty
    fs.listStatus(ptr).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ptr"))
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripSuffix(".ptr").toLong).toOption
      }
      .sorted
      .flatMap(v => versionDir(conf, root, v).map(v -> _))
  }

  private def versionDataReadable(conf: Configuration, root: String, dir: String): Boolean = {
    val p = new Path(root, s"$VersionsDir/$dir")
    val fs = p.getFileSystem(conf)
    fs.exists(p) && !fs.exists(new Path(p, RetiredMarker))
  }

  /** True when the root has at least one committed version OR legacy
    * direct-layout data (any non-sidecar entry).
    */
  def hasData(conf: Configuration, root: String): Boolean = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    if (currentVersion(conf, root).isDefined) return true
    fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      n != PtrDir && n != VersionsDir && !n.startsWith(".")
    }
  }

  /** Stage-then-commit: `write` fills a fresh versioned data dir; the
    * pointer object is created only after it returns, and superseded
    * data (the previous version dir, or the legacy direct layout's
    * `space=*`/manifest entries) plus any orphaned staging dirs are
    * removed only after the pointer is durable. Returns the new data
    * root. Seal markers (`_CLOSED*`) always live at the logical root
    * and survive publishes.
    *
    * `keepVersions`: how many committed versions to RETAIN, counting
    * the one being published. 1 (the default) retires superseded data
    * immediately — right for a single-writer store whose readers scan
    * within a publish interval. A deployment with long-running readers
    * (a multi-hour 100 TB scan must survive a concurrent compaction)
    * passes ≥2: a reader's DataFrame stays pinned to the version it
    * resolved at load, and that version's files outlive the next
    * `keepVersions - 1` publishes — the snapshot-retention scheme of
    * log-structured table formats. Retired later by [[vacuum]] or the
    * next publishes' sweeps.
    */
  def publish(conf: Configuration, root: String, keepVersions: Int = 1,
              expectedVersion: Option[Long] = None)(
      write: String => Unit): String = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = currentVersion(conf, root)
    // A rewrite built from a file listing taken at `expectedVersion`
    // must commit as exactly `expectedVersion + 1`: anchoring `next` to
    // the listing-time head (not a re-read) turns a concurrent commit
    // in the listing→publish gap into a pointer-rename collision — a
    // loud conflict — instead of a silently dropped version.
    expectedVersion.foreach { exp =>
      val head = cur.map(_._1).getOrElse(0L)
      if (head != exp) throw new java.io.IOException(
        s"publish conflict: rewrite at $root planned against version $exp " +
          s"but head is $head — retry against the new version")
    }
    val next = expectedVersion.map(_ + 1)
      .getOrElse(cur.map(_._1 + 1).getOrElse(1L))
    val dirName = s"$next-" + java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$root/$VersionsDir/$dirName"
    // A staging dir can be swept out from under a slow builder: once a
    // concurrent winner commits OUR number and head advances past it,
    // retention sweeps see an unpointed dir at v <= current and retire
    // it. The builder's job then fails mid-write with an FS error —
    // convert it to the publish conflict it semantically IS (the head
    // moved; this build had already lost) so publishRetrying retries
    // and pinned rewrites surface their standard loud refusal.
    try write(dataDir)
    catch {
      case e: Throwable
          if scala.util.control.NonFatal(e) &&
            currentVersion(conf, root).exists(_._1 >= next) &&
            !new Path(dataDir).getFileSystem(conf).exists(new Path(dataDir)) =>
        // the head advanced past our number AND our staging dir is gone:
        // a winner took this version and a retention sweep retired the
        // dir mid-build — not a build failure, the conflict this build
        // had already lost
        throw new java.io.IOException(
          s"publish conflict: staging dir $dirName at $root was retired by a " +
            "concurrent publish's retention sweep mid-build — retry against the new head", e)
    }
    // file-set snapshot BEFORE the pointer commit: the version's
    // at-commit file list, the baseline for incremental reads
    writeSnapshot(conf, dataDir)

    val ptrDir = new Path(root, PtrDir)
    val fs = ptrDir.getFileSystem(conf)
    fs.mkdirs(ptrDir)
    // commit point: one small immutable object. Local/HDFS: write a
    // hidden temp then a single-FILE rename (atomic). S3-class stores
    // would PUT the final object directly; the temp+rename of one small
    // object degrades to copy+delete there, still all-or-nothing for
    // the destination's visibility.
    val tmp = new Path(ptrDir, s".tmp-$next-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(dirName.getBytes("UTF-8")) finally out.close()
    val ptrPath = new Path(ptrDir, s"$next.ptr")
    // Re-verify immediately before the commit point: retired pointer
    // objects are vacuumable, so a rename at `next` could succeed even
    // though a newer head exists — one last head read closes that
    // window to the single atomic rename below (a same-number race
    // inside it still collides on the rename and conflicts loudly).
    expectedVersion.foreach { exp =>
      val head = currentVersion(conf, root).map(_._1).getOrElse(0L)
      if (head != exp) {
        fs.delete(tmp, false)
        fs.delete(new Path(dataDir), true)
        throw new java.io.IOException(
          s"publish conflict: version $next at $root raced a concurrent " +
            s"publish (head moved to $head after the rewrite's file listing)")
      }
    }
    // FileSystem.rename on the local FS delegates to File.renameTo,
    // which OVERWRITES an existing destination on POSIX — two racing
    // publishers would both "commit" and then sweep each other's data.
    // FileContext.rename without Options.Rename.OVERWRITE refuses an
    // existing destination (atomically on HDFS; checked on the local
    // FS), so the loser surfaces the conflict instead of corrupting.
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(ptrPath.toUri, conf)
        .rename(tmp, ptrPath)
    } catch {
      case e: Exception =>
        fs.delete(tmp, false)
        // only a LOST RACE is a conflict: the destination pointer
        // exists because a concurrent publisher committed this version
        // first — our staged data is garbage, remove it and surface
        // the conflict (publishRetrying re-runs the closure on it). A
        // persistent FS error must NOT be classified as a conflict:
        // retrying it 5× and reporting "conflict" would mask the real
        // failure, so it propagates as-is (staged dir left for the
        // next publish's orphan sweep).
        val lostRace = e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
          e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
          (scala.util.Try(fs.exists(ptrPath)).getOrElse(false))
        if (!lostRace) throw e
        fs.delete(new Path(dataDir), true)
        throw new java.io.IOException(
          s"publish conflict: version $next already committed at $root", e)
    }

    // post-commit retirement (failure here is harmless: readers follow
    // the pointer; leftovers are re-swept by the next publish)
    val rootPath = new Path(root)
    cur match {
      case Some(_) => () // previous version dirs swept below
      case None => // legacy direct layout now shadowed by version 1
        if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { s =>
          val n = s.getPath.getName
          val shadowed = n.startsWith("space=") || n == EsdbWriter.GroupingsManifest ||
            n == "_SUCCESS" || n == "assigned" || n == "centroids"
          if (shadowed) fs.delete(s.getPath, true): Unit
        }
    }
    sweepVersions(conf, root, next, keepVersions, dirName)
    dataDir
  }

  /** [[publish]] with conflict retries, for VERSION-INDEPENDENT
    * payloads: when the pointer commit loses a race, the staged dir is
    * already swept (publish's conflict path) and the build closure
    * re-runs against the NEW head — anything it reads through the
    * version pointer resolves fresh — then commits at the next number.
    * Valid only when re-running the closure against a newer head still
    * produces what the caller means (appends: predecessor ∪ batch;
    * idempotent index rebuilds). NOT for compactions/deletes, which
    * rewrite a SPECIFIC predecessor and must surface its loss loudly.
    */
  def publishRetrying(conf: Configuration, root: String, keepVersions: Int = 1,
                      maxRetries: Int = 5)(write: String => Unit): String = {
    var attempt = 0
    while (attempt <= maxRetries) {
      try return publish(conf, root, keepVersions)(write)
      catch {
        case e: java.io.IOException if attempt < maxRetries &&
            e.getMessage != null && e.getMessage.startsWith("publish conflict") =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable: retry loop exits via return or throw")
  }

  /** File-set snapshot sidecar of one committed version: written at
    * publish time (before the pointer commit), one relative data-file
    * path per line. Appends land in the current version's dir AFTER
    * its commit, so `current files − snapshot(v)` is exactly what was
    * appended since v committed — the file-level incremental read
    * behind `option("sinceVersion", v)`. Rewrite-publishing ops
    * (compact/delete/trim) rename every surviving file, so after one
    * the whole store surfaces as "new": adds-only CDC, never a missed
    * change.
    */
  val SnapshotFile = "_FILES"

  /** One parsed `_FILES` line: the rel path, the file's size, and the
    * version-dir name physically hosting it (None = the snapshot's own
    * dir). v1 snapshots recorded the rel alone; v2 stamps size and
    * host so read planning of a manifest-carrying version is ONE
    * sidecar read plus the version dir's own listing — host dirs are
    * never listed on the read path, at any carry-chain length.
    */
  final case class SnapEntry(rel: String, size: Long, host: Option[String])

  /** Parse a version's `_FILES` into v2 entries. None when the sidecar
    * is absent or v1-format (any line without the size field) — the
    * caller falls back to the walking resolve path.
    */
  def snapshotEntries(fs: FileSystem, dataDir: Path): Option[Seq[SnapEntry]] = {
    val p = new Path(dataDir, SnapshotFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    val parsed = lines.map { line =>
      line.split('\t') match {
        case Array(rel, size) => scala.util.Try(size.toLong).toOption
          .map(SnapEntry(rel, _, None))
        case Array(rel, size, host) => scala.util.Try(size.toLong).toOption
          .map(SnapEntry(rel, _, Some(host)))
        case _ => None
      }
    }
    if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
  }

  def writeSnapshot(conf: Configuration, dataDir: String): Unit = {
    val base = new Path(dataDir)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) fs.mkdirs(base)
    // LOGICAL file set: physical files plus manifest-carried ones —
    // carried rels must appear in the snapshot under their own rel
    // paths, or every rewrite reads as a full churn.
    // v2: each line stamps `rel \t size [\t hostVdir]` so the read
    // planner resolves carried entries from THIS one sidecar instead
    // of listing every referenced host dir — the listing cost moves to
    // publish time, and even there a host's sizes come from its OWN
    // immutable snapshot (entries point at original hosts, where the
    // file was physical); only a v1/absent host snapshot pays a walk.
    val physical = Carry.physicalFiles(fs, base)
    val manifest = Carry.readManifest(fs, base)
    val carried: Seq[String] =
      if (manifest.isEmpty) Nil
      else {
        val root = Carry.logicalRootOf(base).getOrElse(throw new IllegalStateException(
          s"$base carries a ${Carry.ManifestFile} but is not a version dir — " +
            "manifest carry is only defined under the publish layout"))
        manifest.toSeq.groupMap(_._2)(_._1).toSeq.flatMap { case (vdir, rels) =>
          val host = new Path(new Path(root, VersionsDir), vdir)
          val stamped: Map[String, Long] =
            snapshotEntries(fs, host)
              .map(_.map(e => e.rel -> e.size).toMap).getOrElse(Map.empty)
          lazy val walked: Map[String, Long] =
            Carry.physicalFiles(fs, host).map { case (r, st) => r -> st.getLen }.toMap
          rels.map { r =>
            val size = stamped.getOrElse(r, walked.getOrElse(r,
              throw new IllegalStateException(
                s"carry drift at $base: manifest references $vdir/$r which no " +
                  "longer exists — refusing to snapshot a torn version")))
            s"$r\t$size\t$vdir"
          }
        }
      }
    val lines = physical.map { case (r, st) => s"$r\t${st.getLen}" } ++ carried
    val out = fs.create(new Path(base, SnapshotFile), true)
    try out.write(lines.sorted.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** The live store's CURRENT data-file set (relative paths) — the
    * at-head counterpart of [[snapshotFiles]]: includes post-commit
    * appends the head version's snapshot predates.
    */
  def currentFiles(conf: Configuration, root: String): Set[String] = {
    val dir = new Path(resolve(conf, root))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Set.empty else Carry.logicalRels(fs, dir).toSet
  }

  /** One version's file-level changes relative to the previous RETAINED
    * snapshot (data-file names are UUID-fresh per write and never
    * reused, so cumulative set algebra over snapshot gaps stays exact).
    * `kind`: "append" = nothing removed (a pure delta — every added
    * file holds only new rows); "rewrite" = files were replaced
    * (added files may re-encode old rows; a file-level reader must
    * reconcile); "baseline" = no earlier snapshot survives retention,
    * so the delta is unknowable. `committed` false marks the at-head
    * row: files appended into the current version's dir after its
    * commit, not yet captured by any snapshot.
    */
  final case class VersionDiff(version: Long, kind: String,
                               added: Seq[String], removed: Seq[String],
                               committed: Boolean = true)

  /** Per-version add/remove file diffs reconstructed from the retained
    * `_FILES` snapshots, oldest first, plus the uncommitted at-head
    * append row. The feed window is the retention window: versions
    * swept by vacuum fold into the next retained version's diff.
    */
  def versionDiffs(conf: Configuration, root: String): Seq[VersionDiff] = {
    val committed = committedVersions(conf, root).sortBy(_._1)
    val snaps: Seq[(Long, Set[String])] = committed.flatMap { case (v, dir) =>
      val base = new Path(new Path(root, VersionsDir), dir)
      val fs = base.getFileSystem(conf)
      val sp = new Path(base, SnapshotFile)
      if (!fs.exists(sp)) None
      else {
        val in = fs.open(sp)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        // rel is the first tab field (v2 stamps size/host after it)
        Some(v -> txt.split("\n").map(_.trim).filter(_.nonEmpty)
          .map(_.split('\t')(0)).toSet)
      }
    }
    val firstCommitted = committed.headOption.map(_._1)
    val diffs = snaps.zipWithIndex.map { case ((v, s), i) =>
      if (i == 0) {
        // no earlier snapshot: the initial load is a pure append; a
        // later first-retained version has an unknowable delta
        if (firstCommitted.contains(v))
          VersionDiff(v, "append", s.toSeq.sorted, Nil)
        else VersionDiff(v, "baseline", s.toSeq.sorted, Nil)
      } else {
        val before = snaps(i - 1)._2
        val added = (s -- before).toSeq.sorted
        val removed = (before -- s).toSeq.sorted
        VersionDiff(v, if (removed.isEmpty) "append" else "rewrite", added, removed)
      }
    }
    // at-head appends (never a rewrite: publishes always snapshot)
    val live = currentFiles(conf, root)
    val liveAdds = snaps.lastOption match {
      case Some((v, s)) =>
        val adds = (live -- s).toSeq.sorted
        if (adds.isEmpty) Nil
        else Seq(VersionDiff(v, "append", adds, Nil, committed = false))
      case None if live.nonEmpty => // direct-layout store, no publishes
        Seq(VersionDiff(0L, "baseline", live.toSeq.sorted, Nil, committed = false))
      case None => Nil
    }
    diffs ++ liveAdds
  }

  /** Version v's at-commit file set (relative paths); None when v was
    * published before snapshots existed. Fails loudly (resolveAt) when
    * v was never committed or its data has been retired.
    */
  def snapshotFiles(conf: Configuration, root: String, version: Long): Option[Set[String]] = {
    val dir = resolveAt(conf, root, version)
    val p = new Path(dir, SnapshotFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // rel is the first tab field (v2 stamps size/host after it)
    Some(txt.split("\n").map(_.trim).filter(_.nonEmpty)
      .map(_.split('\t')(0)).toSet)
  }

  /** Roll the live table back to an older committed version: commit a
    * NEW pointer whose data dir is the old version's. History stays
    * monotonic (readers follow the highest pointer, so concurrent
    * readers of the mistaken version are unaffected), no data is
    * copied or deleted beyond the normal retention sweep, and the
    * mistaken version remains pinnable while retained. Fails if the
    * target version was never committed or already swept. Returns the
    * new current version number.
    */
  def rollback(conf: Configuration, root: String, toVersion: Long,
               keepVersions: Int = 2): Long = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val cur = currentVersion(conf, root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    require(toVersion != cur._1, s"version $toVersion is already current at $root")
    val dirName = versionDir(conf, root, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"version $toVersion at $root was never committed or has been retired; " +
          s"committed: ${committedVersions(conf, root).map(_._1).mkString(", ")}"))
    // a RetiredMarker-gutted file host is not a complete version: its
    // pointer survives retention, but re-pointing the head at it would
    // make the LIVE table silently serve partial data
    require(versionDataReadable(conf, root, dirName),
      s"version $toVersion at $root has been retired (its dir survives only " +
        "as a file host for newer versions' carry manifests); retained: " +
        committedVersions(conf, root).filter(v => versionDataReadable(conf, root, v._2))
          .map(_._1).mkString(", "))
    val next = cur._1 + 1
    val ptrDir = new Path(root, PtrDir)
    val fs = ptrDir.getFileSystem(conf)
    val tmp = new Path(ptrDir, s".tmp-$next-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(dirName.getBytes("UTF-8")) finally out.close()
    val ptrPath = new Path(ptrDir, s"$next.ptr")
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(ptrPath.toUri, conf)
        .rename(tmp, ptrPath)
    } catch {
      case e: Exception =>
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"rollback conflict: version $next already committed at $root", e)
    }
    sweepVersions(conf, root, next, keepVersions, dirName)
    next
  }

  /** Delete version dirs outside the retention window. Retained: data
    * dirs of committed versions in `(current - keep, current]` plus the
    * just-published dir. Everything else numbered `<= current` goes —
    * older committed versions AND crashed-publish orphans (staging dirs
    * no pointer ever referenced). A (hypothetical) newer publisher's
    * in-flight dir (`> current`) is never touched.
    */
  private def sweepVersions(conf: Configuration, root: String, current: Long,
                            keep: Int, justPublished: String): Unit = {
    val versions = new Path(root, VersionsDir)
    val fs = versions.getFileSystem(conf)
    if (!fs.exists(versions)) return
    val retained = ((current - keep + 1) to current)
      .flatMap(v => versionDir(conf, root, v)).toSet + justPublished
    // STRICTLY older numbers only: an unpointed dir numbered == current
    // is a concurrent loser still staging against the head we just
    // replaced — it will conflict (and self-delete) at its own pointer
    // commit; sweeping it mid-build turns a clean conflict into a
    // confusing job failure. It becomes sweepable next publish.
    retireDirs(conf, root, retained,
      fs.listStatus(versions).toSeq.filter { s =>
        val n = s.getPath.getName
        val v = scala.util.Try(n.takeWhile(_.isDigit).toLong).toOption
        !retained.contains(n) && v.exists(_ < current)
      }.map(_.getPath))
  }

  /** Refcount-aware retirement: a retiring version dir may still HOST
    * data files a retained version's `_CARRY` manifest references in
    * place — those files (and their `.crc` sidecars) must survive, so
    * retirement deletes per file and keeps a referenced host dir alive
    * as a pure file host (its pointer is already gone, so it can no
    * longer be read AS a version; later sweeps re-examine it once the
    * last reference retires). Unreferenced dirs delete whole, exactly
    * the pre-manifest behavior.
    */
  private def retireDirs(conf: Configuration, root: String,
                         retained: Set[String], dirs: Seq[Path]): Unit = {
    if (dirs.isEmpty) return
    val fs = new Path(root).getFileSystem(conf)
    // one manifest read per retained version; covers every retiring dir
    val referenced: Map[String, Set[String]] =
      Carry.referencedIn(fs, new Path(root), retained)
    dirs.foreach { dir =>
      referenced.get(dir.getName) match {
        case None => fs.delete(dir, true): Unit
        case Some(keepRels) =>
          // the dir survives ONLY as a file host — it no longer holds
          // the version's complete file set (unreferenced data and all
          // sidecars go below), so a pinned read must refuse it: mark
          // it BEFORE gutting (crash-safe: a marked-but-unswept dir
          // refuses pinned reads, never serves partial data)
          val mark = fs.create(new Path(dir, RetiredMarker), true)
          try mark.write("host".getBytes("UTF-8")) finally mark.close()
          // delete everything except referenced data files (+ their
          // .crc sidecars) and the dirs leading to them
          val keepDirs: Set[String] = keepRels.flatMap { r =>
            r.split('/').dropRight(1).inits.filter(_.nonEmpty).map(_.mkString("/"))
          }
          def sweep(p: Path, rel: String): Boolean = { // true = empty now
            var allGone = true
            fs.listStatus(p).foreach { st =>
              val n = st.getPath.getName
              val childRel = if (rel.isEmpty) n else s"$rel/$n"
              if (st.isDirectory) {
                if (!keepDirs.contains(childRel)) { fs.delete(st.getPath, true): Unit }
                else if (sweep(st.getPath, childRel)) { fs.delete(st.getPath, false): Unit }
                else allGone = false
              } else {
                val dataRel =
                  if (n.startsWith(".") && n.endsWith(".crc"))
                    // .crc sidecar lives and dies with its data file
                    (if (rel.isEmpty) "" else s"$rel/") + n.stripPrefix(".").stripSuffix(".crc")
                  else childRel
                // the retirement marker itself survives the gut — it is
                // what makes resolveAt refuse this dir as a version
                if (childRel == RetiredMarker) allGone = false
                else if (!keepRels.contains(dataRel)) { fs.delete(st.getPath, false): Unit }
                else allGone = false
              }
            }
            allGone
          }
          sweep(dir, ""): Unit
      }
    }
  }

  /** Retire all but the newest `keep` committed versions NOW — the
    * explicit form of the retention sweep, for stores published with a
    * wide `keepVersions` once their readers have drained. Data dirs and
    * the retired versions' pointer objects both go (a later
    * [[resolveAt]] then fails as "never committed/retired" instead of
    * dangling); the newest pointer is never touched, so concurrent
    * readers of the CURRENT version are unaffected.
    */
  def vacuum(conf: Configuration, root: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    sweepStaleStages(conf, root)
    val committed = committedVersions(conf, root)
    if (committed.size <= keep) return
    val fs = new Path(root).getFileSystem(conf)
    val retire = committed.dropRight(keep)
    val retained = committed.takeRight(keep).map(_._2).toSet
    // pointers first (the version stops resolving), then refcount-aware
    // dir retirement (files still referenced by a retained manifest
    // survive in place)
    retire.foreach { case (v, _) =>
      fs.delete(new Path(new Path(root, PtrDir), s"$v.ptr"), false): Unit
    }
    // every unpointed dir AT OR BELOW the current head retires —
    // including hosts a PREVIOUS sweep kept alive for a reference that
    // has since itself retired. The version-number guard mirrors
    // sweepVersions: a CONCURRENT publish's staging dir is numbered
    // current+1 and must never be swept out from under the publisher.
    val current = committed.last._1
    val versions = new Path(root, VersionsDir)
    if (fs.exists(versions)) {
      val hosts = fs.listStatus(versions).toSeq.map(_.getPath)
        .filter { p =>
          val n = p.getName
          val v = scala.util.Try(n.takeWhile(_.isDigit).toLong).toOption
          // strictly older (see sweepVersions): a same-numbered dir may
          // be a concurrent loser still staging
          !retained.contains(n) && !n.startsWith(".") && v.exists(_ < current)
        }
      retireDirs(conf, root, retained, hosts)
    }
  }

  /** Hadoop-conf key overriding [[sweepStaleStages]]'s grace period —
    * deployments whose row-level statements legitimately run longer
    * than the default 6h raise it (milliseconds).
    */
  val StageGraceKey = "graft.stage.sweep.grace.ms"
  val DefaultStageGraceMs: Long = 6L * 3600 * 1000

  /** Sweep orphaned row-level staging dirs (`.rl-stage-*` at the
    * logical root). The operation's own commit/abort deletes its stage;
    * a driver crash between task commits and job commit leaks one, and
    * nothing else looks at dot-dirs there. Only dirs past the grace
    * period go — a live statement's stage is younger by construction:
    * liveness is judged by the NEWEST mtime inside the dir (the
    * statement's driver touches a `_HEARTBEAT` file periodically, and
    * task writes refresh file mtimes), not the dir's own mtime, so a
    * long-running statement that staged its files early is never swept
    * mid-flight. `graceMs = None` reads [[StageGraceKey]] from `conf`.
    */
  def sweepStaleStages(conf: Configuration, root: String,
                       graceMs: Option[Long] = None): Unit = {
    val grace = graceMs.getOrElse(conf.getLong(StageGraceKey, DefaultStageGraceMs))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return
    val cutoff = System.currentTimeMillis() - grace
    fs.listStatus(rootPath).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith(".rl-stage-")) {
        val newest = (s.getModificationTime +:
          (try fs.listStatus(s.getPath).toSeq.map(_.getModificationTime)
           catch { case _: java.io.IOException => Nil })).max
        if (newest < cutoff) fs.delete(s.getPath, true): Unit
      }
    }
  }
}
