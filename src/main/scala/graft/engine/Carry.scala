package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Reference-based predecessor carry: how a new store version keeps
  * the predecessor files a rewrite did not touch.
  *
  * esdb data files are write-once, so a new version only NAMES the
  * files it keeps: each becomes one line of its `_CARRY` sidecar,
  * referencing the file IN PLACE in the version dir that physically
  * wrote it (the snapshot-manifest scheme of log-structured table
  * formats). Commit cost is O(changed files) on every filesystem; no
  * link support is needed, so HDFS and S3-class stores run the same
  * scheme as the local one. Files outside the `_versions` tree (the
  * legacy direct layout) are copied once, on the store's first
  * versioned rewrite.
  *
  * `_CARRY` format: one `<versionDirName>\t<relPath>` line per carried
  * file. Invariant the whole scheme stands on: a data file's relative
  * path (`space=…[/bucket=…]/name.parquet`, or `name.parquet` in a
  * log) is IDENTICAL in every version that references it, and file
  * names are UUID-fresh per write, never reused — so a (vdir, rel)
  * pair names one immutable physical file forever. Entries always
  * point at the ORIGINAL host dir (copying a predecessor's own
  * manifest entries verbatim keeps resolution one hop).
  *
  * Vacuum/retention is refcount-aware: a retired version's dir may
  * still host files a retained version references —
  * [[Publish.sweepVersions]] and [[Publish.vacuum]] delete per FILE,
  * keeping referenced hosts alive (see `referencedIn`).
  */
object Carry {

  val ManifestFile = "_CARRY"

  /** rel → host version-dir name; empty when the version carries
    * nothing (or was written before reference carry).
    */
  def readManifest(fs: FileSystem, dataDir: Path): Map[String, String] = {
    val p = new Path(dataDir, ManifestFile)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val txt = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
    txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed $ManifestFile line at $dataDir: '$line'")
      line.substring(i + 1) -> line.substring(0, i)
    }.toMap
  }

  /** Merge `entries` (rel → host vdir) into the staging dir's manifest.
    * Staging dirs are single-writer, so read-modify-write is safe; the
    * whole sidecar commits with the version pointer.
    */
  def appendManifest(fs: FileSystem, dataDir: Path,
                     entries: Map[String, String]): Unit = {
    if (entries.isEmpty) return
    val merged = readManifest(fs, dataDir) ++ entries
    val out = fs.create(new Path(dataDir, ManifestFile), true)
    try out.write(merged.toSeq.sortBy(_._1)
      .map { case (rel, v) => s"$v\t$rel" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The logical store root a version data dir belongs to: its
    * grandparent when it sits under `_versions`, else None (legacy
    * direct layout — the data dir IS the root, nothing is versioned).
    */
  def logicalRootOf(dataDir: Path): Option[Path] = {
    val parent = dataDir.getParent
    if (parent != null && parent.getName == Publish.VersionsDir &&
        parent.getParent != null)
      Some(parent.getParent)
    else None
  }

  /** Version-dir name physically hosting `file`, when `file` lives
    * under `root/_versions/<vdir>/…` of the SAME store. None → the
    * file can only carry physically (legacy direct layout).
    */
  def vdirOf(root: Path, file: Path): Option[String] = {
    val versions = new Path(root, Publish.VersionsDir)
    var p = file.getParent
    var child = file
    while (p != null) {
      if (p.toUri.getPath == versions.toUri.getPath)
        return Some(child.getName)
      child = p
      p = p.getParent
    }
    None
  }

  /** Recursive physical data-file walk, same visibility rule as
    * [[Publish]] snapshots: `_`/`.`-prefixed names (files AND dirs)
    * are invisible at every level.
    */
  def physicalFiles(fs: FileSystem, dir: Path,
                    rel: String = ""): Seq[(String, FileStatus)] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) physicalFiles(fs, st.getPath, s"$rel$n/")
      else if (st.getLen > 0) Seq(s"$rel$n" -> st)
      else Nil
    }
  }

  /** The COMPLETE logical data-file set a version serves:
    * physically-present files plus manifest-carried ones, each with
    * the FileStatus of its physical location. Carried entries are
    * snapshot-priced ([[resolveCarried]]): sizes come from the
    * version's own `_FILES`, host dirs are never listed, and drift
    * (a referenced file gone — a vacuum bug or external deletion)
    * refuses loudly at the file open; on the legacy walking path it
    * refuses here. A torn version is never served silently.
    */
  def dataFiles(fs: FileSystem, dataDir: Path): Seq[(String, FileStatus)] = {
    val physical = physicalFiles(fs, dataDir)
    val manifest = readManifest(fs, dataDir)
    if (manifest.isEmpty) return physical
    assertNoShadow(physical.map(_._1), manifest, dataDir)
    physical ++ resolveCarried(fs, dataDir, manifest)
  }

  /** Host-dir listings performed by the WALKING resolve path — a test
    * hook: the snapshot-priced contract is that reads of a version
    * whose `_FILES` stamps sizes never list a host dir, at any carry
    * chain length.
    */
  val hostWalks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Resolve manifest entries to physical statuses, SNAPSHOT-PRICED:
    * the version's own `_FILES` (v2) stamps every logical file's size,
    * so carried entries resolve to synthesized statuses — zero host-dir
    * listings, one sidecar read, flat in the carry-chain length. Drift
    * (a referenced file deleted out from under a retained manifest)
    * surfaces at the actual file open, which fails loudly with the
    * missing path — a torn version is never served silently, it just
    * refuses at read instead of at planning. Legacy v1 snapshots (and
    * staging dirs, which have no snapshot yet) fall back to the
    * walking [[resolveEntries]], which probes existence eagerly.
    */
  def resolveCarried(fs: FileSystem, dataDir: Path,
                     entries: Map[String, String]): Seq[(String, FileStatus)] = {
    if (entries.isEmpty) return Nil
    logicalRootOf(dataDir) match {
      case Some(root) =>
        Publish.snapshotEntries(fs, dataDir) match {
          case Some(snap) =>
            val sizes = snap.iterator.map(e => e.rel -> e.size).toMap
            if (entries.keysIterator.forall(sizes.contains)) {
              val versions = new Path(root, Publish.VersionsDir)
              entries.toSeq.map { case (rel, vdir) =>
                val p = fs.makeQualified(new Path(new Path(versions, vdir), rel))
                rel -> new FileStatus(sizes(rel), false, 1, 0L, 0L, p)
              }
            } else resolveEntries(fs, dataDir, entries)
          case None => resolveEntries(fs, dataDir, entries)
        }
      case None => resolveEntries(fs, dataDir, entries)
    }
  }

  /** The one drift rule every resolved listing enforces: a rel both
    * physically present and manifest-carried has two candidate copies,
    * and silently picking one is never acceptable.
    */
  def assertNoShadow(physicalRels: Seq[String], manifest: Map[String, String],
                     at: Path): Unit = {
    val shadowed = physicalRels.filter(manifest.contains)
    if (shadowed.nonEmpty) throw new IllegalStateException(
      s"carry drift at $at: ${shadowed.size} file(s) both physically " +
        s"present and manifest-carried (e.g. ${shadowed.head}) — refusing " +
        "to guess which copy is authoritative")
  }

  /** Resolve manifest entries (rel → host vdir) to physical statuses —
    * one host-dir walk per referenced version dir, not one stat per
    * file (an object-store listing is one round trip per dir; a
    * per-file HEAD would be one per carried file). Same drift refusal
    * as [[dataFiles]].
    */
  def resolveEntries(fs: FileSystem, dataDir: Path,
                     entries: Map[String, String]): Seq[(String, FileStatus)] = {
    if (entries.isEmpty) return Nil
    val root = logicalRootOf(dataDir).getOrElse(throw new IllegalStateException(
      s"$dataDir carries a $ManifestFile but is not a version dir — " +
        "manifest carry is only defined under the publish layout"))
    entries.toSeq.groupMap(_._2)(_._1).toSeq.flatMap { case (vdir, rels) =>
      val host = new Path(new Path(root, Publish.VersionsDir), vdir)
      hostWalks.incrementAndGet()
      val present: Map[String, FileStatus] = physicalFiles(fs, host).toMap
      rels.map { r =>
        r -> present.getOrElse(r, throw new IllegalStateException(
          s"carry drift at $dataDir: manifest references $vdir/$r which no " +
            "longer exists — the hosting version was vacuumed out from under " +
            "a retained reference, or the file was deleted externally"))
      }
    }
  }

  /** Logical rel-path set (cheap form of [[dataFiles]]: no host-dir
    * walks, no drift check) — what `_FILES` snapshots record.
    */
  def logicalRels(fs: FileSystem, dataDir: Path): Seq[String] =
    (physicalFiles(fs, dataDir).map(_._1) ++
      readManifest(fs, dataDir).keys).distinct

  /** Resolve snapshot rel names of ONE version to physical paths —
    * the change-feed's file reader. Missing manifest entries refuse
    * as in [[dataFiles]]; physically-present rels resolve in place
    * without an existence probe (the parquet open fails loudly anyway).
    */
  def resolvePaths(fs: FileSystem, dataDir: Path,
                   rels: Seq[String]): Seq[Path] = {
    if (rels.isEmpty) return Nil
    val manifest = readManifest(fs, dataDir)
    if (manifest.isEmpty) return rels.map(new Path(dataDir, _))
    val root = logicalRootOf(dataDir).getOrElse(
      return rels.map(new Path(dataDir, _)))
    rels.map { r =>
      manifest.get(r) match {
        case Some(vdir) =>
          new Path(new Path(new Path(root, Publish.VersionsDir), vdir), r)
        case None => new Path(dataDir, r)
      }
    }
  }

  /** All (hostVdir → rels) references made by the given version dirs'
    * manifests — the refcount input for retention sweeps.
    */
  def referencedIn(fs: FileSystem, root: Path,
                   vdirs: Iterable[String]): Map[String, Set[String]] = {
    val versions = new Path(root, Publish.VersionsDir)
    vdirs.iterator
      .flatMap(d => readManifest(fs, new Path(versions, d)).toSeq)
      .toSeq.groupMap(_._2)(_._1).view.mapValues(_.toSet).toMap
  }
}
