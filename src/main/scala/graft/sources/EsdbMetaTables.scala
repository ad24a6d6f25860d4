package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.{EsdbWriter, Publish}

/** Iceberg-style metadata tables for catalog stores: `SELECT * FROM
  * esdb.t.versions` (time-travel discovery), `.files` (physical
  * layout), `.groupings` (the key-index manifest as a table),
  * `.tails` (the seal-time sidecar). All driver-computed — metadata is
  * small by design (manifests, version pointers, listings), so one
  * task serves the rows; the DATA paths never go through here.
  */
object EsdbMetaTables {

  val names: Set[String] =
    Set("versions", "files", "groupings", "tails", "changes", "policy", "clustering")

  def load(logical: String, which: String, conf: Configuration): Table = which match {
    case "versions" =>
      new MetaTable(s"esdb:$logical.versions",
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("path", StringType, nullable = false),
          StructField("is_current", BooleanType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("bytes", LongType, nullable = false))),
        () => versionRows(logical, conf))
    case "files" =>
      new MetaTable(s"esdb:$logical.files",
        StructType(Seq(
          StructField("file", StringType, nullable = false),
          StructField("space", StringType, nullable = true),
          StructField("bytes", LongType, nullable = false))),
        () => fileRows(Publish.resolve(conf, logical), conf))
    case "changes" =>
      new MetaTable(s"esdb:$logical.changes",
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("change", StringType, nullable = false),
          StructField("file", StringType, nullable = false),
          StructField("committed", BooleanType, nullable = false))),
        () => changeRows(logical, conf))
    case "groupings" =>
      new MetaTable(s"esdb:$logical.groupings",
        StructType(Seq(
          StructField("space", StringType, nullable = true),
          StructField("grouping", StringType, nullable = true))),
        () => groupingRows(logical))
    case "tails" =>
      new MetaTable(s"esdb:$logical.tails",
        StructType(Seq(
          StructField("index_name", StringType, nullable = true),
          StructField("attr", StringType, nullable = true),
          StructField("tail_event_id", LongType, nullable = true))),
        () => tailRows(logical, conf))
    case "policy" =>
      // the declared maintenance policy ([[graft.engine.Maintenance]]):
      // zero rows = unmanaged, one row = the knobs CALL maintain enforces
      new MetaTable(s"esdb:$logical.policy",
        StructType(Seq(
          StructField("retention_us", LongType, nullable = true),
          StructField("max_files_per_space", IntegerType, nullable = true),
          StructField("keep_versions", IntegerType, nullable = false),
          StructField("recluster_overlap_x100", LongType, nullable = true))),
        () => graft.engine.Maintenance.policyOf(conf, logical).toSeq.map { p =>
          new GenericInternalRow(Array[Any](
            p.retentionUs.map(Long.box).orNull,
            p.maxFilesPerSpace.map(Int.box).orNull, p.keepVersions,
            p.reclusterOverlapX100.map(Long.box).orNull))
        })
    case "clustering" =>
      // cluster-sharpness drift ([[graft.engine.ClusterHealth]]): one
      // row per declared cluster column — `overlap` is the expected
      // files a point lookup opens (1.0 = freshly clustered); zero rows
      // = the store declares no clustering
      new MetaTable(s"esdb:$logical.clustering",
        StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("files", IntegerType, nullable = false),
          StructField("overlap", DoubleType, nullable = false),
          StructField("domain_min", DoubleType, nullable = false),
          StructField("domain_max", DoubleType, nullable = false))),
        () => graft.engine.ClusterHealth.sharpness(
          org.apache.spark.sql.SparkSession.active, logical).map { s =>
          new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(s.column),
            s.files, s.overlap, s.domainMin, s.domainMax))
        })
  }

  /** (relative file, space-or-null, bytes) for one data root: store
    * layout via the space-dir walk, log layout via top-level files.
    */
  private def listData(root: String, conf: Configuration): Seq[(String, Option[String], Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    graft.engine.Carry.dataFiles(fs, p).flatMap { case (rel, st) =>
      if (rel.startsWith("space=")) {
        val space = EsdbStoreSource.unescapePathName(
          rel.substring("space=".length, rel.indexOf('/')))
        Seq((rel, Some(space), st.getLen))
      } else if (rel.endsWith(".parquet") && !rel.contains('/'))
        Seq((rel, None, st.getLen))
      else Nil
    }
  }

  private def versionRows(logical: String, conf: Configuration): Seq[InternalRow] = {
    val committed = Publish.committedVersions(conf, logical)
    val current = Publish.currentVersionNumber(conf, logical)
    val rows =
      if (committed.nonEmpty) committed.map { case (v, dir) =>
        (v, s"$logical/${Publish.VersionsDir}/$dir", current.contains(v))
      }
      // direct-layout store (no publishes yet): one synthetic version 0
      else Seq((0L, logical, true))
    rows.sortBy(_._1).map { case (v, path, cur) =>
      val data = listData(path, conf)
      new GenericInternalRow(Array[Any](v, UTF8String.fromString(path), cur,
        data.size.toLong, data.map(_._3).sum))
    }
  }

  private def fileRows(root: String, conf: Configuration): Seq[InternalRow] =
    listData(root, conf).sortBy(_._1).map { case (rel, space, bytes) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(rel),
        space.map(UTF8String.fromString).orNull, bytes))
    }

  /** Per-version add/remove file diffs ([[Publish.versionDiffs]]):
    * kind "append" = pure delta, "rewrite" = files replaced (a
    * file-level consumer must reconcile), "baseline" = no earlier
    * snapshot retained; the `committed=false` rows are at-head appends
    * not yet captured by a snapshot.
    */
  private def changeRows(logical: String, conf: Configuration): Seq[InternalRow] =
    Publish.versionDiffs(conf, logical).flatMap { d =>
      d.added.map(f => (d.version, d.kind, "add", f, d.committed)) ++
        d.removed.map(f => (d.version, d.kind, "remove", f, d.committed))
    }.map { case (v, kind, change, file, committed) =>
      new GenericInternalRow(Array[Any](v, UTF8String.fromString(kind),
        UTF8String.fromString(change), UTF8String.fromString(file), committed))
    }

  private def groupingRows(logical: String): Seq[InternalRow] =
    EsdbWriter.manifestGroupings(SparkSession.active, logical).toSeq.flatMap { pairs =>
      pairs.map { case (space, grouping) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(space), UTF8String.fromString(grouping)))
      }.sortBy(_.toString)
    }

  private def tailRows(logical: String, conf: Configuration): Seq[InternalRow] = {
    // the sidecar sits wherever seal() was pointed: the logical root
    // (the convention — survives version churn) or, for direct-layout
    // stores, the data root itself
    val candidates = Seq(logical, Publish.resolve(conf, logical)).distinct
      .map(r => new Path(r, s"${EsdbWriter.SealMarker}.tails"))
    val side = candidates.find(p => p.getFileSystem(conf).exists(p))
      .getOrElse(return Nil)
    val parts = EsdbWriter.sidecarParts(side.getFileSystem(conf), side).map(_.getPath.toString)
    if (parts.isEmpty) return Nil
    val df = SparkSession.active.read.parquet(parts: _*)
    val hasIdx = df.columns.contains("index_name")
    df.collect().toSeq.map { r =>
      new GenericInternalRow(Array[Any](
        if (hasIdx) Option(r.getString(r.fieldIndex("index_name")))
          .map(UTF8String.fromString).orNull
        else null,
        Option(r.getString(r.fieldIndex("attr"))).map(UTF8String.fromString).orNull,
        if (r.isNullAt(r.fieldIndex("tail_event_id"))) null
        else java.lang.Long.valueOf(r.getLong(r.fieldIndex("tail_event_id")))))
    }.sortBy(_.toString)
  }
}

/** Driver-computed rows behind the DSv2 read surface: metadata volume
  * is bounded (versions, file listings, manifest pairs), so one input
  * partition serves everything.
  */
private final class MetaTable(tableName: String, tableSchema: StructType,
                              compute: () => Seq[InternalRow])
  extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = tableSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(MetaPartition(compute().toArray))
        override def createReaderFactory(): PartitionReaderFactory = MetaReaderFactory
      }
    }
}

private final case class MetaPartition(rows: Array[InternalRow]) extends InputPartition

private object MetaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[MetaPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
}
