package graft.sources

import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 read path for LOG-layout stores written by
  * [[graft.engine.EsdbWriter.writeLog]] — the stream-side dual of
  * [[EsdbStoreSource]]. The reference's stream file is a flat append
  * log whose physical order IS insertion order, so `Stream.Iterate`
  * never sorts and resumes from a byte offset for free
  * (stream/stream.go:92-124). A vanilla parquet read of the same data
  * reports no ordering, so every `EventLog.iterate` pays a full sort
  * of data that is already id-ordered on disk.
  *
  * This source closes that gap:
  *  - the writer lays files out range-partitioned and sorted by
  *    `event_id`; the scan is ONE [[InputPartition]] whose reader
  *    k-way merges the files by event_id — a single partition, so the
  *    reported (event_id ASC) ordering is GLOBAL and Catalyst elides
  *    the iterate's Sort entirely (log consumption is sequential by
  *    nature, exactly as in the reference);
  *  - `event_id` range predicates (the resume offset) push down
  *    exactly: whole files are pruned on the write-time manifest's
  *    min/max before any open, parquet row-group stats + record
  *    filters skip within files, and the merge stops at the first row
  *    past an upper bound (ascending early exit);
  *  - orderBy(event_id)-limit is absorbed via [[SupportsPushDownTopN]]
  *    — resumable pagination (`iterate(from).limit(n)`) reads n rows
  *    from the offset and stops, the reference's page-read pattern.
  *
  * Analytical queries over log stores should use the vectorized parquet
  * path; this source exists for ordered consumption.
  */
class EsdbLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "esdblog"

  /** Table-load-time resolution pins a DataFrame to one store version;
    * `option("version", n)` pins an older committed version while the
    * publish retention window keeps it.
    */
  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val logical = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("esdblog source requires a path"))
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    Option(options.get("version")) match {
      case Some(v) => graft.engine.Publish.resolveAt(hconf, logical, v.toLong)
      case None => graft.engine.Publish.resolve(hconf, logical)
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EsdbLogSource.canonicalSchema(pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        props: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(props)
    new EsdbLogTable(pathOf(opts), schema,
      writePath = if (opts.containsKey("version")) None else Option(opts.get("path")))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object EsdbLogSource {
  /** The write-time schema sidecar when present (one small read; kept
    * unioned across appends/epochs), else Spark's mergeSchema footer
    * inference — single-footer inference would race between pre- and
    * post-evolution files. Canonical columns first either way.
    */
  def canonicalSchema(path: String): StructType = {
    val spark = SparkSession.active
    val raw = graft.engine.EsdbWriter
      .schemaManifest(spark.sparkContext.hadoopConfiguration, path)
      .map(graft.engine.FieldIds.active) // tombstoned (dropped) fields stay hidden
      .getOrElse(spark.read.option("mergeSchema", "true").parquet(path).schema)
    val lead = Seq("space", "grouping", "ts_us", "event_id", "value", "payload")
      .flatMap(n => raw.fields.find(_.name == n))
    val rest = raw.fields.filterNot(f => lead.exists(_.name == f.name))
    StructType(lead ++ rest)
  }
}

/** `writePath` is the LOGICAL store root when this binding may accept
  * appends; `None` marks a read-only binding (version-pinned snapshot).
  */
final class EsdbLogTable(path: String, tableSchema: StructType,
                         writePath: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = s"esdblog:$path"

  /** Marker-derived TBLPROPERTIES (layout, cdc, policy,
    * seal) — same introspection surface as the bucketed store table.
    */
  // cached per binding, but an errored computation (transient FS
  // hiccup, no active session on the first calling thread) is retried
  // on the next call instead of sticking for the table's lifetime
  @volatile private var tableProps: java.util.Map[String, String] = _
  override def properties(): java.util.Map[String, String] = {
    var p = tableProps
    if (p == null || p.containsKey("properties.error")) {
      p = EsdbTableProperties.of(path, writePath)
      tableProps = p
    }
    p
  }

  /** Log history trim as SQL: `DELETE FROM log WHERE event_id < X` —
    * exactly the prefix trims the range-partitioned layout executes as
    * whole-file drops plus one straddler rewrite
    * ([[graft.engine.EsdbWriter.trimLog]]). Any other translatable
    * predicate takes the footer-stats copy-on-write
    * ([[graft.engine.EsdbWriter.deleteWhereLog]]): only files whose
    * stats admit a match rewrite. TRUNCATE carries the epoch markers
    * so replaying streaming sinks stay exactly-once.
    */
  private def isTrim(filters: Array[Filter]): Boolean =
    filters.forall {
      case LessThan("event_id", _: java.lang.Long) => true
      case LessThanOrEqual("event_id", _: java.lang.Long) => true
      case IsNotNull("event_id") => true
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    } && filters.exists {
      case LessThan("event_id", _) | LessThanOrEqual("event_id", _) => true
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writePath.isDefined && (filters.isEmpty || isTrim(filters) ||
      (filters.nonEmpty && graft.engine.DeleteWhere.translate(filters.toSeq).isDefined))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val logical = writePath.getOrElse(throw new UnsupportedOperationException(
      s"$name is a version-pinned snapshot and read-only"))
    val spark = SparkSession.active
    if (filters.isEmpty) graft.engine.EsdbWriter.truncate(spark, logical)
    else if (isTrim(filters)) {
      val bound: Option[(Long, Boolean)] = filters.collect {
        case LessThan("event_id", v: java.lang.Long) => (v.longValue(), false)
        case LessThanOrEqual("event_id", v: java.lang.Long) => (v.longValue(), true)
      }.sortBy { case (v, incl) => (v, incl) }.headOption
      bound match {
        case Some((before, incl)) =>
          graft.engine.EsdbWriter.trimLog(spark, logical, before, inclusive = incl)
        case None => graft.engine.EsdbWriter.truncate(spark, logical)
      }
    } else graft.engine.EsdbWriter.deleteWhereLog(spark, logical, filters.toSeq)
  }

  override def truncateTable(): Boolean = {
    val logical = writePath.getOrElse(throw new UnsupportedOperationException(
      s"$name is a version-pinned snapshot and read-only"))
    graft.engine.EsdbWriter.truncate(SparkSession.active, logical)
    true
  }
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    if (writePath.isDefined)
      // BATCH_WRITE admits the write at analysis; V1_BATCH_WRITE routes
      // batch execution through the V1Write fallback the builder
      // produces; STREAMING_WRITE enables the native exactly-once
      // writeStream sink (EsdbLogStreamingWrite)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.STREAMING_WRITE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsdbLogScanBuilder(path, tableSchema,
      parallel = options.getBoolean("parallel", false),
      maxRowsPerTrigger = Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    writePath match {
      case Some(logical) => new EsdbWriteBuilder(logical, tableSchema, logLayout = true, Some(info))
      case None => throw new UnsupportedOperationException(
        s"$name is a version-pinned snapshot and read-only; write to the live store path")
    }
}

/** `parallel = true` opts into replay mode: the scan plans one
  * partition per manifest-proven disjoint id-range file group instead
  * of one global merge, trading the single global cursor for
  * near-linear replay parallelism (order stays exact WITHIN each
  * partition — the reported DSv2 ordering is per-partition by
  * contract). Consumers that need one global cursor keep the default.
  */
final class EsdbLogScanBuilder(path: String, tableSchema: StructType,
                               parallel: Boolean = false,
                               maxRowsPerTrigger: Option[Long] = None,
                               maxFilesPerTrigger: Option[Int] = None)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var idBounds: TsBounds = TsBounds.unbounded
  private var limit: Option[Int] = None
  private var accepted: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, rest) = filters.partition {
      // the resume offset (iterate(from) ≡ event_id >= from) and any
      // other id range: manifest file pruning + parquet record filter +
      // exact re-check and ascending early exit in the merge reader
      case GreaterThan("event_id", _: java.lang.Long) => true
      case GreaterThanOrEqual("event_id", _: java.lang.Long) => true
      case LessThan("event_id", _: java.lang.Long) => true
      case LessThanOrEqual("event_id", _: java.lang.Long) => true
      case IsNotNull("event_id") => true // reader drops null ids only under a bound
      case _ => false
    }
    // IsNotNull alone (no range bound) is not reader-enforced: bounce it
    val idNotNullOnly = handled.collect { case f @ IsNotNull("event_id") => f }
    val hasBound = handled.exists {
      case GreaterThan("event_id", _) | GreaterThanOrEqual("event_id", _) |
           LessThan("event_id", _) | LessThanOrEqual("event_id", _) => true
      case _ => false
    }
    val (reallyHandled, bounced) =
      if (hasBound || idNotNullOnly.isEmpty) (handled, Array.empty[Filter])
      else handled.partition(f => !idNotNullOnly.exists(_ eq f))
    reallyHandled.foreach {
      case GreaterThan("event_id", v: java.lang.Long) => idBounds = idBounds.withLower(v, inclusive = false)
      case GreaterThanOrEqual("event_id", v: java.lang.Long) => idBounds = idBounds.withLower(v, inclusive = true)
      case LessThan("event_id", v: java.lang.Long) => idBounds = idBounds.withUpper(v, inclusive = false)
      case LessThanOrEqual("event_id", v: java.lang.Long) => idBounds = idBounds.withUpper(v, inclusive = true)
      case _ => ()
    }
    accepted = accepted ++ reallyHandled
    rest ++ bounced
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushLimit(l: Int): Boolean = {
    limit = Some(math.min(l, limit.getOrElse(Int.MaxValue)))
    true
  }

  /** Absorb Sort+Limit when the requested order is (event_id ASC) — the
    * merged stream's first `l` rows ARE the page.
    */
  override def pushTopN(orders: Array[VSortOrder], l: Int): Boolean = {
    val matches = orders.length == 1 && (orders.head.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.mkString(".") == "event_id" &&
          orders.head.direction() == SortDirection.ASCENDING
      case _ => false
    })
    if (matches) { limit = Some(math.min(l, limit.getOrElse(Int.MaxValue))); true }
    else false
  }

  /** Default single-partition scan → the pushed TopN/limit is the
    * global one. Parallel replay plans many partitions, so a pushed
    * limit is only per-partition there — Spark must keep the global
    * Sort/Limit on top (each partition still stops after `l` rows).
    */
  override def isPartiallyPushed(): Boolean = parallel

  override def build(): Scan = new EsdbLogScan(path, required, idBounds, limit, parallel,
    maxRowsPerTrigger, maxFilesPerTrigger)
}

final class EsdbLogScan(path: String, required: StructType, idBounds: TsBounds,
                        limit: Option[Int], parallel: Boolean = false,
                        maxRowsPerTrigger: Option[Long] = None,
                        maxFilesPerTrigger: Option[Int] = None)
  extends Scan with Batch with SupportsReportOrdering with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def description(): String =
    s"EsdbLog $path ids=$idBounds limit=${limit.getOrElse(-1)} parallel=$parallel"

  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    EsdbMetrics.supported

  /** Streaming consumption from a resumable event_id offset — the
    * reference's open-stream read loop (see [[EsdbLogMicroBatch]]).
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new EsdbLogMicroBatch(path, required, parallel, maxRowsPerTrigger, maxFilesPerTrigger)

  // driver-side listing, memoized: planning + statistics + execution
  // share one filesystem listing (and one manifest read when bounded)
  @volatile private var listed: Array[EsdbLogPartition] = _

  private def partitions: Array[EsdbLogPartition] = {
    val cached = listed
    if (cached != null) cached
    else {
      val computed = listPartitions()
      listed = computed
      computed
    }
  }

  /** File-level pruning on the write-time log manifest (file →
    * min/max event_id, the analog of the reference log's offset
    * arithmetic): files wholly outside the pushed id range never open.
    * Files missing from the manifest are conservatively kept.
    *
    * Default: ONE partition merging every surviving file (global
    * cursor). `parallel`: the manifest's ranges partition the kept
    * files into maximal groups whose id ranges are mutually disjoint —
    * each group becomes its own InputPartition (ordered within itself,
    * groups in ascending id order), so a full replay of an N-group log
    * runs N-wide instead of serializing through one task. Any kept
    * file the manifest doesn't cover makes grouping unprovable → fall
    * back to the single global merge (correct, just not parallel).
    */
  private def listPartitions(): Array[EsdbLogPartition] = {
    EsdbScan.ListingCount.incrementAndGet()
    val spark = SparkSession.active
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    // schema inference proved the data root existed at table load; a
    // missing root now means the pinned version was retired under this
    // reader — fail loudly, never silently empty (see EsdbStoreSource)
    if (!fs.exists(root)) throw new java.io.FileNotFoundException(
      s"log data root $path is gone — its version was retired while this reader " +
        "was open; publish/compact with keepVersions >= 2 to protect long-running readers")
    // LogCommits visibility: an in-flight/crashed streaming batch's
    // files (no commit marker yet) are not part of the log
    val files = graft.engine.LogCommits.visibleDataFiles(fs, root)
      .sortBy(_.getPath.getName)
    if (files.isEmpty) return Array.empty
    val ranges: Map[String, (Long, Long)] =
      if (!idBounds.isBounded && !parallel) Map.empty
      else graft.engine.EsdbWriter.logManifestRanges(hconf, path).getOrElse(Map.empty)
    val kept =
      if (!idBounds.isBounded) files
      else files.filter { f =>
        ranges.get(f.getPath.getName) match {
          case Some((mn, mx)) => !(idBounds.belowLower(mx) || idBounds.aboveUpper(mn))
          case None => true
        }
      }
    if (kept.isEmpty) return Array.empty
    val groups =
      if (!parallel || kept.lengthCompare(1) == 0) Seq(kept)
      else EsdbLogScan.disjointGroups(kept, ranges).getOrElse(Seq(kept))
    EsdbLogScan.groupPartitions(groups, required, idBounds, hconf)
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitions.asInstanceOf[Array[InputPartition]]

  override def createReaderFactory(): PartitionReaderFactory =
    new EsdbReaderFactory(required, OrderedRead(OrderedRead.LogKey, "event_id", idBounds, limit = limit),
      new org.apache.spark.util.SerializableConfiguration(EsdbVectorReader.sessionConf()))

  /** Global (single-partition) insertion order — the log's defining
    * property, reported only when event_id survives column pruning.
    */
  override def outputOrdering(): Array[VSortOrder] =
    if (required.fieldNames.contains("event_id"))
      Array(Expressions.sort(Expressions.column("event_id"), SortDirection.ASCENDING))
    else Array.empty

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(partitions.map(_.totalBytes).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

object EsdbLogScan {
  /** Partition `files` into maximal groups whose manifest id ranges
    * are mutually disjoint (groups ascending by min id, order inside a
    * group preserved). None when any file lacks a manifest range —
    * grouping is then unprovable and callers keep one global merge.
    */
  def disjointGroups(files: Seq[org.apache.hadoop.fs.FileStatus],
                     ranges: Map[String, (Long, Long)]): Option[Seq[Seq[org.apache.hadoop.fs.FileStatus]]] = {
    if (files.exists(f => !ranges.contains(f.getPath.getName))) return None
    val sorted = files.sortBy(f => ranges(f.getPath.getName)._1)
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer(sorted.head))
    var groupMax = ranges(sorted.head.getPath.getName)._2
    sorted.tail.foreach { f =>
      val (mn, mx) = ranges(f.getPath.getName)
      if (mn > groupMax) groups += scala.collection.mutable.ArrayBuffer(f)
      else groups.last += f
      groupMax = math.max(groupMax, mx)
    }
    Some(groups.map(_.toSeq).toSeq)
  }

  /** Build one partition per group with its vector-order proof, probing
    * footers in parallel (order-preserving). Spark requires every
    * partition of one scan to agree on columnar-vs-row
    * (DataSourceV2ScanExecBase: "Cannot mix row-based and columnar
    * input partitions"), so if ANY group fails the footer proof the
    * whole scan falls back to row merge — a mixed plan would throw at
    * execution, not run slower.
    */
  def groupPartitions(groups: Seq[Seq[org.apache.hadoop.fs.FileStatus]],
                      required: StructType, idBounds: TsBounds,
                      hconf: org.apache.hadoop.conf.Configuration): Array[EsdbLogPartition] = {
    import scala.collection.parallel.CollectionConverters._
    val parts = groups.toVector.par.map { g =>
      val p = EsdbLogPartition(g.map(_.getPath.toString).toArray,
        g.map(_.getLen).toArray, g.map(_.getLen).sum)
      p.copy(columnarFiles = vectorOrder(p, required, idBounds, hconf))
    }.toArray
    if (parts.exists(_.columnarFiles.isEmpty)) parts.map(_.copy(columnarFiles = None))
    else parts
  }

  /** Footer-proof for the vectorized concatenation path, shared by the
    * batch scan and the micro-batch stream: Some(files in ascending-
    * range order) when every file's event_id range is disjoint from
    * the others, free of nulls, and any claimed id bound is provably
    * VACUOUS on every file (whole stat range inside the bounds) — the
    * conditions under which sequential columnar decode IS the bounded
    * merge. None keeps the exact row-at-a-time merge.
    */
  def vectorOrder(part: EsdbLogPartition, required: StructType, idBounds: TsBounds,
                  hconf: org.apache.hadoop.conf.Configuration): Option[Array[(String, Long)]] = {
    // footer probes are independent driver-side IO — run them in
    // parallel so planning a many-file log costs one footer round-trip,
    // not files × latency (matters for parallel replay, whose planning
    // probes every group before any task launches)
    import scala.collection.parallel.CollectionConverters._
    val ranged = part.files.zip(part.fileLengths).par.map { case (f, len) =>
      EsdbVectorReader.probe(hconf, f, required, constSpace = false)
        .filter(_.nullFree("event_id")).flatMap(_.longRange("event_id"))
        .map(r => ((f, len), r))
    }.toArray
    if (ranged.exists(_.isEmpty)) return None
    val sorted = ranged.flatten.sortBy(_._2._1)
    val disjoint = sorted.sliding(2).forall {
      case Array((_, (_, mx)), ((_, (mn2, _)))) => mx < mn2
      case _ => true
    }
    val vacuous = !idBounds.isBounded || sorted.forall {
      case (_, (mn, mx)) => idBounds.contains(mn) && idBounds.contains(mx)
    }
    if (disjoint && vacuous) Some(sorted.map(_._1)) else None
  }
}

/** One merge unit: the whole log by default (sequential consumption,
  * as in the reference's flat file), or one disjoint id-range file
  * group under parallel replay. `columnarFiles` is the planner's
  * footer-proof for THIS unit (see [[EsdbLogScan.vectorOrder]]): when
  * set, sequential columnar decode of the files in that order IS the
  * merge; when None the reader keeps the exact row-at-a-time heap.
  */
final case class EsdbLogPartition(files: Array[String], fileLengths: Array[Long],
                                  totalBytes: Long,
                                  columnarFiles: Option[Array[(String, Long)]] = None)
  extends EsdbMergePartition {
  override def constSpace: Option[String] = None
}
