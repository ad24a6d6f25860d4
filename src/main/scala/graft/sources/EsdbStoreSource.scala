package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 read path for stores written by
  * [[graft.engine.EsdbWriter]] — the piece of the reference's physical
  * design that plain parquet reads cannot express: *order is free from
  * layout*. The reference's event blocks are laid out grouped and
  * ts-descending at write time (event_block_writer.go:14-34), so its
  * scans never sort; our writer lays parquet out the same way
  * (`sortWithinPartitions(grouping, ts_us desc, event_id)` under
  * `partitionBy(space)`), but a vanilla parquet scan reports no
  * ordering, so every `EventStore.scan` re-sorts data that is already
  * sorted on disk.
  *
  * This source closes that gap:
  *  - one [[InputPartition]] per space directory, whose reader k-way
  *    merges the space's sorted files — each partition's stream is
  *    ordered by (grouping ASC, ts_us DESC, event_id ASC) by
  *    construction;
  *  - [[SupportsReportOrdering]] declares that ordering (narrowed to
  *    (ts_us DESC, event_id ASC) when a grouping equality is pushed),
  *    so Catalyst's `RemoveRedundantSorts` elides the Sort — and for a
  *    single-space scan the lone partition reports `SinglePartition`,
  *    eliding even a global sort;
  *  - space equality/IN predicates prune to matching directories (the
  *    reference's file-level SSTable lookup, esdb.go:41-60); grouping
  *    equality becomes a parquet row-group + record filter riding the
  *    (grouping, ts) sort order;
  *  - [[SupportsPushDownTopN]] absorbs orderBy-limit entirely when the
  *    requested order is the layout order — the reference Scanner's
  *    early exit (space.go:14,103-105) at plan level: the reader just
  *    stops after `limit` rows of the merged stream.
  *
  * Analytical full-table queries should keep using the vectorized
  * parquet path ([[graft.engine.EsdbWriter.read]]): one partition per
  * space is the right shape for ordered scans (which are sequential in
  * the reference too), not for whole-store aggregation.
  */
class EsdbStoreSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "esdb"

  /** Logical path → current data root ([[graft.engine.Publish]] version
    * pointer, or the path itself for direct-layout stores). Resolving at
    * table-load time pins a DataFrame to one store version — snapshot
    * isolation across a concurrent compact's publish. `option("version",
    * n)` pins an OLDER committed version instead, valid while it is
    * inside the store's publish retention window.
    */
  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val logical = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("esdb source requires a path"))
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    Option(options.get("version")) match {
      case Some(v) => graft.engine.Publish.resolveAt(hconf, logical, v.toLong)
      case None => graft.engine.Publish.resolve(hconf, logical)
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EsdbStoreSource.canonicalSchema(pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        props: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(props)
    // the reader emits UTF8String for `space` unconditionally, so a
    // user-supplied schema typing it Int/Long would ClassCastException
    // downstream — pin it to StringType exactly as canonicalSchema does
    new EsdbStoreTable(pathOf(opts),
      StructType(schema.map(f =>
        if (f.name == "space") f.copy(dataType = org.apache.spark.sql.types.StringType) else f)),
      // a version-pinned binding reads a retired snapshot root —
      // appends only ever target the live store
      writePath = if (opts.containsKey("version")) None else Option(opts.get("path")))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object EsdbStoreSource {
  /** Infer from the parquet files (Spark's own inference, so types and
    * the `space` partition column match the vanilla read path), then
    * order canonical columns first.
    */
  def canonicalSchema(path: String): StructType = {
    // `bucket` is the hot-space subpartition dir, an implementation
    // detail of the layout (like the reference's block boundaries) —
    // never a queryable column.
    // Schema evolution: the write-time sidecar holds the store's merged
    // logical schema (one small read); a legacy store without one pays
    // a mergeSchema footer sweep — single-footer inference would race
    // between pre- and post-evolution files and silently drop columns
    val spark = SparkSession.active
    val inferred = graft.engine.EsdbWriter
      .schemaManifest(spark.sparkContext.hadoopConfiguration, path)
      .map(graft.engine.FieldIds.active) // tombstoned (dropped) fields stay hidden
      .getOrElse {
        val hconf = spark.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(hconf)
        if (graft.engine.Carry.readManifest(fs, root).nonEmpty) {
          // manifest-carried version with no schema sidecar: infer from
          // the RESOLVED file set (the dir alone may hold no data) and
          // re-attach the partition-dir columns the raw files lack
          val resolved = graft.engine.Carry.dataFiles(fs, root)
            .map(_._2.getPath.toString)
          val raw = spark.read.option("mergeSchema", "true").parquet(resolved: _*).schema
          val extra = Seq("space")
            .filterNot(n => raw.fields.exists(_.name == n))
            .map(n => org.apache.spark.sql.types.StructField(
              n, org.apache.spark.sql.types.StringType))
          StructType(raw.fields ++ extra)
        } else spark.read.option("mergeSchema", "true")
          .option("basePath", path).parquet(path).schema
      }
    val raw = StructType(inferred.filterNot(_.name == "bucket"))
    val lead = Seq("space", "grouping", "ts_us", "event_id", "value", "payload")
      .flatMap(n => raw.fields.find(_.name == n))
    val rest = raw.fields.filterNot(f => lead.exists(_.name == f.name))
    // `space` is written from a STRING column and the reader emits
    // UTF8String for it unconditionally; partition-value type inference
    // would type an all-numeric space set as Int/Long and corrupt reads
    StructType((lead ++ rest).map(f =>
      if (f.name == "space") f.copy(dataType = org.apache.spark.sql.types.StringType) else f))
  }

  /** Reverse of the writer's partition-path escaping (%xx for chars
    * that are unsafe in directory names).
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** `writePath` is the LOGICAL store root when this binding may accept
  * appends; `None` marks a read-only binding (version-pinned snapshot,
  * whose `path` is a retired data root appends must never land in).
  */
final class EsdbStoreTable(path: String, tableSchema: StructType,
                           writePath: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"esdb:$path"

  /** Marker-derived TBLPROPERTIES (layout, subparts, clustering, carry
    * mode, cdc, policy, declared vector indexes, seal) — SHOW
    * TBLPROPERTIES / DESCRIBE EXTENDED answer lifecycle questions
    * without metadata-table spelunking.
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

  /** Native SQL `UPDATE` / `MERGE INTO` / predicate `DELETE FROM`,
    * planned group-based copy-on-write over the engine's footprint
    * machinery (see [[EsdbRowLevelOperation]]). Keyed `DELETE FROM`
    * stays metadata-only: Spark's OptimizeMetadataOnlyDeleteFromTable
    * converts the rewritten plan back whenever [[canDeleteWhere]]
    * accepts the predicate.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val logical = writePath.getOrElse(throw new UnsupportedOperationException(
      s"$name is a version-pinned snapshot and read-only; run DML against the live store path"))
    new EsdbRowLevelOperationBuilder(logical, tableSchema, info)
  }

  /** SQL `DELETE FROM` (GDPR scrub as pure SQL): accepted when the
    * conjunction reduces to space/grouping equality or IN — exactly
    * the deletes the layout executes as metadata-plus-targeted-rewrite
    * ([[graft.engine.EsdbWriter.delete]]); anything else refuses at
    * analysis rather than forcing a full-store rewrite. IsNotNull on a
    * column is accepted only alongside a value predicate on it (the
    * equality already implies it — alone it would target null rows,
    * which a keyed delete cannot express).
    */
  private def isKeyed(filters: Array[Filter]): Boolean = {
    def valueCol(c: String) = filters.exists {
      case EqualTo(`c`, _: String) => true
      case In(`c`, vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters.forall {
      case EqualTo("space", _: String) | EqualTo("grouping", _: String) => true
      case In("space", vs) => vs.forall(_.isInstanceOf[String])
      case In("grouping", vs) => vs.forall(_.isInstanceOf[String])
      case IsNotNull(c @ ("space" | "grouping")) => valueCol(c)
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }
  }

  // time retention: a pure upper ts bound (DELETE WHERE ts_us < X) —
  // the ts-range manifest drops expired files as metadata and only
  // straddlers rewrite (EsdbWriter.deleteOlderThan)
  private def isRetention(filters: Array[Filter]): Boolean =
    filters.nonEmpty && filters.forall {
      case LessThan("ts_us", _: java.lang.Long) => true
      case LessThanOrEqual("ts_us", _: java.lang.Long) => true
      case IsNotNull("ts_us") => true
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    } && filters.exists {
      case LessThan("ts_us", _) | LessThanOrEqual("ts_us", _) => true
      case _ => false
    }

  /** Keyed and retention shapes route to the cheaper manifest-targeted
    * deletes; any other translatable predicate routes to the footer-
    * stats copy-on-write ([[graft.engine.EsdbWriter.deleteWhere]]) —
    * only files whose stat ranges admit a match rewrite. Only shapes
    * the translator can't express (unknown Filter subclasses) refuse.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writePath.isDefined && (isKeyed(filters) || isRetention(filters) ||
      (filters.nonEmpty && graft.engine.DeleteWhere.translate(filters.toSeq).isDefined))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val logical = writePath.getOrElse(throw new UnsupportedOperationException(
      s"$name is a version-pinned snapshot and read-only"))
    val spark = SparkSession.active
    def vals(c: String): Option[Set[String]] = {
      val sets = filters.collect {
        case EqualTo(`c`, v: String) => Set(v)
        case In(`c`, vs) => vs.collect { case s: String => s }.toSet
      }
      if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
    }
    if (isRetention(filters)) {
      // tightest conjunctive upper ts bound: smaller cutoff wins; at the
      // same cutoff, strict `<` deletes fewer rows than `<=` and the
      // conjunction keeps the stricter one
      val (cutoff, incl) = filters.collect {
        case LessThan("ts_us", v: java.lang.Long) => (v.longValue(), false)
        case LessThanOrEqual("ts_us", v: java.lang.Long) => (v.longValue(), true)
      }.sortBy { case (v, i) => (v, i) }.head
      graft.engine.EsdbWriter.deleteOlderThan(spark, logical, cutoff, inclusive = incl)
    } else if (isKeyed(filters)) {
      (vals("space"), vals("grouping")) match {
        case (None, None) => graft.engine.EsdbWriter.truncate(spark, logical)
        case (sp, gr) => graft.engine.EsdbWriter.delete(spark, logical, sp, gr)
      }
    } else graft.engine.EsdbWriter.deleteWhere(spark, logical, filters.toSeq)
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
      // BATCH_WRITE admits the write at analysis (DataFrameWriter.save
      // requires it); V1_BATCH_WRITE routes execution through the
      // V1Write fallback our WriteBuilder actually produces;
      // STREAMING_WRITE enables the native exactly-once store sink
      // (writeStream.format("esdb") → EsdbStoreStreamingWrite)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.STREAMING_WRITE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // skew lever for storage-partitioned work: "true" splits a hot
    // space into multiple same-key partitions capped at the session's
    // maxPartitionBytes; an explicit byte count overrides
    val skewSplitBytes: Option[Long] = Option(options.get("skewSplit")).map {
      // byteStringAsBytes understands both bare byte counts and the
      // size-suffixed forms users actually set ("128m", "1g", "128MB")
      case "true" => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        SparkSession.active.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
      case n => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(n)
    }
    // incremental read: only files added AFTER version v committed
    // (current listing minus v's at-commit snapshot — appends land in
    // the current version's dir, so the name diff IS the delta).
    // `changesSince` is the REWRITE-AWARE variant: same name diff, but
    // it refuses when any rewrite-kind publish (delete/update/compact)
    // intervened — a file-level read would re-encode old rows as "new"
    // — and points the consumer at the row-level changesFeed instead.
    def snapshotOf(optName: String, v: String): Set[String] = {
      val logical = writePath.getOrElse(throw new IllegalArgumentException(
        s"$optName requires the live store path, not a version-pinned snapshot"))
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      graft.engine.Publish.snapshotFiles(conf, logical, v.toLong).getOrElse(
        throw new IllegalStateException(
          s"version $v at $logical has no file snapshot (published before snapshots " +
            "existed) — republish (compact) once to start recording them"))
    }
    val sinceExcluded: Option[Set[String]] =
      Option(options.get("sinceVersion")).map(snapshotOf("sinceVersion", _))
        .orElse(Option(options.get("changesSince")).map { v =>
          val excluded = snapshotOf("changesSince", v) // also enforces a live path
          val logical = writePath.get
          val conf = SparkSession.active.sparkContext.hadoopConfiguration
          val rewrites = graft.engine.Publish.versionDiffs(conf, logical)
            .filter(d => d.committed && d.version > v.toLong && d.kind != "append")
          if (rewrites.nonEmpty) throw new IllegalStateException(
            s"store at $logical was rewritten since version $v (rewrite publishes: " +
              s"${rewrites.map(_.version).mkString(", ")}) — a file-level incremental " +
              "read would re-surface rewritten rows as new; use " +
              "EsdbWriter.changesFeed(spark, path, v) for the row-level insert/delete feed")
          excluded
        })
    new EsdbScanBuilder(path, tableSchema, skewSplitBytes, sinceExcluded)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    writePath match {
      case Some(logical) => new EsdbWriteBuilder(logical, tableSchema, logLayout = false, Some(info))
      case None => throw new UnsupportedOperationException(
        s"$name is a version-pinned snapshot and read-only; write to the live store path")
    }
}

final class EsdbScanBuilder(path: String, tableSchema: StructType,
                            skewSplitBytes: Option[Long] = None,
                            sinceExcluded: Option[Set[String]] = None)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var spaces: Option[Seq[String]] = None // None = all spaces
  private var grouping: Option[String] = None
  private var groupingNotNull: Boolean = false
  private var tsBounds: TsBounds = TsBounds.unbounded
  private var hints: Seq[(String, Any)] = Nil
  private var limit: Option[Int] = None
  private var accepted: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, rest) = filters.partition {
      case EqualTo("space", _: String) => true
      case In("space", vs) => vs.forall(_.isInstanceOf[String])
      case EqualTo("grouping", _: String) => true
      case IsNotNull("space") => true // partition values are never null
      case IsNotNull("grouping") => true // parquet notEq(null) record filter
      // ts range bounds: the reference's canonical caller pattern is a
      // ts-bounded early exit on the ts-desc scan (Scanner returns
      // false — space.go:14, esdb_test.go:229-232); the reader enforces
      // the bound exactly (nulls excluded, per SQL comparison semantics)
      // and stops the merge at the first out-of-range row when the
      // stream is pure ts-desc (grouping pinned)
      case GreaterThan("ts_us", _: java.lang.Long) => true
      case GreaterThanOrEqual("ts_us", _: java.lang.Long) => true
      case LessThan("ts_us", _: java.lang.Long) => true
      case LessThanOrEqual("ts_us", _: java.lang.Long) => true
      case IsNotNull("ts_us") => true // implied by any ts bound; reader drops null ts only under a bound
      case _ => false
    }
    // IsNotNull("ts_us") alone (no range bound) is NOT handled by the
    // reader — hand it back unless a bound travels with it
    val tsNotNullOnly = handled.collect { case f @ IsNotNull("ts_us") => f }
    val hasTsBound = handled.exists {
      case GreaterThan("ts_us", _) | GreaterThanOrEqual("ts_us", _) |
           LessThan("ts_us", _) | LessThanOrEqual("ts_us", _) => true
      case _ => false
    }
    val (reallyHandled, bounced) =
      if (hasTsBound || tsNotNullOnly.isEmpty) (handled, Array.empty[Filter])
      else handled.partition(f => !tsNotNullOnly.exists(_ eq f))
    reallyHandled.foreach {
      case EqualTo("space", v: String) =>
        spaces = Some(spaces.fold(Seq(v))(_.intersect(Seq(v))))
      case In("space", vs) =>
        val s = vs.toSeq.map(_.asInstanceOf[String])
        spaces = Some(spaces.fold(s)(_.intersect(s)))
      case EqualTo("grouping", v: String) =>
        grouping = Some(v); groupingNotNull = true
      case IsNotNull("grouping") => groupingNotNull = true
      case GreaterThan("ts_us", v: java.lang.Long) => tsBounds = tsBounds.withLower(v, inclusive = false)
      case GreaterThanOrEqual("ts_us", v: java.lang.Long) => tsBounds = tsBounds.withLower(v, inclusive = true)
      case LessThan("ts_us", v: java.lang.Long) => tsBounds = tsBounds.withUpper(v, inclusive = false)
      case LessThanOrEqual("ts_us", v: java.lang.Long) => tsBounds = tsBounds.withUpper(v, inclusive = true)
      case _ => ()
    }
    accepted = accepted ++ reallyHandled
    // remaining equalities on primitive columns (e.g. idx_* index
    // lookups) ride into the reader as parquet row-group/bloom/record
    // filter HINTS — and are still returned to Spark, which re-applies
    // them post-scan, so a skipped hint can never change results
    hints = hints ++ rest.collect {
      case EqualTo(col, v @ (_: String | _: java.lang.Long | _: java.lang.Integer |
                             _: java.lang.Double | _: java.lang.Boolean))
        if col != "space" => (col, v)
    }
    rest ++ bounced
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** The ordering the merged stream naturally has, given pushed filters. */
  private def naturalOrder: Seq[(String, SortDirection)] =
    if (grouping.isDefined)
      Seq("ts_us" -> SortDirection.DESCENDING, "event_id" -> SortDirection.ASCENDING)
    else
      Seq("grouping" -> SortDirection.ASCENDING,
        "ts_us" -> SortDirection.DESCENDING, "event_id" -> SortDirection.ASCENDING)

  override def pushLimit(l: Int): Boolean = {
    limit = Some(math.min(l, limit.getOrElse(Int.MaxValue)))
    true // each partition emits at most l rows (full only if single partition)
  }

  /** Absorb Sort+Limit when the requested order is a prefix of the
    * layout order: the reader's first `l` merged rows ARE the top-N.
    */
  override def pushTopN(orders: Array[VSortOrder], l: Int): Boolean = {
    val natural = naturalOrder
    val matches = orders.length <= natural.length && orders.zip(natural).forall {
      case (o, (name, dir)) =>
        o.expression() match {
          case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
            nr.fieldNames.mkString(".") == name && o.direction() == dir
          case _ => false
        }
    }
    if (matches) { limit = Some(math.min(l, limit.getOrElse(Int.MaxValue))); true }
    else false
  }

  /** Fully pushed only when the scan provably yields ONE partition
    * (single pinned space): then the reader's output is globally
    * ordered and Spark may drop the Sort and Limit entirely.
    */
  override def isPartiallyPushed(): Boolean = !spaces.exists(_.size == 1)

  private var pushedAgg: Option[PushedAggSpec] = None

  /** Footer-only aggregate pushdown (see [[EsdbAggScan]] for the
    * correctness rules): COUNT(* | col) / MIN / MAX over orderable
    * stats-exact columns, globally or grouped by `space`. Eligible
    * only when no row-level pruning state was pushed — a grouping
    * equality, ts bound, idx hint, or limit filters rows AFTER the
    * footer counted them, so those scans stay on the row path.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (grouping.isDefined || groupingNotNull || tsBounds.isBounded ||
        hints.nonEmpty || limit.isDefined || sinceExcluded.isDefined) return false

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    // parquet footer min/max is exact for these physical types only
    // (binary stats may be truncated → strings never push)
    def orderable(name: String): Option[org.apache.spark.sql.types.DataType] =
      tableSchema.fields.find(_.name == name).map(_.dataType).filter {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.DateType => true
        case _ => false
      }

    val groupBySpace = agg.groupByExpressions match {
      case Array() => false
      case Array(e) if fieldOf(e).contains("space") => true
      case _ => return false
    }
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => PushedAggFunc.CountStarF
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).filter(n => tableSchema.fieldNames.contains(n)) match {
          case Some(n) => PushedAggFunc.CountColF(n)
          case None => return false
        }
      case m: Min =>
        fieldOf(m.column).flatMap(n => orderable(n).map(dt => PushedAggFunc.MinF(n, dt))) match {
          case Some(f) => f
          case None => return false
        }
      case m: Max =>
        fieldOf(m.column).flatMap(n => orderable(n).map(dt => PushedAggFunc.MaxF(n, dt))) match {
          case Some(f) => f
          case None => return false
        }
      case _ => return false
    }
    pushedAgg = Some(PushedAggSpec(groupBySpace, funcs))
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some(spec) =>
      new EsdbAggScan(path, spaces, spec,
        new org.apache.spark.util.SerializableConfiguration(EsdbVectorReader.sessionConf()))
    case None =>
      new EsdbScan(path, required, spaces, grouping, groupingNotNull, tsBounds, hints, limit,
        skewSplitBytes, sinceExcluded)
  }
}

/** Timestamp range pushed into the ordered reader (micros, matching the
  * `ts_us` column). `None` = unbounded on that side; repeated pushes
  * keep the tighter bound (equal values: exclusive beats inclusive).
  * Mirrors the reference's canonical "scan until a time bound" caller
  * pattern — Scanner returning false (space.go:14, esdb_test.go:229-232).
  */
final case class TsBounds(lower: Option[Long], lowerInclusive: Boolean,
                          upper: Option[Long], upperInclusive: Boolean) {
  def isBounded: Boolean = lower.isDefined || upper.isDefined

  def withLower(v: Long, inclusive: Boolean): TsBounds = lower match {
    case Some(lo) if lo > v => this
    case Some(lo) if lo == v => copy(lowerInclusive = lowerInclusive && inclusive)
    case _ => copy(lower = Some(v), lowerInclusive = inclusive)
  }

  def withUpper(v: Long, inclusive: Boolean): TsBounds = upper match {
    case Some(hi) if hi < v => this
    case Some(hi) if hi == v => copy(upperInclusive = upperInclusive && inclusive)
    case _ => copy(upper = Some(v), upperInclusive = inclusive)
  }

  /** Exact membership for a NON-NULL ts (null ts never satisfies a
    * bound, per SQL comparison semantics — callers must exclude nulls
    * separately while bounded).
    */
  def contains(ts: Long): Boolean =
    lower.forall(lo => if (lowerInclusive) ts >= lo else ts > lo) &&
      upper.forall(hi => if (upperInclusive) ts <= hi else ts < hi)

  /** True when `ts` falls below the lower bound — on a ts-DESCENDING
    * stream every later row fails too, so the scan may stop (the
    * reference Scanner's `return false` early exit).
    */
  def belowLower(ts: Long): Boolean =
    lower.exists(lo => if (lowerInclusive) ts < lo else ts <= lo)

  /** True when `v` exceeds the upper bound — the ASCENDING-stream dual
    * of [[belowLower]]: on an id-ascending merged log every later row
    * fails too, so the scan may stop.
    */
  def aboveUpper(v: Long): Boolean =
    upper.exists(hi => if (upperInclusive) v > hi else v >= hi)
}

object TsBounds {
  val unbounded: TsBounds = TsBounds(None, lowerInclusive = true, None, upperInclusive = true)
}

final class EsdbScan(path: String, required: StructType, spaces: Option[Seq[String]],
                     grouping: Option[String], groupingNotNull: Boolean,
                     tsBounds: TsBounds, hints: Seq[(String, Any)], limit: Option[Int],
                     skewSplitBytes: Option[Long] = None,
                     sinceExcluded: Option[Set[String]] = None)
  extends Scan with Batch with SupportsReportOrdering with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required

  override def description(): String =
    s"EsdbStore $path spaces=${spaces.map(_.mkString(",")).getOrElse("*")} " +
      s"grouping=${grouping.getOrElse("*")} ts=$tsBounds limit=${limit.getOrElse(-1)}"

  override def toBatch: Batch = this

  // runtime (join-driven) pruning — the DSv2 analog of dynamic
  // partition pruning: a broadcast join on `space` hands the build
  // side's key set to the scan before execution and whole space
  // directories drop out of the plan (the reference's SSTable lookup,
  // driven by another table's keys); a join on `grouping` prunes to
  // the HASH BUCKETS its keys live in (subpartitioned stores read
  // |buckets(keys)|/subparts of each space). Both are file-level only
  // — the join itself re-verifies rows, so advisory narrowing is safe.
  private var runtimeSpaces: Option[Seq[String]] = None
  private var runtimeGroupings: Option[Seq[String]] = None

  // only columns that SURVIVE pruning may be named (Spark resolves
  // every filter attribute against the scan output)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Seq("space", "grouping").filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    def values(col: String): Seq[Seq[String]] = filters.collect {
      case EqualTo(c, v: String) if c == col => Seq(v)
      case In(c, vs) if c == col && vs.forall(_.isInstanceOf[String]) =>
        vs.toSeq.map(_.asInstanceOf[String])
    }
    val sp = values("space")
    if (sp.nonEmpty) runtimeSpaces = Some(sp.reduce(_ intersect _))
    val gr = values("grouping")
    if (gr.nonEmpty) runtimeGroupings = Some(gr.reduce(_ intersect _))
  }

  // driver-side listing: one partition per space directory, its files
  // sorted by name for a deterministic merge. Memoized on the
  // runtime-filter state (runtime filters may arrive after planning and
  // must re-prune): planning, statistics estimation, and execution all
  // call this, and at object-store latencies each extra LIST round-trip
  // is real money — one scan must list the store exactly once (twice if
  // a runtime filter narrows it).
  @volatile private var listed: ((Option[Seq[String]], Option[Seq[String]]), Array[EsdbInputPartition]) = _

  private[sources] def partitions: Array[EsdbInputPartition] = {
    val key = (runtimeSpaces, runtimeGroupings)
    val cached = listed
    if (cached != null && cached._1 == key) cached._2
    else {
      val computed = listPartitions()
      listed = (key, computed)
      computed
    }
  }

  // the manifest is one scan-lifetime fact about immutable files —
  // memoized independently of the listing so a runtime filter's
  // re-listing never re-reads the sidecar
  @volatile private var tsManifestCache: Map[String, graft.engine.EsdbWriter.TsRange] = _

  private def tsManifestRanges: Map[String, graft.engine.EsdbWriter.TsRange] = {
    if (!tsBounds.isBounded) return Map.empty
    val cached = tsManifestCache
    if (cached != null) return cached
    // read on the driver: a Spark job here would run inside this
    // query's optimizer
    val computed = graft.engine.EsdbWriter.tsRangeManifest(
      SparkSession.active.sparkContext.hadoopConfiguration, path)
      .map(_.toMap).getOrElse(Map.empty)
    tsManifestCache = computed
    computed
  }

  private def listPartitions(): Array[EsdbInputPartition] = {
    EsdbScan.ListingCount.incrementAndGet()
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    // schema inference already proved the data root existed at table
    // load, so a missing root here means the pinned version was retired
    // (swept by a later publish or vacuum) while this DataFrame was
    // open — fail loudly; an empty result would be silently wrong
    if (!fs.exists(root)) throw new java.io.FileNotFoundException(
      s"store data root $path is gone — its version was retired while this reader " +
        "was open; publish/compact with keepVersions >= 2 to protect long-running readers")
    else {
      // write-time ts-range manifest: under a ts bound, files whose
      // recorded (min,max) cannot intersect — or that are provably
      // all-null-ts, which no bound admits — never open at all; the
      // file-level form of the reference's bounded block skip
      // (bounded/reader.go). Unknown files are conservatively kept.
      val tsRanges = tsManifestRanges
      // hot-space subpartitioning: a pinned or join-supplied grouping
      // lives in exactly its hash bucket, so the scan reads
      // |buckets(keys)|/subparts of each space — the read-side half of
      // the lever. The marker probe only happens when some grouping
      // constraint exists (the one case pruning can fire) —
      // unconstrained scans pay no round-trip. A contradictory
      // constraint set (planning grouping outside the join's keys)
      // yields zero wanted buckets and an empty scan, which is exact.
      val groupingConstraints: Seq[Set[String]] =
        grouping.map(Set(_)).toSeq ++ runtimeGroupings.map(_.toSet).toSeq
      val wantBuckets: Option[Set[String]] =
        if (groupingConstraints.isEmpty) None
        else {
          val effective = groupingConstraints.reduce(_ intersect _)
          val subparts = graft.engine.EsdbWriter.subpartsOf(hconf, path)
          if (subparts > 1)
            Some(effective.map(g => s"bucket=${graft.engine.EsdbWriter.bucketOf(g, subparts)}"))
          else if (effective.isEmpty) Some(Set.empty) // contradiction: no rows can match
          else None
        }
      // resolved enumeration: physical space dirs PLUS manifest-carried
      // files hosted in predecessor version dirs. Space pruning happens
      // on the rel path before any host-dir walk, so a pruned space
      // still costs zero listings beyond the root's own
      val spacePruned: Seq[(String, org.apache.hadoop.fs.FileStatus, String)] = {
        val physical = fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("space="))
          .map(s => (EsdbStoreSource.unescapePathName(s.getPath.getName.drop("space=".length)), s.getPath))
          .filter { case (v, _) => spaces.forall(_.contains(v)) && runtimeSpaces.forall(_.contains(v)) }
          .flatMap { case (space, dir) =>
            graft.engine.EsdbWriter.relativeDataFiles(fs, dir)
              .map { case (rel, f) => (rel, f, space) }
          }
        val manifest = graft.engine.Carry.readManifest(fs, root)
        if (manifest.isEmpty) physical
        else {
          // same drift refusal as Carry.dataFiles: a rel both physical
          // and manifest-carried would be planned TWICE — silently
          // duplicated rows are never acceptable
          graft.engine.Carry.assertNoShadow(physical.map(_._1), manifest, root)
          def spaceOf(rel: String): String = EsdbStoreSource.unescapePathName(
            rel.substring("space=".length, rel.indexOf('/')))
          val wanted = manifest.filter { case (rel, _) =>
            rel.startsWith("space=") && {
              val sp = spaceOf(rel)
              spaces.forall(_.contains(sp)) && runtimeSpaces.forall(_.contains(sp))
            }
          }
          physical ++ graft.engine.Carry.resolveCarried(fs, root, wanted)
            .map { case (rel, st) => (rel, st, spaceOf(rel)) }
        }
      }
      val dirs = spacePruned.groupBy(_._3).toSeq
        .map { case (space, fsl) => (space, fsl.map(t => (t._1, t._2))) }
        .sortBy(_._1)
      dirs.flatMap { case (space, spaceFiles) =>
        val files = spaceFiles
          // incremental read: drop files already in the baseline
          // version's at-commit snapshot (same relative-path format)
          .filter { case (rel, _) => sinceExcluded.forall(!_.contains(rel)) }
          .filter { case (rel, _) =>
            wantBuckets match {
              case None => true
              case Some(bs) if bs.isEmpty => false // contradictory constraints
              case Some(bs) => !rel.contains("/bucket=") || bs.exists(b => rel.contains(s"/$b/"))
            }
          }
          .filter { case (rel, _) =>
            tsRanges.get(rel).forall(r =>
              r.hasTs && !(tsBounds.belowLower(r.maxTs) || tsBounds.aboveUpper(r.minTs)))
          }
          .map(_._2)
          .sortBy(_.getPath.toString)
        if (files.isEmpty) Nil
        else skewSplitBytes match {
          case None =>
            Seq(EsdbInputPartition(space, files.map(_.getPath.toString).toArray,
              files.map(_.getLen).sum))
          case Some(cap) =>
            // skew lever: a hot space's files chunk into multiple
            // same-key partitions (greedy, >= 1 file each) so SPJ's
            // partially-clustered distribution can run the space as
            // many tasks instead of serializing one; each chunk's
            // merge reader still emits that chunk in layout order
            val chunks = scala.collection.mutable.ArrayBuffer(
              scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus])
            var sz = 0L
            files.foreach { f =>
              if (chunks.last.nonEmpty && sz + f.getLen > cap) {
                chunks += scala.collection.mutable.ArrayBuffer(f)
                sz = f.getLen
              } else { chunks.last += f; sz += f.getLen }
            }
            chunks.map(c => EsdbInputPartition(space,
              c.map(_.getPath.toString).toArray, c.map(_.getLen).sum)).toSeq
        }
      }.toArray
    }
  }

  // the columnar proof rides on the partitions: decided once per
  // listing, since planning and execution both plan the partitions
  @volatile private var proven: (Array[EsdbInputPartition], Array[EsdbInputPartition]) = _

  override def planInputPartitions(): Array[InputPartition] = {
    val ps = partitions
    var memo = proven
    if (memo == null || !(memo._1 eq ps)) {
      // single file per space on this path: the partition's byte total
      // IS the file length
      memo = (ps, if (!columnarEligible(ps)) ps
        else ps.map(p => p.copy(columnarFiles = Some(Array((p.files.head, p.totalBytes))))))
      proven = memo
    }
    memo._2.asInstanceOf[Array[InputPartition]]
  }

  /** Vectorized single-file fast path (see [[EsdbVectorReader]]):
    * allowed only when the source claims no row-level filtering the
    * decoder can't honor — a grouping equality disqualifies outright
    * (files hold many groupings); claimed ts bounds and
    * grouping-not-null qualify only when footer stats prove them
    * VACUOUS on each file (whole ts range inside the bounds, zero
    * nulls) — carries no idx_* hints (a selective hinted scan wins
    * more from record skipping), and every partition is a single
    * compacted file whose schema serves the required columns. The
    * decision is scan-wide because Spark rejects mixed row/columnar
    * partitions within one scan.
    */
  private def columnarEligible(partitions: Array[EsdbInputPartition]): Boolean =
    grouping.isEmpty && hints.isEmpty &&
      partitions.nonEmpty && partitions.forall(_.files.length == 1) && {
        val hconf = SparkSession.active.sparkContext.hadoopConfiguration
        partitions.forall { p =>
          EsdbVectorReader.probe(hconf, p.files.head, required, constSpace = true)
            .exists { facts =>
              val tsOk = !tsBounds.isBounded || (facts.nullFree("ts_us") &&
                facts.longRange("ts_us").exists {
                  case (mn, mx) => tsBounds.contains(mn) && tsBounds.contains(mx)
                })
              tsOk && (!groupingNotNull || facts.nullFree("grouping"))
            }
        }
      }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsdbReaderFactory(required,
      OrderedRead(OrderedRead.StoreKey, "ts_us", tsBounds, grouping, groupingNotNull, hints, limit),
      new org.apache.spark.util.SerializableConfiguration(EsdbVectorReader.sessionConf()))

  /** The store IS key-grouped by `space` — one input partition per
    * space directory, every row in it carrying that space — so report
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * and let Spark's storage-partitioned-join machinery (v2 bucketing)
    * drop the Exchange from `groupBy(space)` aggregations and from
    * store↔store joins keyed on space. This is the DSv2 analog of the
    * reference holding each space in its own SSTable run (esdb.go:41-60):
    * work keyed by space is already co-located by layout, and at 100 TB
    * the shuffle this removes IS the query cost. Reported only while
    * `space` survives column pruning (partitioning may only reference
    * output columns).
    */
  override def outputPartitioning(): partitioning.Partitioning =
    if (required.fieldNames.contains("space"))
      new partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity("space")), partitions.length)
    else new partitioning.UnknownPartitioning(partitions.length)

  /** Per-partition ordering of the merged stream, truncated to columns
    * that survive pruning (an ordering may only reference output
    * columns). Suppressed under skewSplit: Spark may group or
    * replicate same-key chunks, and a concatenation of two sorted
    * chunks is not sorted — the option trades the ordering claim for
    * join-side parallelism, which is why it is opt-in.
    */
  override def outputOrdering(): Array[VSortOrder] = {
    if (skewSplitBytes.isDefined) return Array.empty
    val natural =
      if (grouping.isDefined)
        Seq("ts_us" -> SortDirection.DESCENDING, "event_id" -> SortDirection.ASCENDING)
      else
        Seq("grouping" -> SortDirection.ASCENDING,
          "ts_us" -> SortDirection.DESCENDING, "event_id" -> SortDirection.ASCENDING)
    natural.takeWhile { case (n, _) => required.fieldNames.contains(n) }
      .map { case (n, d) => Expressions.sort(Expressions.column(n), d) }
      .toArray
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(partitions.map(_.totalBytes).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    EsdbMetrics.supported
}

object EsdbScan {
  /** Filesystem listings performed by all scans in this JVM — local-mode
    * observable for the listing-economy test in OrderedStoreSpec.
    */
  val ListingCount = new java.util.concurrent.atomic.AtomicLong()
}

/** One space directory: the unit of ordered merge. [[HasPartitionKey]]
  * exposes the space as the partition's key so Spark can group/validate
  * partitions for storage-partitioned joins and exchange-free
  * aggregation (every row in the partition carries exactly this space).
  */
final case class EsdbInputPartition(space: String, files: Array[String], totalBytes: Long,
                                    columnarFiles: Option[Array[(String, Long)]] = None)
  extends EsdbMergePartition with HasPartitionKey {
  override def constSpace: Option[String] = Some(space)
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(space)))
}
