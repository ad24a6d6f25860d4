package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor side of [[EsdbStoreSource]]: each partition (one space
  * directory) k-way merges its files, which are individually sorted by
  * (grouping ASC, ts_us DESC, event_id ASC) at write time — the same
  * merge a reference reader does over per-write sorted blocks. A
  * grouping equality rides into each file as a parquet row-group +
  * record filter (the data is grouping-sorted, so non-matching row
  * groups are skipped on stats); `limit` stops the merge after N rows.
  *
  * Record materialization uses parquet-mr's Group API (row-at-a-time,
  * not vectorized) — the right trade for ordered scans, which are
  * filtered to one grouping or consumed sequentially anyway; full-table
  * analytics stay on the vectorized path via `EsdbWriter.read`.
  */
final class EsdbReaderFactory(required: StructType, grouping: Option[String],
                              groupingNotNull: Boolean, tsBounds: TsBounds,
                              hints: Seq[(String, Any)], limit: Option[Int],
                              conf: org.apache.spark.util.SerializableConfiguration,
                              columnar: Boolean = false)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EsdbMergeReader(p.asInstanceOf[EsdbInputPartition], required, grouping,
      groupingNotNull, tsBounds, hints, limit, conf.value)

  // single-compacted-file vectorized path; [[EsdbScan.columnarEligible]]
  // guarantees the preconditions scan-wide before setting the flag
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[EsdbInputPartition]
    // single file per space on this path, so the partition's byte total
    // IS the file length
    new EsdbVectorReader(Seq((part.files.head, part.totalBytes)), required, limit,
      constSpace = Some(part.space), conf = conf.value)
  }
}

object EsdbMergeReader {
  val KeyCols: Seq[String] = Seq("grouping", "ts_us", "event_id")
  val SpaceConst: Int = -2
  val NullCol: Int = -1

  /** Rows pulled off parquet by all merge readers in this JVM —
    * observable only in local mode, used by OrderedStoreSpec to assert
    * that a ts-bounded scan materializes fewer rows than the full
    * grouping (row-group skipping + record filter + early exit).
    */
  val RowsRead = new java.util.concurrent.atomic.AtomicLong()

  /** Parquet field index of `f` in `schema`: by NAME, else — for a
    * column renamed after this file was written — by parquet FIELD ID
    * ([[graft.engine.FieldIds]]: the sidecar keeps the ID under the new
    * name; ID-stamped files resolve regardless of their stored name).
    */
  def fieldIndexOf(schema: MessageType, f: org.apache.spark.sql.types.StructField): Int = {
    if (schema.containsField(f.name)) return schema.getFieldIndex(f.name)
    graft.engine.FieldIds.idOf(f) match {
      case Some(id) =>
        var i = 0
        while (i < schema.getFieldCount) {
          val t = schema.getType(i)
          if (t.getId != null && t.getId.intValue.toLong == id) return i
          i += 1
        }
        NullCol
      case None => NullCol
    }
  }

  /** Per-required-column widening flags: true where the read schema
    * wants `want` but THIS file physically stores `phys` (a file
    * written before an int→long / float→double widening) — the decoder
    * reads by physical type and up-casts.
    */
  def widenFlags(required: StructType, schema: MessageType, colIdx: Array[Int],
                 want: DataType,
                 phys: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName): Array[Boolean] =
    required.fields.zip(colIdx).map { case (f, src) =>
      src >= 0 && f.dataType == want && {
        val t = schema.getType(src)
        t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName == phys
      }
    }
}

/** k-way merge of one space's sorted files. Each file is opened ONCE
  * ([[ParquetFiles.records]]): its footer schema picks the projection
  * and the predicates, and the same reader streams the rows — no second
  * footer read, and no open parses a Hadoop config (the task's conf is
  * passed in).
  */
final class EsdbMergeReader(part: EsdbInputPartition, required: StructType,
                            grouping: Option[String], groupingNotNull: Boolean,
                            tsBounds: TsBounds, hints: Seq[(String, Any)], limit: Option[Int],
                            hadoopConf: Configuration)
  extends PartitionReader[InternalRow] {

  import EsdbMergeReader._

  /** One sorted file's streaming state: the projected schema it was
    * opened with (files may differ in idx_* columns), the per-required-
    * column field index, key indexes for the merge, and the lookahead
    * row.
    */
  private final class Cursor(val reader: ParquetFiles.Records) {
    private val schema = reader.schema
    val colIdx: Array[Int] = required.fields.map { f =>
      if (f.name == "space") SpaceConst
      else fieldIndexOf(schema, f) // name, else field ID (renamed column)
    }
    // widened-type evolution: a file written before int->long /
    // float->double widening decodes by ITS physical type and up-casts
    val int32AsLong: Array[Boolean] = widenFlags(required, schema, colIdx, LongType,
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
    val floatAsDouble: Array[Boolean] = widenFlags(required, schema, colIdx, DoubleType,
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT)
    private val gIdx = if (schema.containsField("grouping")) schema.getFieldIndex("grouping") else -1
    private val tsIdx = if (schema.containsField("ts_us")) schema.getFieldIndex("ts_us") else -1
    private val idIdx = if (schema.containsField("event_id")) schema.getFieldIndex("event_id") else -1
    var current: Group = _
    var keyGrouping: UTF8String = _
    var keyTs: Long = 0L
    var keyTsNull: Boolean = true // ACTUAL null, distinct from the sort sentinel
    var keyId: Long = 0L
    /** Pull the next row; false at EOF. */
    def advance(): Boolean = {
      current = reader.read()
      if (current == null) return false
      EsdbMergeReader.RowsRead.incrementAndGet()
      rowsPulled += 1
      keyGrouping =
        if (gIdx >= 0 && current.getFieldRepetitionCount(gIdx) > 0)
          UTF8String.fromBytes(current.getBinary(gIdx, 0).getBytes)
        else null
      keyTsNull = !(tsIdx >= 0 && current.getFieldRepetitionCount(tsIdx) > 0)
      keyTs =
        if (!keyTsNull) current.getLong(tsIdx, 0)
        else Long.MinValue // desc + NULLS LAST (sort sentinel only — see keyTsNull)
      keyId =
        if (idIdx >= 0 && current.getFieldRepetitionCount(idIdx) > 0) current.getLong(idIdx, 0)
        else Long.MinValue // asc + NULLS FIRST
      true
    }
  }

  // (grouping ASC NULLS FIRST, ts_us DESC, event_id ASC) — Spark's
  // default null orderings; string comparison is UTF8String's unsigned
  // byte order, identical to Spark's string sort
  private val cmp = new java.util.Comparator[Cursor] {
    override def compare(a: Cursor, b: Cursor): Int = {
      val g =
        if (a.keyGrouping eq b.keyGrouping) 0
        else if (a.keyGrouping == null) -1
        else if (b.keyGrouping == null) 1
        else a.keyGrouping.compareTo(b.keyGrouping)
      if (g != 0) return g
      val t = java.lang.Long.compare(b.keyTs, a.keyTs) // descending
      if (t != 0) return t
      java.lang.Long.compare(a.keyId, b.keyId)
    }
  }

  private val spaceUtf8 = UTF8String.fromString(part.space)
  private var remaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)
  private var row: InternalRow = _
  private var opened = false
  private var done = false // ts-desc early exit latched (grouping pinned)
  private val cursors = new java.util.ArrayList[Cursor]()
  private val heap = new java.util.PriorityQueue[Cursor](math.max(1, part.files.length), cmp)
  // per-task observability (EsdbMetrics; RowsRead stays the JVM-wide
  // test observable)
  private var filesOpened = 0L
  private var rowsPulled = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      EsdbMetrics.Task(EsdbMetrics.FilesOpened, filesOpened),
      EsdbMetrics.Task(EsdbMetrics.RowsMerged, rowsPulled),
      EsdbMetrics.Task(EsdbMetrics.EarlyExits,
        (if (done) 1L else 0L) + (if (remaining == 0L) 1L else 0L)))

  /** Equality hint → parquet predicate, typed from THIS file's schema;
    * None when the column is absent or the physical type doesn't match
    * the hinted value (the post-scan filter still enforces it).
    */
  private def hintPredicate(schema: MessageType, col: String, v: Any): Option[FilterPredicate] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (!schema.containsField(col)) return None
    val field = schema.getFields.get(schema.getFieldIndex(col))
    if (!field.isPrimitive) return None
    (field.asPrimitiveType().getPrimitiveTypeName, v) match {
      case (BINARY, s: String) =>
        Some(FilterApi.eq(FilterApi.binaryColumn(col), Binary.fromString(s)))
      case (INT64, l: java.lang.Long) => Some(FilterApi.eq(FilterApi.longColumn(col), l))
      case (INT32, i: java.lang.Integer) => Some(FilterApi.eq(FilterApi.intColumn(col), i))
      case (DOUBLE, d: java.lang.Double) => Some(FilterApi.eq(FilterApi.doubleColumn(col), d))
      case (BOOLEAN, b: java.lang.Boolean) => Some(FilterApi.eq(FilterApi.booleanColumn(col), b))
      case _ => None
    }
  }

  /** ts-bound → parquet predicates: exact (row-group stats skipping AND
    * record-level filtering, which also excludes null-ts rows — SQL
    * comparison semantics). The merge loop re-checks as a second line
    * of defense and supplies the ts-desc early exit.
    */
  private def tsPredicates: Seq[FilterPredicate] = {
    val c = FilterApi.longColumn("ts_us")
    // each branch ascribed to the public interface: the if-LUB of
    // Gt/GtEq is the package-private Operators.ColumnFilterPredicate,
    // which fails with IllegalAccessError at runtime if referenced
    tsBounds.lower.map(lo =>
      if (tsBounds.lowerInclusive) FilterApi.gtEq(c, Long.box(lo)): FilterPredicate
      else FilterApi.gt(c, Long.box(lo)): FilterPredicate).toSeq ++
      tsBounds.upper.map(hi =>
        if (tsBounds.upperInclusive) FilterApi.ltEq(c, Long.box(hi)): FilterPredicate
        else FilterApi.lt(c, Long.box(hi)): FilterPredicate)
  }

  private def open(): Unit = {
    val conf = hadoopConf // session conf: object-store creds ride along
    val groupingPred: Option[FilterPredicate] = grouping match {
      case Some(v) => Some(FilterApi.eq(FilterApi.binaryColumn("grouping"), Binary.fromString(v)))
      case None if groupingNotNull =>
        Some(FilterApi.notEq(FilterApi.binaryColumn("grouping"), null.asInstanceOf[Binary]))
      case None => None
    }
    part.files.foreach { file =>
      // one open per file: the footer's schema decides the projection
      // and the predicates, and the same reader then streams the rows
      val reader = ParquetFiles.records(conf, new Path(file)) { fileSchema =>
        // A data file missing a column whose predicate this scan CLAIMED
        // handled (grouping, or ts_us under an active bound) cannot be an
        // engine-written store file — the writer always materializes
        // both. Skipping the predicate would silently return the foreign
        // file's rows unfiltered, and skipping the file would silently
        // hide them; either way the store is corrupt — say so, loudly,
        // naming the file.
        if (tsBounds.isBounded && !fileSchema.containsField("ts_us"))
          throw new IllegalStateException(
            s"store file $file has no ts_us column but this scan claimed a ts bound; " +
              "the engine writer always materializes ts_us — foreign or corrupt file in the store")
        if ((grouping.isDefined || groupingNotNull) && !fileSchema.containsField("grouping"))
          throw new IllegalStateException(
            s"store file $file has no grouping column but this scan claimed a grouping " +
              "predicate; the engine writer always materializes grouping — foreign or " +
              "corrupt file in the store")
        // per-file projection: needed columns that exist in THIS file's
        // schema (appends may add idx_* columns later); merge keys are
        // always projected so the heap can order rows
        val needed = (required.fieldNames.toSeq ++ KeyCols).distinct.filterNot(_ == "space")
        // a required field's parquet ID also selects the file's column
        // when its stored NAME predates a rename (FieldIds resolution)
        val neededIds = required.fields.flatMap(f => graft.engine.FieldIds.idOf(f)).toSet
        val projected = new MessageType(fileSchema.getName,
          fileSchema.getFields.asScala.filter(f => needed.contains(f.getName) ||
            (f.getId != null && neededIds.contains(f.getId.intValue.toLong))).asJava)
        // grouping + ts-bound predicates (exact, fully handled) + hint
        // predicates (best-effort skipping; Spark re-verifies post-scan)
        val preds = groupingPred.toSeq ++
          (if (tsBounds.isBounded) tsPredicates else Nil) ++
          hints.flatMap { case (c, v) => hintPredicate(fileSchema, c, v) }
        (projected, preds.reduceOption(FilterApi.and)
          .fold(FilterCompat.NOOP: FilterCompat.Filter)(fp => FilterCompat.get(fp)))
      }
      val c = new Cursor(reader)
      cursors.add(c)
      filesOpened += 1
      if (c.advance()) heap.add(c) else reader.close()
    }
    opened = true
  }

  override def next(): Boolean = {
    if (!opened) open()
    while (remaining > 0 && !done) {
      val c = heap.poll()
      if (c == null) return false
      // ts bound enforcement, exact: a null ts never satisfies an
      // active bound (checked on ACTUAL null presence, not the sort
      // sentinel). The parquet record filter already excludes these;
      // this is the contract-level check plus the early exit.
      val tsOk = !tsBounds.isBounded || (!c.keyTsNull && tsBounds.contains(c.keyTs))
      if (tsOk) {
        row = convert(c)
        if (c.advance()) heap.add(c) else c.reader.close()
        remaining -= 1
        return true
      }
      // Out-of-range row on a pure ts-desc stream (grouping pinned):
      // once below the lower bound — or at the nulls, which sort after
      // every value — nothing later can match; stop the whole merge
      // (the reference Scanner returning false, space.go:14).
      if (grouping.isDefined && (c.keyTsNull || tsBounds.belowLower(c.keyTs))) {
        done = true
        c.reader.close()
      } else {
        // above the upper bound (ts-desc prefix) or mixed groupings:
        // skip this row and keep merging
        if (c.advance()) heap.add(c) else c.reader.close()
      }
    }
    false
  }

  override def get(): InternalRow = row

  private def convert(c: Cursor): InternalRow = {
    val g = c.current
    val vals = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val src = c.colIdx(i)
      vals(i) =
        if (src == SpaceConst) spaceUtf8
        else if (src == NullCol || g.getFieldRepetitionCount(src) == 0) null
        else required.fields(i).dataType match {
          case StringType => UTF8String.fromBytes(g.getBinary(src, 0).getBytes)
          case BinaryType => g.getBinary(src, 0).getBytes
          case LongType =>
            if (c.int32AsLong(i)) g.getInteger(src, 0).toLong else g.getLong(src, 0)
          case IntegerType => g.getInteger(src, 0)
          case DoubleType =>
            if (c.floatAsDouble(i)) g.getFloat(src, 0).toDouble else g.getDouble(src, 0)
          case FloatType => g.getFloat(src, 0)
          case BooleanType => g.getBoolean(src, 0)
          case dt => throw new UnsupportedOperationException(
            s"esdb store column ${required.fields(i).name}: unsupported type $dt " +
              "(canonical stores carry string/binary/long/int/double/float/boolean columns)")
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = {
    cursors.asScala.foreach(c => try c.reader.close() catch { case _: Exception => () })
    cursors.clear()
    heap.clear()
  }
}
