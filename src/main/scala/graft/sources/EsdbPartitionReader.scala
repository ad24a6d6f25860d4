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

/** One column of the order a layout's files were sorted in at write
  * time: a string or a long column, ascending or descending. Nulls
  * take Spark's defaults: first when ascending, last when descending.
  */
final case class KeyCol(name: String, string: Boolean, ascending: Boolean)

/** What an ordered merge applies to a partition's files:
  *  - `key`, the order every file was sorted in;
  *  - `bound` on the long key column `boundCol`, enforced exactly;
  *  - `pin`, the leading key equal to a value, and `pinNotNull`, the
  *    leading key not null;
  *  - `hints`, idx_* equalities for best-effort parquet skipping;
  *  - `limit`, the rows after which the merge stops.
  */
final case class OrderedRead(key: Seq[KeyCol], boundCol: String, bound: TsBounds,
                             pin: Option[String] = None, pinNotNull: Boolean = false,
                             hints: Seq[(String, Any)] = Nil, limit: Option[Int] = None)

object OrderedRead {
  /** A store's files: (grouping ASC, ts_us DESC, event_id ASC); a ts bound. */
  val StoreKey: Seq[KeyCol] = Seq(KeyCol("grouping", string = true, ascending = true),
    KeyCol("ts_us", string = false, ascending = false),
    KeyCol("event_id", string = false, ascending = true))

  /** A log's files: (event_id ASC); an id bound. */
  val LogKey: Seq[KeyCol] = Seq(KeyCol("event_id", string = false, ascending = true))
}

/** A unit of ordered merge: its files; the `space` every row carries
  * (a store's space directory; None for a log, whose rows carry their
  * own); and, when the planner proved it, the (file, length) order in
  * which sequential columnar decode IS the merge.
  */
trait EsdbMergePartition extends InputPartition {
  def files: Array[String]
  def constSpace: Option[String]
  def columnarFiles: Option[Array[(String, Long)]]
}

/** Executor side of [[EsdbStoreSource]] and [[EsdbLogSource]], batch and
  * micro-batch: each partition k-way merges its files, which were each
  * sorted by the layout's key at write time — the same merge a
  * reference reader does over per-write sorted blocks. A pin and a
  * bound ride into each file as parquet row-group, page and record
  * filters; the merge enforces the bound per row and, where the bound
  * can end the merge, sees the rows past it; `limit` stops the merge
  * after N rows.
  *
  * Record materialization uses parquet-mr's Group API (row-at-a-time,
  * not vectorized) — the right trade for ordered scans, which are
  * filtered to one grouping or consumed sequentially anyway; full-table
  * analytics stay on the vectorized path via `EsdbWriter.read`. A
  * partition the planner proved columnar ([[EsdbScan.columnarEligible]],
  * [[EsdbLogScan.vectorOrder]]) decodes through [[EsdbVectorReader]];
  * Spark rejects a scan that mixes row and columnar partitions, so both
  * proofs hold scan-wide or not at all.
  */
final class EsdbReaderFactory(required: StructType, read: OrderedRead,
                              conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EsdbMergeReader(p.asInstanceOf[EsdbMergePartition], required, read, conf.value)

  override def supportColumnarReads(p: InputPartition): Boolean =
    p.asInstanceOf[EsdbMergePartition].columnarFiles.isDefined

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[EsdbMergePartition]
    new EsdbVectorReader(part.columnarFiles.get.toSeq, required, read.limit, part.constSpace,
      conf.value)
  }
}

object EsdbMergeReader {
  val SpaceConst: Int = -2
  val NullCol: Int = -1

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

/** k-way merge of one partition's sorted files on `read.key`. Each file
  * is opened ONCE ([[ParquetFiles.records]]): its footer schema picks
  * the projection and the predicates, and the same reader streams the
  * rows — no second footer read, and no open parses a Hadoop config
  * (the task's conf is passed in).
  */
final class EsdbMergeReader(part: EsdbMergePartition, required: StructType,
                            read: OrderedRead, hadoopConf: Configuration)
  extends PartitionReader[InternalRow] {

  import EsdbMergeReader._

  private val key = read.key.toArray
  private val nKeys = key.length
  private val keyString = key.map(_.string)
  private val keyAsc = key.map(_.ascending)
  private val bounded = read.bound.isBounded
  private val boundAt = key.indexWhere(_.name == read.boundCol)
  require(boundAt >= 0 && !keyString(boundAt),
    s"bound column ${read.boundCol} must be a long column of the merge key ${read.key}")
  // When every key before the bound column is pinned (only the leading
  // key can be), the stream is ordered by the bound column alone: the
  // first row past the bound ends the merge.
  private val exitEarly = (0 until boundAt).forall(i => i == 0 && read.pin.isDefined)

  /** One sorted file's streaming state: the projected schema it was
    * opened with (files may differ in idx_* columns), the per-required-
    * column field index, and the lookahead row with its key decoded.
    */
  private final class Cursor(val reader: ParquetFiles.Records) {
    private val schema = reader.schema
    val colIdx: Array[Int] = required.fields.map { f =>
      if (part.constSpace.isDefined && f.name == "space") SpaceConst
      else fieldIndexOf(schema, f) // name, else field ID (renamed column)
    }
    // widened-type evolution: a file written before int->long /
    // float->double widening decodes by ITS physical type and up-casts
    val int32AsLong: Array[Boolean] = widenFlags(required, schema, colIdx, LongType,
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
    val floatAsDouble: Array[Boolean] = widenFlags(required, schema, colIdx, DoubleType,
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT)
    private val keyIdx = key.map(k =>
      if (schema.containsField(k.name)) schema.getFieldIndex(k.name) else -1)
    var current: Group = _
    // the lookahead row's key, in typed slots: a string key's value
    // (null when null); a long key's value, Long.MinValue when null —
    // a sort sentinel only, the null flag says whether it is real
    val str = new Array[UTF8String](nKeys)
    val num = new Array[Long](nKeys)
    val isNull = new Array[Boolean](nKeys)
    /** Pull the next row; false at EOF. */
    def advance(): Boolean = {
      current = reader.read()
      if (current == null) return false
      rowsPulled += 1
      var i = 0
      while (i < nKeys) {
        val src = keyIdx(i)
        val present = src >= 0 && current.getFieldRepetitionCount(src) > 0
        isNull(i) = !present
        if (keyString(i)) str(i) = if (present) UTF8String.fromBytes(current.getBinary(src, 0).getBytes) else null
        else num(i) = if (present) current.getLong(src, 0) else Long.MinValue
        i += 1
      }
      true
    }
  }

  // Spark's default null orderings: a null compares lowest (a null
  // string, the Long.MinValue sentinel), and a descending column flips
  // the result, so nulls come first ascending and last descending.
  // Strings compare in UTF8String's unsigned byte order, Spark's sort.
  private val cmp = new java.util.Comparator[Cursor] {
    override def compare(a: Cursor, b: Cursor): Int = {
      var i = 0
      while (i < nKeys) {
        val c =
          if (keyString(i)) {
            val x = a.str(i)
            val y = b.str(i)
            if (x eq y) 0
            else if (x == null) -1
            else if (y == null) 1
            else x.compareTo(y)
          } else java.lang.Long.compare(a.num(i), b.num(i))
        if (c != 0) return if (keyAsc(i)) c else -c
        i += 1
      }
      0
    }
  }

  private val spaceUtf8 = part.constSpace.map(UTF8String.fromString).orNull
  private var remaining: Long = read.limit.map(_.toLong).getOrElse(Long.MaxValue)
  private var row: InternalRow = _
  private var opened = false
  private var done = false // early exit latched
  private val cursors = new java.util.ArrayList[Cursor]()
  private val heap = new java.util.PriorityQueue[Cursor](math.max(1, part.files.length), cmp)
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

  /** The bound → parquet predicates (lower, upper). Both skip row
    * groups and pages. Each also filters records (excluding null rows
    * too — SQL comparison semantics), except, under an early exit, the
    * side a file's rows reach last: those records arrive at the merge
    * loop, which enforces the bound exactly and stops at the first row
    * past it.
    */
  private def boundPredicates: (Option[FilterPredicate], Option[FilterPredicate]) = {
    val c = FilterApi.longColumn(read.boundCol)
    val b = read.bound
    // each branch ascribed to the public interface: the if-LUB of
    // Gt/GtEq is the package-private Operators.ColumnFilterPredicate,
    // which fails with IllegalAccessError at runtime if referenced
    (b.lower.map(lo =>
      if (b.lowerInclusive) FilterApi.gtEq(c, Long.box(lo)): FilterPredicate
      else FilterApi.gt(c, Long.box(lo)): FilterPredicate),
      b.upper.map(hi =>
        if (b.upperInclusive) FilterApi.ltEq(c, Long.box(hi)): FilterPredicate
        else FilterApi.lt(c, Long.box(hi)): FilterPredicate))
  }

  private def open(): Unit = {
    val lead = key.head.name
    val pinPred: Option[FilterPredicate] = read.pin match {
      case Some(v) => Some(FilterApi.eq(FilterApi.binaryColumn(lead), Binary.fromString(v)))
      case None if read.pinNotNull =>
        Some(FilterApi.notEq(FilterApi.binaryColumn(lead), null.asInstanceOf[Binary]))
      case None => None
    }
    // pin + bound (exact, fully handled); hints are added per file
    val (lower, upper) = if (bounded) boundPredicates else (None, None)
    // an ascending file reaches the upper side last, a descending one the lower
    val past = if (!exitEarly) None else if (keyAsc(boundAt)) upper else lower
    val claimedCols = pinPred.map(_ => lead).toSeq ++ (if (bounded) Seq(read.boundCol) else Nil)
    // per-file projection: needed columns that exist in THIS file's
    // schema (appends may add idx_* columns later); key columns are
    // always projected so the heap can order rows
    val needed = (required.fieldNames.toSeq ++ read.key.map(_.name)).toSet
    // a required field's parquet ID also selects the file's column
    // when its stored NAME predates a rename (FieldIds resolution)
    val neededIds = required.fields.flatMap(f => graft.engine.FieldIds.idOf(f)).toSet
    part.files.foreach { file =>
      // one open per file: the footer's schema decides the projection
      // and the predicates, and the same reader then streams the rows
      val reader = ParquetFiles.records(hadoopConf, new Path(file)) { fileSchema =>
        // A data file missing a column whose predicate this scan CLAIMED
        // handled (the pinned key, or the bound column under an active
        // bound) cannot be engine-written — the writers always
        // materialize both. Skipping the predicate would silently return
        // the foreign file's rows unfiltered, and skipping the file would
        // silently hide them; either way the store is corrupt — say so,
        // loudly, naming the file.
        claimedCols.find(c => !fileSchema.containsField(c)).foreach { c =>
          throw new IllegalStateException(
            s"file $file has no $c column but this scan claimed a predicate on it; " +
              s"the engine writer always materializes $c — foreign or corrupt file in the store")
        }
        val projected = new MessageType(fileSchema.getName,
          fileSchema.getFields.asScala.filter(f => needed.contains(f.getName) ||
            (f.getId != null && neededIds.contains(f.getId.intValue.toLong))).asJava)
        // hint predicates: best-effort skipping; Spark re-verifies post-scan
        val preds = pinPred.toSeq ++ read.hints.flatMap { case (c, v) => hintPredicate(fileSchema, c, v) }
        def filter(ps: Seq[FilterPredicate]) = ps.reduceOption(FilterApi.and)
          .fold(FilterCompat.NOOP: FilterCompat.Filter)(fp => FilterCompat.get(fp))
        val bound = lower.toSeq ++ upper
        (projected, filter(preds ++ bound), filter(preds ++ bound.filterNot(past.contains)))
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
      // bound enforcement, exact: a null never satisfies an active
      // bound (checked on the null flag, not the sort sentinel). Under
      // an early exit parquet does not filter the records past the
      // bound, so the first of them arrives here.
      val v = c.num(boundAt)
      val isNull = c.isNull(boundAt)
      if (!bounded || (!isNull && read.bound.contains(v))) {
        row = convert(c)
        if (c.advance()) heap.add(c) else c.reader.close()
        remaining -= 1
        return true
      }
      // Past the bound in the bound column's direction: descending, a
      // row below the lower bound or a null (nulls sort last);
      // ascending, a row above the upper bound (nulls sort first and
      // are skipped). With the keys before it pinned, nothing later can
      // match, so the whole merge stops — the reference Scanner
      // returning false (space.go:14, stream/stream.go:92-124).
      val past =
        if (keyAsc(boundAt)) !isNull && read.bound.aboveUpper(v)
        else isNull || read.bound.belowLower(v)
      if (exitEarly && past) {
        done = true
        c.reader.close()
      } else if (c.advance()) heap.add(c)
      else c.reader.close()
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
            s"esdb column ${required.fields(i).name}: unsupported type $dt " +
              "(stores and logs carry string/binary/long/int/double/float/boolean columns)")
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
