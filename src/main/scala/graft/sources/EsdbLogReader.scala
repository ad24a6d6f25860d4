package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor side of [[EsdbLogSource]]: k-way merge of the log's files
  * by `event_id` ASC. Files are written range-partitioned and sorted,
  * so steady-state the heap holds one live cursor and the merge is a
  * sequential concatenation; the heap only earns its keep when append
  * batches interleave id ranges. Pushed id bounds become parquet
  * row-group + record filters, are re-checked exactly on each merged
  * row, and stop the whole merge at the first row past the upper bound
  * (the stream is ascending — the reference Scanner's early exit,
  * stream/stream.go:92-124).
  */
final class EsdbLogReaderFactory(required: StructType, idBounds: TsBounds,
                                 limit: Option[Int],
                                 conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EsdbLogMergeReader(p.asInstanceOf[EsdbLogPartition], required, idBounds, limit,
      conf.value)

  // disjoint-range concatenation path, decided PER PARTITION at
  // planning: [[EsdbLogScan.vectorOrder]] verifies the preconditions
  // (footer-proven disjoint null-free id ranges, any claimed bound
  // vacuous, canonical column types) and fixes the read order before
  // attaching the file list to the partition
  override def supportColumnarReads(p: InputPartition): Boolean =
    p.asInstanceOf[EsdbLogPartition].vectorFiles.isDefined

  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new EsdbVectorReader(p.asInstanceOf[EsdbLogPartition].vectorFiles.get.toSeq,
      required, limit, constSpace = None, conf = conf.value)
}

final class EsdbLogMergeReader(part: EsdbLogPartition, required: StructType,
                               idBounds: TsBounds, limit: Option[Int],
                               hadoopConf: Configuration)
  extends PartitionReader[InternalRow] {

  private final class Cursor(val reader: ParquetFiles.Records) {
    private val schema = reader.schema
    val colIdx: Array[Int] = required.fields.map { f =>
      if (schema.containsField(f.name)) schema.getFieldIndex(f.name) else -1
    }
    // widened-type evolution (see EsdbMergeReader.widenFlags)
    val int32AsLong: Array[Boolean] = EsdbMergeReader.widenFlags(required, schema, colIdx,
      LongType, org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
    val floatAsDouble: Array[Boolean] = EsdbMergeReader.widenFlags(required, schema, colIdx,
      DoubleType, org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT)
    private val idIdx = if (schema.containsField("event_id")) schema.getFieldIndex("event_id") else -1
    var current: Group = _
    var keyId: Long = 0L
    var keyIdNull: Boolean = true
    def advance(): Boolean = {
      current = reader.read()
      if (current == null) return false
      EsdbMergeReader.RowsRead.incrementAndGet()
      rowsPulled += 1
      keyIdNull = !(idIdx >= 0 && current.getFieldRepetitionCount(idIdx) > 0)
      // ASC + NULLS FIRST: Spark's default null ordering for the ASC
      // ordering this scan reports — the sentinel must agree or the
      // elided sort returns rows out of the claimed order
      keyId = if (keyIdNull) Long.MinValue else current.getLong(idIdx, 0)
      true
    }
  }

  private val cmp = new java.util.Comparator[Cursor] {
    override def compare(a: Cursor, b: Cursor): Int = java.lang.Long.compare(a.keyId, b.keyId)
  }

  private var remaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)
  private var row: InternalRow = _
  private var opened = false
  private var done = false // ascending early exit latched
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

  private def idPredicates: Seq[FilterPredicate] = {
    val c = FilterApi.longColumn("event_id")
    idBounds.lower.map(lo =>
      if (idBounds.lowerInclusive) FilterApi.gtEq(c, Long.box(lo)): FilterPredicate
      else FilterApi.gt(c, Long.box(lo)): FilterPredicate).toSeq ++
      idBounds.upper.map(hi =>
        if (idBounds.upperInclusive) FilterApi.ltEq(c, Long.box(hi)): FilterPredicate
        else FilterApi.lt(c, Long.box(hi)): FilterPredicate)
  }

  private def open(): Unit = {
    val conf = hadoopConf // session conf: object-store creds ride along
    part.files.foreach { file =>
      // one open per file (see EsdbMergeReader)
      val reader = ParquetFiles.records(conf, new Path(file)) { fileSchema =>
        // a log file with no event_id column cannot be engine-written
        // (the log writer sorts by event_id, so the column always
        // exists); under a claimed id bound, silently dropping the file
        // (or its predicate) would hide a corrupt store — fail naming it
        if (idBounds.isBounded && !fileSchema.containsField("event_id")) {
          throw new IllegalStateException(
            s"log file $file has no event_id column but this scan claimed an id bound; " +
              "the log writer always materializes event_id — foreign or corrupt file in the log")
        }
        val needed = (required.fieldNames.toSeq :+ "event_id").distinct
        val projected = new org.apache.parquet.schema.MessageType(fileSchema.getName,
          fileSchema.getFields.asScala.filter(f => needed.contains(f.getName)).asJava)
        val preds = if (idBounds.isBounded) idPredicates else Nil
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
      val idOk = !idBounds.isBounded || (!c.keyIdNull && idBounds.contains(c.keyId))
      if (idOk) {
        row = convert(c)
        if (c.advance()) heap.add(c) else c.reader.close()
        remaining -= 1
        return true
      }
      // heap min past the upper bound: ids only grow from here — stop
      // the whole merge. Null ids sort FIRST (they are the heap's
      // early arrivals), so they are skipped, never latched as done.
      if (!c.keyIdNull && idBounds.aboveUpper(c.keyId)) {
        done = true
        c.reader.close()
      } else {
        // null id or below the lower bound: skip and keep merging (the
        // record filter already drops most; this is the exact check)
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
        if (src < 0 || g.getFieldRepetitionCount(src) == 0) null
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
            s"esdb log column ${required.fields(i).name}: unsupported type $dt " +
              "(log stores carry string/binary/long/int/double/float/boolean columns)")
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
