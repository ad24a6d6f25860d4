package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized fast path shared by the ordered store source and the log
  * source, for the shapes where their k-way merge degenerates to a
  * sequential read:
  *
  *  - a store space directory holding exactly ONE sorted file (the
  *    steady state after [[graft.engine.EsdbWriter.compact]]) — the
  *    reference's analog is a sealed single-SSTable space read by a
  *    straight block cursor, not the multi-file merge heap
  *    (sst/reader.go; merge only spans the open write set);
  *  - a log store whose files carry pairwise-DISJOINT event_id ranges
  *    (the write-time range partitioning; verified against the log
  *    manifest) — concatenating them in range order IS the merge, the
  *    reference's flat-file sequential read (stream/stream.go:10-13).
  *
  * Both decode through Spark's vectorized parquet reader batch-at-a-
  * time, an order of magnitude faster than the row-at-a-time
  * parquet-mr Group materialization the true merge needs.
  *
  * Only unfiltered-by-the-source scans qualify: a pushed grouping
  * equality / grouping-not-null / ts or id bound is CLAIMED-handled
  * (Spark plans no re-filter), and the vectorized decoder has no exact
  * record-level filtering — so the scans enable this path only when no
  * such claim is active (residual idx_* hints disable it too: a
  * selective hinted scan wins more from record skipping than from
  * vectorization). Layout order is preserved because batches stream
  * each file sequentially, in the order `files` is given.
  *
  * For space-partitioned stores the `space` column is a
  * [[ConstantColumnVector]] spliced into the batch at its required
  * position; the driver verifies every other required column exists in
  * every file with the canonical physical type, so no null-padding is
  * ever needed here. Files open through the production split
  * initializer with the session's serialized Hadoop conf — the same
  * credential/filesystem behavior as Spark's own parquet scans, on any
  * object store.
  */
final class EsdbVectorReader(files: Seq[(String, Long)], required: StructType,
                             limit: Option[Int], constSpace: Option[String],
                             conf: Configuration)
  extends PartitionReader[ColumnarBatch] {

  private val capacity = 4096
  // the parquet-side requested schema: everything but the constant
  // partition column, in required order — batch columns come back in
  // this order
  private val fileSchema = StructType(
    required.filterNot(f => constSpace.isDefined && f.name == "space"))

  private var fileIdx = -1
  private var reader: VectorizedParquetRecordReader = _
  private var inner: ColumnarBatch = _
  private var out: ColumnarBatch = _
  private var remaining: Long = limit.map(_.toLong).getOrElse(Long.MaxValue)
  private var rowsPulled = 0L

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      EsdbMetrics.Task(EsdbMetrics.FilesOpened, (fileIdx + 1).toLong),
      EsdbMetrics.Task(EsdbMetrics.RowsMerged, rowsPulled),
      EsdbMetrics.Task(EsdbMetrics.EarlyExits, if (remaining == 0L) 1L else 0L))

  /** Open files(i) through the production split initializer — the
    * session's (serialized) Hadoop conf rides in, so object-store
    * credentials and filesystem settings behave exactly as on Spark's
    * own scans. The constant space vector is spliced at its required
    * position.
    */
  private def open(i: Int): Unit = {
    fileIdx = i
    val (file, len) = files(i)
    val fconf = new Configuration(conf)
    fconf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    fconf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, fileSchema.json)
    reader = new VectorizedParquetRecordReader(/* useOffHeap = */ false, capacity)
    reader.initialize(
      new FileSplit(new Path(file), 0, len, Array.empty[String]),
      new TaskAttemptContextImpl(fconf, new TaskAttemptID()))
    inner = reader.resultBatch()
    val vecs = new Array[ColumnVector](required.length)
    var src = 0
    required.fields.zipWithIndex.foreach { case (f, j) =>
      if (constSpace.isDefined && f.name == "space") {
        val c = new ConstantColumnVector(capacity, StringType)
        c.setUtf8String(UTF8String.fromString(constSpace.get))
        vecs(j) = c
      } else {
        vecs(j) = inner.column(src)
        src += 1
      }
    }
    out = new ColumnarBatch(vecs)
  }

  override def next(): Boolean = {
    while (remaining > 0) {
      if (reader == null) {
        if (fileIdx + 1 >= files.length) return false
        open(fileIdx + 1)
      }
      if (reader.nextBatch()) {
        val n = math.min(inner.numRows().toLong, remaining).toInt
        out.setNumRows(n)
        remaining -= n
        rowsPulled += n
        return true
      }
      reader.close()
      reader = null
    }
    false
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

object EsdbVectorReader {
  /** The session Hadoop conf a vector reader ships to executors,
    * completed with the SQLConf-derived parquet keys Spark's own scans
    * pin before building a reader — `ParquetToSparkSchemaConverter
    * (conf)` reads them with a bare `.toBoolean` and fails on an
    * absent key.
    */
  def sessionConf(): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val ss = org.apache.spark.sql.SparkSession.active
    val conf = ss.sessionState.newHadoopConf()
    val sql = ss.sessionState.conf
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.getConf(SQLConf.PARQUET_BINARY_AS_STRING))
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.getConf(SQLConf.PARQUET_INT96_AS_TIMESTAMP))
    conf.setBoolean(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION.key, sql.getConf(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION))
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.getConf(SQLConf.CASE_SENSITIVE))
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, sql.getConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED))
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, sql.getConf(SQLConf.PARQUET_FIELD_ID_READ_ENABLED))
    conf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key, sql.getConf(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID))
    conf
  }

  /** Can `file` serve `required` on this path, and what does its
    * footer prove? None when the file cannot serve the scan at all: a
    * required column (minus `space` when it is a partition constant)
    * is missing or not of the canonical store physical type — the
    * exact set the row-path `convert` supports, so a fallback to the
    * row path never widens the type surface. Otherwise Some(facts),
    * which callers use to prove a CLAIMED filter vacuous (satisfied by
    * every row of the file): the only way a claimed filter may ride the
    * vectorized path, since the decoder has no record-level filtering.
    */
  def probe(conf: Configuration, file: String, required: StructType,
            constSpace: Boolean): Option[ParquetFiles.FileFacts] = {
    val facts = ParquetFiles.facts(conf, new Path(file))
    Option.when(required.fields.forall(f =>
      (constSpace && f.name == "space") || matches(facts.schema, f.name, f.dataType)))(facts)
  }

  private def matches(schema: MessageType, name: String, dt: DataType): Boolean = {
    if (!schema.containsField(name)) return false
    val field = schema.getType(schema.getFieldIndex(name))
    if (!field.isPrimitive) return false
    val prim = field.asPrimitiveType()
    val ann = prim.getLogicalTypeAnnotation
    def plain = ann == null // no logical annotation riding on the physical type
    def intAnn(bits: Int) = ann match {
      case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation => a.getBitWidth == bits && a.isSigned
      case _ => false
    }
    (prim.getPrimitiveTypeName, dt) match {
      case (PrimitiveTypeName.BINARY, StringType) =>
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case (PrimitiveTypeName.BINARY, BinaryType) => plain
      case (PrimitiveTypeName.INT64, LongType) => plain || intAnn(64)
      case (PrimitiveTypeName.INT32, IntegerType) => plain || intAnn(32)
      // widened-type evolution: Spark's vectorized reader promotes
      // int32→long and float→double when handed the wider read schema
      // (the same promotion the vanilla path relies on), so a file
      // written before a widening still qualifies for this path
      case (PrimitiveTypeName.INT32, LongType) => plain || intAnn(32)
      case (PrimitiveTypeName.DOUBLE, DoubleType) => plain
      case (PrimitiveTypeName.FLOAT, DoubleType) => plain
      case (PrimitiveTypeName.FLOAT, FloatType) => plain
      case (PrimitiveTypeName.BOOLEAN, BooleanType) => plain
      case _ => false
    }
  }
}
