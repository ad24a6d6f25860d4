package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Native SQL row-level DML — `UPDATE`, `MERGE INTO`, and predicate
  * `DELETE FROM` — planned by Spark's group-based copy-on-write
  * machinery (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable` → `ReplaceData`) against the store table.
  *
  * The "group" is a data FILE, exactly the engine's copy-on-write
  * granule: the operation's scan classifies every live file by footer
  * stats under the statement's pushed condition (the same
  * [[graft.engine.DeleteWhere.mayMatch]] planning step the engine
  * DML uses), reads ONLY the candidate files, and Spark streams every
  * surviving/updated/merged row of those groups into the operation's
  * write. Commit then publishes one new version through
  * [[graft.engine.EsdbWriter.replaceFootprint]]: replacement rows
  * engine-written (re-sorted, re-bucketed, idx_* re-derived),
  * untouched files carried byte-for-byte. The CALL procedures
  * (`merge_keyed`, `update_where`) remain thin aliases over the same
  * engine paths; keyed `DELETE FROM` keeps its metadata-only plan via
  * `SupportsDelete` (Spark's `OptimizeMetadataOnlyDeleteFromTable`
  * converts back when the predicate qualifies).
  *
  * Reference analog: the ingestion surface (writer.go:26-85) lifted to
  * declarative SQL DML; the reference itself has no mutation surface,
  * this is superset functionality expressed Spark-first.
  */
final class EsdbRowLevelOperationBuilder(logicalPath: String, tableSchema: StructType,
                                         info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new EsdbRowLevelOperation(logicalPath, tableSchema, info.command)
}

/** One DML statement's operation instance. Spark calls `newScanBuilder`
  * and `newWriteBuilder` on the SAME instance (the
  * `RowLevelOperationTable` holds it for the statement's lifetime), so
  * this object is the handoff point: the scan records the classified
  * footprint here on the driver at plan time; the write's commit
  * replaces exactly that set.
  */
final class EsdbRowLevelOperation(logicalPath: String, tableSchema: StructType,
                                  cmd: Command)
  extends RowLevelOperation {

  /** (relative path, absolute path, space, bytes) per footprint file. */
  @volatile private[sources] var footprint: Vector[(String, String, String, Long)] = Vector.empty
  @volatile private[sources] var classified = false

  override def command(): Command = cmd
  override def description(): String = s"EsdbRowLevel $cmd $logicalPath"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsdbRowLevelScanBuilder(this, logicalPath, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new EsdbReplaceBatchWrite(EsdbRowLevelOperation.this, logicalPath, schema)
        override def description(): String = s"EsdbReplaceData $logicalPath"
      }
    }
  }
}

/** Group-selection scan builder: the statement's condition arrives as
  * pushed V1 filters and is used ONLY to choose which files join the
  * footprint — every filter is returned as post-scan (the plan
  * re-evaluates the condition row-by-row), because a group-based
  * replace must surface EVERY row of a selected file, matching or not.
  */
final class EsdbRowLevelScanBuilder(op: EsdbRowLevelOperation, logicalPath: String,
                                    tableSchema: StructType)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var filters: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
  override def pushedFilters(): Array[Filter] = filters
  override def pruneColumns(r: StructType): Unit = required = r

  override def build(): Scan = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    // resolve the live head HERE: the footprint and the commit's
    // conflict check are both relative to this version
    val resolved = graft.engine.EsdbWriter.dataRoot(spark, logicalPath)
    val root = new Path(resolved)
    val fsys = root.getFileSystem(conf)
    val files = graft.engine.EsdbWriter.storeDataFiles(fsys, root)
    // footer-stat classification, probed in parallel — one footer
    // round, the planning cost the engine DML already pays. With no
    // translatable condition (e.g. MERGE ON keys against a source)
    // every file is footprint: correct, whole-store-rewrite priced —
    // and the footer round is SKIPPED (it could prune nothing);
    // merge_keyed stays the stats-bounded path for that shape.
    val fp =
      if (filters.isEmpty) files.toVector
      else files.toVector.zip(graft.engine.DeleteWhere.mayMatch(conf,
        files.map { case (_, f, sp) => f.getPath -> Some(sp) }, filters.toSeq)).collect { case (f, true) => f }
    op.footprint = fp.map { case (rel, f, sp) => (rel, f.getPath.toString, sp, f.getLen) }
    op.classified = true
    new EsdbReplaceScan(resolved, required, op.footprint)
  }
}

/** Fixed-file-list scan over the footprint: one partition per file
  * (parallel rewrite width = footprint width), full rows, no row-level
  * filtering — reuses the store's merge reader.
  */
final class EsdbReplaceScan(path: String, required: StructType,
                            footprint: Vector[(String, String, String, Long)])
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"EsdbReplaceScan $path footprint=${footprint.size} file(s)"
  override def planInputPartitions(): Array[InputPartition] =
    footprint.map { case (_, abs, sp, len) =>
      EsdbInputPartition(sp, Array(abs), len): InputPartition
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new EsdbReaderFactory(required, OrderedRead(OrderedRead.StoreKey, "ts_us", TsBounds.unbounded),
      new SerializableConfiguration(EsdbVectorReader.sessionConf()))
}

/** The replace-data write: executors stage the replacement rows as
  * plain parquet under a dot-dir (invisible to every reader), and the
  * driver's commit hands (footprint, staged rows) to the engine's
  * [[graft.engine.EsdbWriter.replaceFootprint]] — one publish, same
  * invariants as every other rewrite. Staged bytes are written twice
  * (stage + engine write); the footprint prices both, and the second
  * pass is what restores sort/bucket/cluster/idx invariants.
  */
final class EsdbReplaceBatchWrite(op: EsdbRowLevelOperation, logicalPath: String,
                                  schema: StructType) extends BatchWrite {

  private val stageDir = s"$logicalPath/.rl-stage-${UUID.randomUUID().toString.take(8)}"

  // Liveness beacon for Publish.sweepStaleStages: a concurrent vacuum
  // judges a stage dir dead by its newest inner mtime, so a statement
  // outliving the sweep grace keeps its stage alive by touching
  // _HEARTBEAT from this driver-side daemon (started with the first
  // writer factory, stopped by commit/abort — both always run).
  private val heartbeat =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "rl-stage-heartbeat"); t.setDaemon(true); t
    })

  private def stopHeartbeat(): Unit = {
    heartbeat.shutdownNow(): Unit
    // wait out any in-flight tick: its create(beat) would otherwise
    // recreate the stage dir AFTER the commit/abort deletes it,
    // leaking an orphan dot-dir until the next sweep's grace expires
    try heartbeat.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = EsdbVectorReader.sessionConf()
    val serConf = new SerializableConfiguration(conf)
    val beat = new Path(stageDir, "_HEARTBEAT")
    heartbeat.scheduleWithFixedDelay(() => {
      try {
        val fsys = beat.getFileSystem(conf)
        if (fsys.exists(new Path(stageDir)))
          fsys.create(beat, true).close() // fresh mtime each touch
      } catch { case _: Exception => () } // best-effort: never fail the write
    }, 0, 5, java.util.concurrent.TimeUnit.MINUTES)
    new EsdbStageWriterFactory(stageDir, schema, serConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new Path(stageDir)
    val fsys = stage.getFileSystem(conf)
    try {
      require(op.classified,
        "row-level write committed before its scan planned — no footprint recorded")
      // only files named by committed tasks participate: a speculative
      // or aborted attempt's leftovers in the stage dir are ignored
      val staged = messages.collect {
        case m: EsdbStreamFileMessage if m.name.nonEmpty => s"$stageDir/${m.name}"
      }.toSeq
      val rels = op.footprint.map(_._1).toSet
      if (rels.isEmpty && staged.isEmpty) return // stats-proven no-op: no version churn
      val replacement =
        if (staged.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema).parquet(staged: _*)
      graft.engine.EsdbWriter.replaceFootprint(spark, logicalPath, rels, replacement)
    } finally {
      stopHeartbeat()
      if (fsys.exists(stage)) fsys.delete(stage, true): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    stopHeartbeat()
    val stage = new Path(stageDir)
    val fsys = stage.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    if (fsys.exists(stage)) fsys.delete(stage, true): Unit
  }
}

final class EsdbStageWriterFactory(stageDir: String, schema: StructType,
                                   conf: SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new EsdbStageDataWriter(new Path(stageDir), schema, partitionId, taskId, conf.value)
}

/** One task's staged replacement rows: a single parquet file, opened
  * lazily so empty partitions leave nothing behind.
  *
  * ROW LAYOUT CAVEAT: `ReplaceDataExec` applies its row projection only
  * through `DataAndMetadataWritingSparkTask`, which it builds only when
  * the operation asked for metadata columns. With none (this
  * operation), the plain task hands over the RAW query rows —
  * `[__row_operation:int, <write-schema columns in order>]`
  * (RowDeltaUtils.OPERATION_COLUMN leads; the rest is exactly
  * `LogicalWriteInfo.schema` order, which is what the row projection
  * would have extracted). The writer detects the one-column offset on
  * the first row and strips it with a codegen'd projection; if Spark
  * ever applies the projection itself, the widths match and rows pass
  * through untouched.
  */
final class EsdbStageDataWriter(dir: Path, schema: StructType,
                                partitionId: Int, taskId: Long,
                                conf: org.apache.hadoop.conf.Configuration)
  extends DataWriter[InternalRow] {
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var file: Path = _
  private var rows = 0L
  private var shift: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      file = new Path(dir, f"part-$partitionId%05d-$taskId-" +
        UUID.randomUUID().toString.take(8) + ".parquet")
      writer = EsdbRowParquetWriter.open(file, schema, conf)
      if (row.numFields == schema.length + 1) {
        import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
        // Width alone is too weak a signal to reorder every column on:
        // require the leading field to actually look like a
        // RowDeltaUtils operation code (DELETE=1 … WRITE_WITH_METADATA=6;
        // group-based ReplaceData hands WRITE=5) so a future layout
        // change errors instead of corrupting rows.
        import org.apache.spark.sql.catalyst.util.RowDeltaUtils
        val op = try row.getInt(0) catch {
          case e: Exception => throw new IllegalStateException(
            "row-level write produced a width+1 row whose field 0 is not " +
              "an int __row_operation column; Spark's ReplaceDataExec row " +
              "layout has changed — refusing to guess the projection", e)
        }
        require(op >= RowDeltaUtils.DELETE_OPERATION &&
            op <= RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
          s"row-level write width+1 row leads with $op, not a RowDeltaUtils " +
            "operation code; refusing to strip an unrecognized leading column")
        shift = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
          case (f, i) => BoundReference(i + 1, f.dataType, f.nullable): Expression
        })
      } else require(row.numFields == schema.length,
        s"row-level write rows have ${row.numFields} fields; expected ${schema.length} " +
          s"(${schema.fieldNames.mkString(", ")}) or that plus the __row_operation column")
    }
    writer.write(if (shift != null) shift(row) else row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    EsdbStreamFileMessage(if (file == null) "" else file.getName, rows)
  }

  override def abort(): Unit = {
    if (writer != null) { try writer.close() catch { case _: Exception => () } }
    if (file != null) { file.getFileSystem(conf).delete(file, false): Unit }
  }

  override def close(): Unit = ()
}
