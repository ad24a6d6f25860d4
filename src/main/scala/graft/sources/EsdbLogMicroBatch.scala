package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming consumption of a LOG store — the reference's
  * open-stream read loop made a Structured Streaming source: a consumer
  * holds a resumable offset into the append log and each wakeup reads
  * exactly the events appended since (stream/stream.go:92-124's
  * `Iterate(offset, fn)` called repeatedly; `populate`'s recovery
  * replay is the same loop from zero, open_stream.go:219-241).
  *
  * Offsets are the log's own `event_id`s (monotone by the append
  * contract), so the checkpoint IS the reference's persisted offset:
  * batch N covers `(lastSeen, latest]`, enforced exactly by the same
  * bounded merge reader the batch path uses — id range claimed,
  * re-checked row-wise, ascending early exit. The write-time id-range
  * manifest prunes files wholly at-or-below the consumed offset, so a
  * tail read costs the appended suffix, not the log's history.
  *
  * Appends land as new files and are picked up at the next trigger
  * (`latestOffset` re-reads the manifest); `Trigger.AvailableNow`
  * drains to the current head and terminates — the batch-equivalent
  * form the correctness gate oracles.
  */
/** `maxRowsPerTrigger` / `maxFilesPerTrigger` opt into admission
  * control: a cold-start catch-up (the reference's `populate` replay
  * from offset zero) drains as a SEQUENCE of bounded micro-batches
  * instead of one backlog-sized batch — incremental checkpoints,
  * bounded task sets, steady progress. Batch boundaries land on log
  * file boundaries (the manifest's per-file max ids), so the row cap
  * is honored at file granularity — the same contract as Spark's own
  * file source — and after the first batch every subsequent batch
  * counts exactly (no straddling file is ever half-consumed twice).
  */
final class EsdbLogMicroBatch(path: String, required: StructType,
                              parallel: Boolean = false,
                              maxRowsPerTrigger: Option[Long] = None,
                              maxFilesPerTrigger: Option[Int] = None)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import EsdbLogMicroBatch._

  private def spark = SparkSession.active

  private def manifestRanges(): Map[String, (Long, Long)] =
    graft.engine.EsdbWriter.logManifestRanges(
      spark.sparkContext.hadoopConfiguration, path).getOrElse(Map.empty)

  /** Per-visible-file (max event_id, row count): manifest rows for
    * covered files, one footer probe for any the manifest misses (a
    * store written before manifests existed, or a crash between append
    * and manifest refresh), so appends are never silently invisible to
    * the stream. Rows with NULL event_id have no offset and are
    * invisible to the streaming surface by construction (bounds
    * exclude nulls); `rows` is -1 when unknown (old manifest rows).
    */
  private def fileFacts(): Seq[FileFact] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return Nil
    val info = graft.engine.EsdbWriter.logManifestInfo(hconf, path).getOrElse(Map.empty)
    // LogCommits visibility: a half-written streaming batch must not
    // advance the head (its rows would be consumed then rewritten)
    graft.engine.LogCommits.visibleDataFiles(fs, root).flatMap { f =>
      info.get(f.getPath.getName) match {
        case Some(i) => Some(FileFact(i.maxId, i.rows))
        case None =>
          // a file without a proven id range (or only negative ids) adds nothing
          val facts = ParquetFiles.facts(hconf, f.getPath)
          facts.longRange("event_id").collect { case (_, mx) if mx >= 0 => FileFact(mx, facts.rows) }
      }
    }
  }

  /** Newest event_id currently in the log; -1 on an empty log. */
  private def headId(): Long = {
    val facts = fileFacts()
    if (facts.isEmpty) -1L else facts.map(_.maxId).max
  }

  override def initialOffset(): Offset = LogOffset(-1L)

  override def latestOffset(): Offset = LogOffset(math.max(headId(), -1L))

  /** Source-declared limit from the reader options — how Spark's own
    * sources surface per-trigger caps (the execution loop only ever
    * uses what this returns).
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxRowsPerTrigger.map(ReadLimit.maxRows),
      maxFilesPerTrigger.map(ReadLimit.maxFiles)).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The admission decision: advance the consumer's offset over at
    * most the limit's worth of pending files (ascending max_id), never
    * zero files when data is pending — guaranteed progress. End
    * offsets are always file max-ids, so after the first batch the row
    * cap counts exactly; a file with unknown row count (pre-count
    * manifest row) conservatively ends its batch.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogOffset].lastSeen
    // under an AvailableNow drain the prepare-time facts are reused
    // across triggers (one listing for the whole drain, not one per
    // bounded batch) and the fence keeps the final offset exactly at
    // the prepared head, so the query terminates
    val facts = fence match {
      case Some((cap, prepared)) => prepared.filter(_.maxId <= cap)
      case None => fileFacts()
    }
    val pending = facts.filter(_.maxId > from).sortBy(_.maxId)
    if (pending.isEmpty) return LogOffset(from)
    LogOffset(admit(pending, limit))
  }

  /** Trigger.AvailableNow: capture the head (and the listing) once;
    * every subsequent bounded batch walks toward exactly that offset.
    */
  @volatile private var fence: Option[(Long, Seq[FileFact])] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val facts = fileFacts()
    val head = if (facts.isEmpty) -1L else facts.map(_.maxId).max
    fence = Some((head, facts))
  }

  private def admit(pending: Seq[FileFact], limit: ReadLimit): Long = limit match {
    case _: ReadAllAvailable => pending.last.maxId
    case f: ReadMaxFiles => pending.take(math.max(1, f.maxFiles())).last.maxId
    case r: ReadMaxRows =>
      var taken = 0
      var sum = 0L
      var stop = false
      while (taken < pending.length && !stop) {
        val rows = pending(taken).rows
        // always admit the first pending file; stop AFTER a file whose
        // count is unknown (can't prove the next one fits)
        if (taken > 0 && (rows < 0 || sum < 0 || sum + rows > r.maxRows())) stop = true
        else { sum = if (rows < 0) -1L else sum + rows; taken += 1 }
      }
      pending.take(math.max(1, taken)).last.maxId
    case c: CompositeReadLimit =>
      // most restrictive wins; every branch admits >= 1 file
      c.getReadLimits.map(l => admit(pending, l)).min
    case _ => pending.last.maxId
  }

  /** True head for progress reporting, independent of the cap. */
  override def reportLatestOffset(): Offset = LogOffset(math.max(headId(), -1L))

  override def deserializeOffset(json: String): Offset = LogOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LogOffset].lastSeen
    val to = end.asInstanceOf[LogOffset].lastSeen
    rememberBounds(from, to)
    if (to <= from) return Array.empty
    // manifest file pruning, as in the batch scan: files wholly at or
    // below the consumed offset never open; unmanifested files are
    // conservatively read (the bounded reader re-checks row-wise)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) return Array.empty
    val ranges = manifestRanges()
    val kept = graft.engine.LogCommits.visibleDataFiles(fs, root)
      .filter { f =>
        ranges.get(f.getPath.getName) match {
          case Some((_, mx)) => mx > from
          case None => true
        }
      }
      .sortBy(_.getPath.getName)
    if (kept.isEmpty) Array.empty
    else {
      // The batch bounds (from, to] ride the exact bounded merge
      // reader — or, when the footer proof holds (disjoint null-free
      // ranges wholly inside (from, to], the steady state for both a
      // full drain and a file-aligned suffix read), the vectorized
      // concatenation path, carried on each partition.
      //
      // Under option("parallel") the batch itself splits into one
      // partition per manifest-proven disjoint id-range file group: a
      // backlog replay (the reference's `populate`,
      // open_stream.go:219-241) runs as wide as the log's file groups
      // instead of serializing one reader per micro-batch. Exact
      // (from, to] coverage is enforced per reader either way; what
      // the option trades away is the single-cursor per-batch global
      // order, so it is OPT-IN — default consumers keep the
      // one-partition merge order they were built against.
      val groups =
        if (!parallel) Seq(kept)
        else EsdbLogScan.disjointGroups(kept, ranges).getOrElse(Seq(kept))
      EsdbLogScan.groupPartitions(groups, required, batchBounds,
        spark.sparkContext.hadoopConfiguration).asInstanceOf[Array[InputPartition]]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsdbReaderFactory(required, OrderedRead(OrderedRead.LogKey, "event_id", batchBounds),
      new org.apache.spark.util.SerializableConfiguration(EsdbVectorReader.sessionConf()))

  // planInputPartitions and createReaderFactory are called once per
  // batch, in that order, with the same offsets — capture the bounds
  // for the factory
  @volatile private var batchBounds: TsBounds = TsBounds.unbounded

  override def commit(end: Offset): Unit = () // checkpoint-managed

  override def stop(): Unit = ()

  override def toString: String = s"EsdbLogMicroBatch($path)"

  /** Spark calls planInputPartitions(start, end) then
    * createReaderFactory(); remember the range for the factory.
    */
  private[sources] def rememberBounds(from: Long, to: Long): Unit =
    batchBounds = TsBounds.unbounded.withLower(from, inclusive = false)
      .withUpper(to, inclusive = true)
}

object EsdbLogMicroBatch {
  /** The consumer's resumable position: the newest event_id it has
    * fully processed (the reference's persisted stream offset).
    */
  final case class LogOffset(lastSeen: Long) extends Offset {
    override def json(): String = lastSeen.toString
  }

  /** One pending file as admission control sees it: its newest id and
    * its row count (-1 = unknown).
    */
  final case class FileFact(maxId: Long, rows: Long)
}
