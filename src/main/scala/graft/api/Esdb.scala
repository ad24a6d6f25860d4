package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{EsdbWriter, EventLog, EventStore}

/** One event as the callback API surfaces it. */
case class Event(space: String, grouping: String, ts_us: Long, event_id: Long,
                 value: Double, payload: String)

/** Drop-in-shaped façade mirroring the reference's Go API so existing
  * call sites port 1:1:
  *
  *   reference (Go)                      here (Scala)
  *   esdb.Open(path)                     Esdb.open(spark, path)
  *   db.Find(space)                      db.find(space)
  *   db.Iterate(func(space) bool)        db.iterate(space => bool)
  *   space.Scan(grouping, scanner)       space.scan(grouping)(event => bool)
  *   space.ScanIndex(name, val, scanner) space.scanIndex(name, value)(event => bool)
  *   space.Iterate(func(grouping) bool)  space.iterate(grouping => bool)
  *
  * Scanner semantics (reference space.go:14: return false to stop):
  * results come back through `toLocalIterator` and an early `false`
  * stops the callback. On a store opened by path, `scanN` pushes its
  * limit into the ordered scan as a top-N (the merge stops after n
  * rows), `scanSince` pushes its ts bound, and `scanIndexN` keeps n
  * rows of its index sort. Those reads, and `scan`, read the one space
  * partition in the calling thread with no Spark job
  * ([[graft.plans.EsdbLocalRead]]); an unbounded `scanIndex` sorts in a
  * job. Frame-backed Dbs plan `TakeOrderedAndProject` for the bounded
  * reads.
  *
  * The bulk/analytic surface stays on DataFrames ([[graft.engine.EventStore]],
  * [[graft.engine.EventLog]]); this façade is the migration shim.
  */
class Db private[api] (val events: DataFrame, storePath: Option[String] = None) {

  // path-opened stores scan through the ordering-aware DSv2 source:
  // the ts-desc contract comes from the reported layout order instead
  // of a planned Sort, so callback scans stream without sorting
  private lazy val scanFrame: DataFrame = storePath
    .map(p => EsdbWriter.readOrdered(events.sparkSession, p))
    .getOrElse(events)

  /** Reference `Db.Find` (esdb.go:41-60): None when the space has no
    * events. A store opened by path answers from its groupings sidecar
    * on the driver, with no Spark job — a space has events iff it has a
    * (space, grouping) pair — resolving the current version on every
    * call, so an in-place append shows up on the next one. Stores
    * without the sidecar (log layout, pre-manifest stores) and
    * frame-backed Dbs probe the data with a one-row limit.
    */
  def find(space: String): Option[Space] = {
    val s = new Space(scanFrame, space, storePath)
    val exists = storePath
      .flatMap(p => EventStore.spaceExistsStored(events.sparkSession, p, space))
      .getOrElse(!s.frame.limit(1).isEmpty)
    if (exists) Some(s) else None
  }

  // stores opened by path enumerate index-only (one directory listing),
  // exactly like the reference's Db.Iterate (esdb.go:63-76); frame-
  // backed Dbs (ad-hoc adapted tables) fall back to a distinct scan
  private def listedSpaces: Option[Seq[String]] =
    storePath.map(p => EventStore.iterateSpacesStored(events.sparkSession, p))

  /** Reference `Db.Iterate` (esdb.go:63-76): sorted spaces, early exit. */
  def iterate(fn: String => Boolean): Unit = listedSpaces match {
    case Some(names) => Db.consume(names.iterator, fn)
    case None => Db.consume(EventStore.iterateSpaces(events), fn)
  }

  def spaces: Seq[String] =
    listedSpaces.getOrElse(EventStore.iterateSpaces(events).collect().toSeq.map(_.getString(0)))
}

private[api] object Db {

  /** Feed names to a reference-style callback until it returns false. */
  def consume(names: Iterator[String], fn: String => Boolean): Unit = {
    var go = true
    while (go && names.hasNext) go = fn(names.next())
  }

  /** [[consume]] over a one-string-column frame, streamed to the driver
    * (`toLocalIterator`) so an early `false` stops fetching.
    */
  def consume(df: DataFrame, fn: String => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    consume(df.toLocalIterator().asScala.map(_.getString(0)), fn)
  }
}

class Space private[api] (all: DataFrame, val space: String, storePath: Option[String] = None) {

  private[api] val frame: DataFrame = all.where(col("space") === space)

  // a store opened by path answers from its groupings sidecar; stores
  // without one (and frame-backed Dbs) scan distinct groupings
  private def storedGroupings: Option[Seq[String]] =
    storePath.flatMap(p => EventStore.iterateGroupingsStored(all.sparkSession, p, space))

  private def groupingsFrame: DataFrame = EventStore.iterateGroupings(
    storePath.fold(all)(p => EsdbWriter.read(all.sparkSession, p)), space)

  /** Reference `Space.Iterate` (space.go:45-60): distinct groupings in
    * Spark's `orderBy` order (a null grouping first, then UTF8 byte
    * order), early exit. A store opened by path streams them from its
    * groupings sidecar, read on the driver with no Spark job, resolving
    * the current version on every call; stores without the sidecar and
    * frame-backed Dbs stream a distinct scan.
    */
  def iterate(fn: String => Boolean): Unit = storedGroupings match {
    case Some(gs) => Db.consume(gs.iterator, fn)
    case None => Db.consume(groupingsFrame, fn)
  }

  def groupings: Seq[String] =
    storedGroupings.getOrElse(groupingsFrame.collect().toSeq.map(_.getString(0)))

  /** Reference `Space.Scan` (space.go:62-77): ts-desc stable, early exit. */
  def scan(grouping: String)(fn: Event => Boolean): Unit =
    consumeEvents(EventStore.scan(all, space, grouping), fn)

  /** Bounded scan: on a store opened by path the limit is a top-N
    * pushed into the ordered scan, read in the calling thread.
    */
  def scanN(grouping: String, n: Int)(fn: Event => Boolean): Unit =
    consumeEvents(EventStore.scan(all, space, grouping, Some(n)), fn)

  /** Time-bounded scan — the reference's canonical "Scanner returns
    * false at a ts bound" caller pattern (space.go:14,
    * esdb_test.go:229-232), but the bound is pushed into the PLAN:
    * on stores opened by path the DSv2 source prunes files by the
    * ts-range manifest and stops each grouping's cursor at the first
    * out-of-range row, instead of materializing rows for the callback
    * to discard.
    */
  def scanSince(grouping: String, sinceTsUs: Long)(fn: Event => Boolean): Unit =
    consumeEvents(EventStore.scanSince(all, space, grouping, sinceTsUs), fn)

  /** Reference `Space.ScanIndex` (space.go:79-108). */
  def scanIndex(name: String, value: String)(fn: Event => Boolean): Unit =
    consumeEvents(EventStore.scanIndex(all, space, name, value), fn)

  def scanIndexN(name: String, value: String, n: Int)(fn: Event => Boolean): Unit =
    consumeEvents(EventStore.scanIndex(all, space, name, value, Some(n)), fn)

  private def consumeEvents(df: DataFrame, fn: Event => Boolean): Unit = {
    val sp = df.sparkSession
    import sp.implicits._
    val it = df.select("space", "grouping", "ts_us", "event_id", "value", "payload")
      .as[Event].toLocalIterator()
    var go = true
    while (go && it.hasNext) go = fn(it.next())
  }
}

object Esdb {

  /** Reference `esdb.Open` (esdb.go:23-38) over a written store directory. */
  def open(spark: SparkSession, path: String): Db =
    new Db(EsdbWriter.read(spark, path), Some(path))

  /** Open over any canonical event frame (e.g. an adapted table). */
  def fromFrame(events: DataFrame): Db = new Db(events)

  /** Reference `esdb.New → Add* → Write` (writer.go): the buffered
    * builder is a DataFrame; `write` freezes it into an immutable store.
    */
  def write(events: DataFrame, path: String): Unit = EsdbWriter.write(events, path)

  /** Reference `esdb.New → Add* → Flush* → Write` incremental builder
    * (writer.go:26-85) for callers that accumulate a store in batches.
    */
  def newBuilder(spark: SparkSession, path: String,
                 indexAttrs: Seq[String] = Nil): graft.engine.EsdbBuilder =
    graft.engine.EsdbBuilder.create(spark, path, indexAttrs)
}

/** Stream façade mirroring the reference `stream` package
  * (stream/stream.go): offset-resumable iteration, newest→oldest index
  * scans, first/tails, seal lifecycle, merge.
  */
class EventStream private[api] (val spark: SparkSession, val path: String) {

  /** New streams are created in the LOG layout (a flat append log,
    * like the reference's stream file); streams written by earlier
    * engine versions are space-partitioned stores. Detect from the
    * layout itself so a pre-existing store keeps working: `space=`
    * partition directories mean the store layout.
    */
  private lazy val logLayout: Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(graft.engine.Publish.resolve(hconf, path))
    val fs = root.getFileSystem(hconf)
    !fs.exists(root) || !fs.listStatus(root).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("space="))
  }

  /** Bulk-analytics view: the vanilla multi-split parquet read. */
  def frame: DataFrame = EsdbWriter.read(spark, path)

  /** Ordered-consumption view: for a log-layout stream, the log source
    * (layout order IS insertion order — no Sort planned, resume
    * offsets push down); for a legacy space-partitioned stream, the
    * plain frame (iterate then sorts, as it always did).
    */
  def logFrame: DataFrame =
    if (logLayout) EsdbWriter.readLog(spark, path) else frame

  /** Live view: micro-batches of exactly the events appended since the
    * checkpointed offset ([[graft.sources.EsdbLogMicroBatch]]).
    * Log-layout streams only.
    */
  def streamFrame: DataFrame = {
    require(logLayout, s"stream at $path is a legacy space-partitioned store; " +
      "rewrite it as a log (EsdbWriter.writeLog) to consume it live")
    EsdbWriter.readLogStream(spark, path)
  }

  def isClosed: Boolean = EsdbWriter.isSealed(path)

  /** Reference `Stream.Write` (open_stream.go:77-105): append a batch —
    * in the store's own layout, so a legacy stream never becomes a
    * mixed-layout directory.
    */
  def write(events: DataFrame): Unit =
    if (logLayout) EsdbWriter.appendLog(events, path)
    else EsdbWriter.append(events, path)

  /** Reference `Stream.Iterate(offset, fn)` (stream.go:92-124): returns
    * the next offset for resumption.
    */
  def iterate(offset: Long = 0L)(fn: Event => Boolean): Long = {
    val sp = spark
    import sp.implicits._
    val it = EventLog.iterate(logFrame, offset)
      .select("space", "grouping", "ts_us", "event_id", "value", "payload")
      .as[Event].toLocalIterator()
    var last = offset
    var go = true
    while (go && it.hasNext) {
      val e = it.next()
      go = fn(e)
      last = e.event_id + 1
    }
    last
  }

  /** Reference `Stream.ScanIndex` (stream.go:74-90): newest → oldest. */
  def scanIndex(name: String, value: String)(fn: Event => Boolean): Unit = {
    val sp = spark
    import sp.implicits._
    val it = EventLog.scanIndex(frame, name, value)
      .select("space", "grouping", "ts_us", "event_id", "value", "payload")
      .as[Event].toLocalIterator()
    var go = true
    while (go && it.hasNext) go = fn(it.next())
  }

  /** Reference `First` (open_stream.go:107-115). */
  def first(name: String, value: String): Option[Long] = {
    val r = EventLog.first(frame, name, value).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Reference `populate` (open) / tails SSTable (closed): a sealed
    * stream serves tails from the seal-time sidecar without scanning
    * (open_stream.go:219-241, closed_stream.go:52-67).
    */
  def tails(name: String): Map[String, Long] = {
    val df = EsdbWriter.sealedTails(spark, path, name)
      .getOrElse(EventLog.tails(frame, name))
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Reference `Close()` (open_stream.go:146-201). */
  def close(indexName: String): Unit = EsdbWriter.seal(spark, path, indexName)
}

object EventStream {

  /** Reference `stream.New` / `stream.Open` (stream.go:45-72). The
    * stream is a LOG-layout store — a flat append log exactly like the
    * reference's stream file, so iterate order is the layout order.
    */
  def create(spark: SparkSession, path: String, first: DataFrame): EventStream = {
    EsdbWriter.writeLog(first, path)
    new EventStream(spark, path)
  }

  def open(spark: SparkSession, path: String): EventStream = new EventStream(spark, path)

  /** Reference `stream.Merge` (merge.go:7-34): concatenate source
    * streams into a new stream with fresh contiguous offsets.
    */
  def merge(spark: SparkSession, dst: String, srcs: Seq[EventStream]): EventStream = {
    val merged = EventLog.merge(spark, srcs.map(s =>
        EventLog.iterate(s.logFrame).select("space", "grouping", "ts_us", "event_id", "value", "payload")))
      .withColumnRenamed("new_event_id", "event_id")
      .select("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(merged, dst)
    new EventStream(spark, dst)
  }
}
