package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch-side esdb query surface (SURVEY.md §2.1 S2-S6) over a
  * canonical [[EventFrame]].
  *
  * Every operator is a pure `DataFrame => DataFrame` transform; Catalyst
  * plans the physical access:
  *  - `space == x` → partition pruning when stored `partitionBy("space")`
  *    (replaces the reference's file-level SSTable, esdb.go:41-60);
  *  - attr predicates → parquet filter pushdown + row-group skipping
  *    (replaces the secondary-index location lists, space.go:79-108);
  *  - a limit → on an ordered-store frame, a top-N pushed into the scan
  *    (the merge stops after n rows), and a driver-bound result read in
  *    the calling thread with no Spark job ([[graft.plans.EsdbLocalRead]]);
  *    on raw frames, `TakeOrderedAndProject`, a distributed top-k (both
  *    replace the Scanner early-exit callback, space.go:14,103-105).
  *
  * Ordering contract: ts-descending with insertion-order ties — the
  * reference's stable reverse sort (event_block_writer.go:15,
  * event.go:13) — reproduced exactly by the `event_id` tiebreak, since
  * distributed sorts are not stable.
  */
object EventStore {

  /** True when the frame reads through the ordering-aware DSv2 store
    * source ([[graft.sources.EsdbStoreSource]], opened by
    * `EsdbWriter.readOrdered`). Those frames plan ONE input partition
    * per space, already merged in (grouping, ts_us desc, event_id)
    * layout order — so a space-pinned scan may request a PER-PARTITION
    * sort (which equals the global order on the single matching
    * partition, and which `RemoveRedundantSorts` elides against the
    * scan's reported ordering) instead of a global orderBy, whose
    * `OrderedDistribution` requirement would force a range exchange
    * that destroys the layout order and re-sorts.
    */
  private def isOrderedStore(ev: DataFrame): Boolean =
    ev.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[graft.sources.EsdbStoreTable] => true
    }.isDefined

  /** Space-pinned frame in ts-layout order: sort-free on ordered-store
    * frames (single partition, layout order reported by the scan);
    * a global sort otherwise.
    */
  private def spaceOrdered(ev: DataFrame, filtered: DataFrame, order: Column*): DataFrame =
    if (isOrderedStore(ev)) filtered.sortWithinPartitions(order: _*)
    else filtered.orderBy(order: _*)

  /** Reference `Db.Iterate` (esdb.go:63-76): all spaces in sorted order. */
  def iterateSpaces(ev: DataFrame): DataFrame =
    ev.select("space").distinct().orderBy("space")

  /** [[iterateSpaces]] for a written store: the reference's `Db.Iterate`
    * walks the file-level key index, never event data (esdb.go:63-76) —
    * here the spaces ARE the partition directory names, so enumeration
    * is one driver-side listing, sorted, with no Spark job.
    */
  def iterateSpacesStored(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    // resolve the version pointer first: after compact() the data lives
    // under _versions/<N>-<uuid>/, not at the logical root
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(Publish.resolve(hconf, path))
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("space="))
      .map(s => graft.sources.EsdbStoreSource.unescapePathName(
        s.getPath.getName.drop("space=".length)))
      .sorted
  }

  /** Reference `Space.Iterate` (space.go:45-60): groupings of one space, sorted. */
  def iterateGroupings(ev: DataFrame, space: String): DataFrame =
    ev.where(col("space") === space).select("grouping").distinct().orderBy("grouping")

  /** Spark's `orderBy` order on strings: nulls first, then UTF8 byte
    * order (which differs from `String`'s UTF-16 order above U+FFFF).
    */
  private val sparkStringOrder: Ordering[String] = new Ordering[String] {
    override def compare(a: String, b: String): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  /** [[iterateGroupings]] for a written store, served from the
    * write-time groupings sidecar on the driver (the reference's
    * index-only `Space.Iterate`, space.go:45-60): no Spark job, and a
    * store's enumeration cost is its key count, not its event count.
    * Distinct and in [[iterateGroupings]]'s order. Each call resolves
    * the current version. None for stores written before manifests
    * existed — callers fall back to [[iterateGroupings]] over the data.
    */
  def iterateGroupingsStored(spark: org.apache.spark.sql.SparkSession, path: String,
                             space: String): Option[Seq[String]] =
    EsdbWriter.manifestGroupings(spark, path)
      .map(_.collect { case (`space`, g) => g }.sorted(sparkStringOrder))

  /** Whether a written store holds events of `space`, from the
    * groupings sidecar on the driver: a space has events iff it has a
    * (space, grouping) pair. None for stores without the sidecar.
    */
  def spaceExistsStored(spark: org.apache.spark.sql.SparkSession, path: String,
                        space: String): Option[Boolean] =
    EsdbWriter.manifestGroupings(spark, path).map(_.exists(_._1 == space))

  /** Reference `Space.Scan` (space.go:62-77): one grouping's events,
    * ts-desc, insertion-order ties; optional early-exit limit.
    */
  def scan(ev: DataFrame, space: String, grouping: String, limit: Option[Int] = None): DataFrame = {
    val filtered = ev.where(col("space") === space && col("grouping") === grouping)
    val base = spaceOrdered(ev, filtered, col("ts_us").desc, col("event_id").asc)
    limit.fold(base)(base.limit)
  }

  /** [[scan]] bounded to events at/after `sinceTsUs` — the reference's
    * canonical caller pattern: scan ts-desc, abort at a time bound
    * (Scanner returns false, space.go:14; esdb_test.go:229-232). On an
    * ordered-store frame the ts predicate pushes into the DSv2 source
    * ([[graft.sources.EsdbScanBuilder]]): parquet row-group and page
    * skipping, and the merge stops at the first row below the
    * bound — work is proportional to the matching suffix, not the
    * grouping's history.
    */
  def scanSince(ev: DataFrame, space: String, grouping: String, sinceTsUs: Long,
                limit: Option[Int] = None): DataFrame = {
    val filtered = ev.where(col("space") === space && col("grouping") === grouping &&
      col("ts_us") >= sinceTsUs)
    val base = spaceOrdered(ev, filtered, col("ts_us").desc, col("event_id").asc)
    limit.fold(base)(base.limit)
  }

  /** Ordered iterate of a whole space — every grouping's events
    * contiguous, ts-desc within each (reference `Space.Iterate` +
    * `Scan` composed, space.go:45-77). On an ordered-store frame this
    * is the layout order: no sort, no shuffle, one sequential merge.
    */
  def scanSpace(ev: DataFrame, space: String): DataFrame =
    spaceOrdered(ev, ev.where(col("space") === space),
      col("grouping").asc, col("ts_us").desc, col("event_id").asc)

  /** Reference `Space.ScanIndex` (space.go:79-108): events of a space
    * matching secondary index name:value, ts-desc, insertion ties.
    */
  def scanIndex(ev: DataFrame, space: String, name: String, value: String,
                limit: Option[Int] = None): DataFrame = {
    // prefer a write-time materialized index column (EsdbWriter
    // indexAttrs): the predicate then reaches parquet column stats
    // instead of re-parsing JSON per row — the reference's index-vs-scan
    // distinction (space.go:79-108 vs 62-77) at plan level
    val pred = if (ev.columns.contains(s"idx_$name")) col(s"idx_$name") === value
               else EventFrame.attr(name) === value
    val filtered = ev.where(col("space") === space && pred)
    // ordered-store frames: single matching partition, so a local sort
    // is the global order and no range exchange is planned (the sort
    // itself remains — the index predicate is not the layout order)
    val base = spaceOrdered(ev, filtered, col("ts_us").desc, col("event_id").asc)
    limit.fold(base)(base.limit)
  }
}
