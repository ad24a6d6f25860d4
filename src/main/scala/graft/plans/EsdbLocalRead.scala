package graft.plans

import scala.annotation.tailrec
import scala.util.control.NonFatal

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, IntegerLiteral, Predicate, RowOrdering, SortOrder, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.SQLMetrics

import graft.sources.EsdbScan

/** Planner strategy: a result that goes back to the driver
  * (`ReturnAnswer`) whose root is a chain of Limit / Sort / Filter /
  * Project over one esdb store scan that planned a single input
  * partition is planned as [[EsdbLocalRead]] over the plan Spark would
  * have built anyway. Those are the shapes of `EventStore.scan`,
  * `scanSince` and `scanIndex`, and of a space- and grouping-pinned SQL
  * `ORDER BY ts_us DESC, event_id LIMIT n` once its top-N is pushed.
  *
  * A Sort qualifies under a Limit (through Projects alone), or when the
  * scan already yields its order, so the planner drops it; any other
  * sort keeps its job and never lands in driver memory. Expressions
  * with subqueries keep the job path too.
  */
object EsdbLocalReadStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) if readsOnePartition(root, underLimit = false) =>
      // the root planned as SpecialLimits plans it: a root Limit collects
      val child = root match {
        case Limit(IntegerLiteral(n), c) => CollectLimitExec(n, planLater(c))
        case other => planLater(other)
      }
      EsdbLocalRead(child) :: Nil
    case _ => Nil
  }

  @tailrec
  private def readsOnePartition(p: LogicalPlan, underLimit: Boolean): Boolean = p match {
    case Limit(IntegerLiteral(n), child) => n >= 0 && readsOnePartition(child, underLimit = true)
    case Sort(order, false, child, _) =>
      (underLimit || SortOrder.orderingSatisfies(layoutOrder(child), order)) &&
        readsOnePartition(child, underLimit = false)
    case Project(list, child) =>
      !list.exists(SubqueryExpression.hasSubquery) && readsOnePartition(child, underLimit)
    case Filter(cond, child) =>
      !SubqueryExpression.hasSubquery(cond) && readsOnePartition(child, underLimit = false)
    case r: DataSourceV2ScanRelation => r.scan match {
      // the scan memoizes its listing: planning reuses this one
      case s: EsdbScan => s.toBatch.planInputPartitions().length == 1
      case _ => false
    }
    case _ => false
  }

  /** The order the chain under a Sort yields rows in: the scan's
    * reported layout order, which Filters and Projects keep.
    */
  @tailrec
  private def layoutOrder(p: LogicalPlan): Seq[SortOrder] = p match {
    case Filter(_, child) => layoutOrder(child)
    case Project(_, child) => layoutOrder(child)
    case r: DataSourceV2ScanRelation => r.ordering.getOrElse(Nil)
    case _ => Nil
  }
}

/** Answers a driver-bound read of one esdb store partition in the
  * calling thread, with no Spark job — esdb's in-process block read
  * (esdb.go:23-60, space.go:62-77) instead of a one-task job's
  * scheduling and closure cleaning.
  *
  * The child is the normally planned subtree. `doExecute` runs it, so
  * `.rdd`, writes, caching and any parent take the job path as before.
  * `executeCollect`, `executeTake` and `executeToIterator` open the
  * scan's own reader (`EsdbReaderFactory` → `EsdbMergeReader`) on its
  * one partition and apply the subtree above it here: Spark's generated
  * `Predicate` for a Filter, `UnsafeProjection` for a Project, a
  * bounded top-n for a Sort under a Limit. The scan's `esdb*` metrics
  * and row count land on the child `BatchScanExec`, as a task would
  * leave them.
  *
  * The child is re-checked at execution ([[SingleOrderedScan]]): a
  * columnar scan, a runtime filter, or a node this class does not run
  * sends the call to the child unchanged.
  *
  * Driver memory: the one partition's result, which `toLocalIterator`
  * already buffers on the job path, and `n` rows for a sorted read.
  */
case class EsdbLocalRead(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    localScan.fold(child.executeCollect())(read(_, Int.MaxValue))

  override def executeTake(n: Int): Array[InternalRow] =
    localScan.fold(child.executeTake(n))(read(_, n))

  override def executeToIterator(): Iterator[InternalRow] =
    localScan.fold(child.executeToIterator())(read(_, Int.MaxValue).iterator)

  override protected def withNewChildInternal(newChild: SparkPlan): EsdbLocalRead =
    copy(child = newChild)

  private def runsHere(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec | _: InputAdapter | _: LocalLimitExec => true
    case l: CollectLimitExec => l.limit >= 0 && l.offset == 0
    case l: GlobalLimitExec => l.offset == 0
    case s: SortExec => !s.global
    case _ => false
  }

  private def localScan: Option[BatchScanExec] =
    SingleOrderedScan.find(child, runsHere).filter(b =>
      b.scan.isInstanceOf[EsdbScan] && !b.supportsColumnar && b.runtimeFilters.isEmpty)

  private def read(scan: BatchScanExec, n: Int): Array[InternalRow] = {
    val reader = scan.readerFactory.createReader(scan.inputPartitions.head)
    try {
      var pulled = 0L
      val scanned = new Iterator[InternalRow] {
        private var ready = false
        private var more = true
        override def hasNext: Boolean = {
          if (!ready && more) { more = reader.next(); ready = more }
          ready
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          pulled += 1
          reader.get()
        }
      }
      val toUnsafe = UnsafeProjection.create(output, output)
      val out = rows(child, scanned, None).take(n).map(r => toUnsafe(r).copy(): InternalRow).toArray
      report(scan, reader.currentMetricsValues, pulled)
      out
    } catch {
      // a read error surfaces as it does from a failed task
      case NonFatal(e) => throw new SparkException(s"esdb local read failed: $e", e)
    } finally reader.close()
  }

  /** The rows `p` yields over the scan's rows; `bound` is the limit a
    * Sort may stop at (Projects pass it down, a Filter clears it).
    */
  private def rows(p: SparkPlan, scanned: Iterator[InternalRow],
                   bound: Option[Int]): Iterator[InternalRow] = p match {
    case _: BatchScanExec => scanned
    case ProjectExec(list, c) =>
      val project = UnsafeProjection.create(list, c.output)
      project.initialize(0)
      rows(c, scanned, bound).map(project)
    case FilterExec(cond, c) =>
      val pred = Predicate.create(cond, c.output)
      pred.initialize(0)
      rows(c, scanned, None).filter(pred.eval)
    case CollectLimitExec(limit, c, _) => limited(c, scanned, bound, limit)
    case GlobalLimitExec(limit, c, _) => limited(c, scanned, bound, limit)
    case LocalLimitExec(limit, c) => limited(c, scanned, bound, limit)
    case s: SortExec =>
      // unbounded only when the strategy saw the scan serve this order,
      // so the planner normally drops the Sort before it gets here
      topN(rows(s.child, scanned, None), s.sortOrder, s.child.output, bound.getOrElse(Int.MaxValue))
    case WholeStageCodegenExec(c) => rows(c, scanned, bound)
    case InputAdapter(c) => rows(c, scanned, bound)
    case other => throw new IllegalStateException(s"EsdbLocalRead cannot run ${other.nodeName}")
  }

  private def limited(c: SparkPlan, scanned: Iterator[InternalRow], bound: Option[Int],
                      limit: Int): Iterator[InternalRow] = {
    val n = bound.fold(limit)(math.min(_, limit))
    rows(c, scanned, Some(n)).take(n)
  }

  /** The first `n` rows of `in` in `order`, ties in arrival order — what
    * a stable sort then a limit yields. Lazy: nothing is read until the
    * first row is asked for, as a SortExec reads nothing before then.
    */
  private def topN(in: Iterator[InternalRow], order: Seq[SortOrder], input: Seq[Attribute],
                   n: Int): Iterator[InternalRow] = Iterator.single(()).flatMap { _ =>
    val ord = RowOrdering.create(order, input)
    val best: java.util.Comparator[(InternalRow, Long)] = (a, b) => {
      val c = ord.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    // head = the worst row kept; a later arrival replaces it only when
    // strictly better, since on a tie the earlier row wins
    val kept = new java.util.PriorityQueue[(InternalRow, Long)](best.reversed())
    var seq = 0L
    in.foreach { r =>
      if (kept.size < n) kept.add((r.copy(), seq))
      else if (n > 0 && ord.compare(r, kept.peek()._1) < 0) { kept.poll(); kept.add((r.copy(), seq)) }
      seq += 1
    }
    val sorted = kept.toArray(new Array[(InternalRow, Long)](0))
    java.util.Arrays.sort(sorted, best)
    sorted.iterator.map(_._1)
  }

  private def report(scan: BatchScanExec, values: Array[CustomTaskMetric], pulled: Long): Unit = {
    val updated = values.toSeq.flatMap(v => scan.metrics.get(v.name).map { m => m.add(v.value); m }) ++
      scan.metrics.get("numOutputRows").map { m => m.add(pulled); m }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), updated)
  }
}
