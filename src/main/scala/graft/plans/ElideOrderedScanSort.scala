package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical rule: elide a global Sort (and its range-partitioning
  * Exchange) planned over an esdb ordered scan that already serves the
  * requested order from ONE input partition.
  *
  * Why Spark needs help here: the ordered DSv2 sources report their
  * per-partition layout order via `SupportsReportOrdering`, but
  * `BatchScanExec` reports `UnknownPartitioning`, which never satisfies
  * the `OrderedDistribution` a global ORDER BY requires — so SQL text
  * queries (the [[graft.sources.EsdbCatalog]] surface) plan
  * Exchange + Sort around data that is already globally ordered
  * whenever the scan has a single partition (a space-pinned store scan,
  * any log scan). The DataFrame facade avoids this with
  * `sortWithinPartitions` ([[graft.engine.EventStore.scan]]); SQL users
  * can't. This is the reference's order-is-free-from-layout property
  * (event_block_writer.go:14-34, stream/stream.go:92-124) carried
  * through to the SQL surface.
  *
  * Safety: the rewrite fires only when (a) the subtree under the
  * Sort/Exchange is a chain of row-order-preserving nodes
  * (Project/Filter) over a single esdb scan, (b) that scan planned
  * exactly one input partition (so per-partition order IS global
  * order), and (c) the node's alias-aware `outputOrdering` satisfies
  * the required sort order. Parents that required the sort's ordering
  * still get it; parents requiring a specific partitioning have their
  * own exchanges above, untouched.
  */
case class ElideOrderedScanSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case SortExec(order, true, sh: ShuffleExchangeExec, _)
      if sh.outputPartitioning.isInstanceOf[RangePartitioning] &&
        servesOrdered(sh.child, order) => sh.child
    case SortExec(order, _, child, _) if servesOrdered(child, order) => child
  }

  private def servesOrdered(p: SparkPlan, order: Seq[SortOrder]): Boolean =
    SortOrder.orderingSatisfies(p.outputOrdering, order) && SingleOrderedScan.find(p).isDefined
}
