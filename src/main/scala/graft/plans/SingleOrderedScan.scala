package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The one test for "this subtree is a single ordered esdb scan": a
  * chain of Projects and Filters (and whatever unary node `through`
  * admits) over a `BatchScanExec` of an esdb ordered source that
  * planned exactly one input partition. On such a subtree the scan's
  * per-partition layout order IS the global order, and one merge
  * reader produces the whole result.
  *
  * [[ElideOrderedScanSort]] asks it with the default `through`;
  * [[EsdbLocalRead]] also walks through the limits, non-global sorts
  * and codegen wrappers it knows how to run in the calling thread.
  */
object SingleOrderedScan {

  @tailrec
  def find(p: SparkPlan, through: SparkPlan => Boolean = _ => false): Option[BatchScanExec] =
    p match {
      case b: BatchScanExec =>
        Some(b).filter(b => (b.scan.isInstanceOf[graft.sources.EsdbScan] ||
          b.scan.isInstanceOf[graft.sources.EsdbLogScan]) && b.inputPartitions.length == 1)
      case ProjectExec(_, child) => find(child, through)
      case FilterExec(_, child) => find(child, through)
      case u: UnaryExecNode if through(u) => find(u.child, through)
      case _ => None
    }
}
