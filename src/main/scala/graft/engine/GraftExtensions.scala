package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VecDot

/** Installable engine extensions: deploy with
  * `--conf spark.sql.extensions=graft.engine.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`) and
  * the engine's native functions are available in every session,
  * including plain `spark.sql` text queries.
  *
  * Per-session registration for already-running sessions is
  * [[graft.functions.VectorFunctions.register]]; this class is the
  * cluster-deployment path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL ORDER BY over a single-partition esdb ordered scan: drop the
    // Exchange+Sort the planner adds around already-ordered data (the
    // DataFrame facade avoids it structurally; SQL text can't)
    ext.injectQueryStagePrepRule(graft.plans.ElideOrderedScanSort(_))
    // a driver-bound read of one store partition runs in the calling
    // thread, with no Spark job
    ext.injectPlannerStrategy(_ => graft.plans.EsdbLocalReadStrategy)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("json_attr"),
      new ExpressionInfo(classOf[graft.functions.JsonAttr].getName, "json_attr"),
      (exprs: Seq[Expression]) => graft.functions.JsonAttr(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("min_k_by_key"),
      new ExpressionInfo(classOf[graft.functions.MinKByKey].getName, "min_k_by_key"),
      (exprs: Seq[Expression]) =>
        graft.functions.MinKByKey(exprs.head, exprs(1), exprs(2)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[graft.functions.TopKByScore].getName, "top_k_by_score"),
      (exprs: Seq[Expression]) =>
        graft.functions.TopKByScore(exprs.head, exprs(1), exprs(2)).toAggregateExpression()))
  }
}

/** SQL-surface convenience: expose the testdata tables and the
  * canonical event frame as temp views so the whole engine is usable
  * from `spark.sql` text queries.
  */
object GraftViews {
  def register(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
    EventFrame.fromEvents(Tables.events(spark, dir)).createOrReplaceTempView("event_frame")
    graft.functions.VectorFunctions.register(spark)
  }
}
