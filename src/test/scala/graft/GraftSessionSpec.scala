package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.engine.GraftSession

/** [[GraftSession.tune]] runs before every engine read and write, so it
  * must leave an already-tuned session's SQL functions as they are.
  */
class GraftSessionSpec extends SparkSpec {

  private val Functions =
    Seq("vec_dot", "vec_dot_long", "json_attr", "min_k_by_key", "top_k_by_score", "freq_topk")

  private def builders(s: org.apache.spark.sql.SparkSession) =
    Functions.map(n => n -> s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(n)))

  test("a second tune leaves each registered function builder untouched") {
    val fresh = spark.newSession()
    GraftSession.tune(fresh)
    val first = builders(fresh)
    first.foreach { case (n, b) => assert(b.isDefined, s"$n not registered by tune") }
    GraftSession.tune(fresh)
    builders(fresh).zip(first).foreach { case ((n, again), (_, b)) =>
      assert(again.get eq b.get, s"$n was re-registered by a second tune")
    }
    assert(fresh.sql(
      "SELECT vec_dot(CAST(array(1, 2) AS array<float>), CAST(array(3, 4) AS array<float>))").head().getDouble(0) == 11.0)
  }
}
