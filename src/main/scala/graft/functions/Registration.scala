package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Adds the engine's SQL functions to a session's registry. The
  * engine registers on every read and write path, so a function that
  * is already registered (by an earlier call, or by `GraftExtensions`)
  * is left as it is: replacing it would swap the builder and log a
  * WARN each time.
  */
private[functions] object Registration {
  def ifAbsent(spark: SparkSession, name: String)(builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
