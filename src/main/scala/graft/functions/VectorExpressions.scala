package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns.
  *
  * The built-in route — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is a
  * higher-order function: CodegenFallback, boxed per-element lambda
  * evaluation, allocation of the zipped intermediate array. For
  * similarity search that expression sits in the innermost loop
  * (candidate-pair × dimensions), where interpreted evaluation measured
  * ~20× slower than this expression. `doGenCode` emits a tight primitive
  * float loop that whole-stage codegen inlines straight into the join
  * stage; the interpreted `nullSafeEval` path matches it exactly.
  *
  * Null array elements are treated as 0 (embeddings are dense; parquet
  * float arrays have no nulls in practice).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<float> arguments, got $l and $r")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var sum = 0.0d
    var i = 0
    while (i < n) {
      sum += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)$a.getFloat($i) * (double)$b.getFloat($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** [[VecDot]]'s exact-integer twin: dot product over two `array<long>`
  * columns (fixed-point embeddings), returning LONG — the arithmetic
  * the rational-certificate dedup queries hash against the oracle, as
  * a codegen'd primitive loop instead of the interpreted
  * `aggregate(zip_with(...))` pair (which sits on the candidate-pair ×
  * dimensions hot path of semantic dedup and measured ~20× slower).
  */
case class VecDotLong(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_dot_long requires two array<bigint> arguments, got $l and $r")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "vec_dot_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += xs.getLong(i) * ys.getLong(i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotLong =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Register `vec_dot` in the session's function registry so it is
    * callable via `call_function("vec_dot", a, b)` from the Column API
    * (Spark 4 removed public Column-from-Expression construction).
    * A function already registered is left as it is.
    */
  def register(spark: SparkSession): Unit = {
    Registration.ifAbsent(spark, "vec_dot")(exprs => VecDot(exprs.head, exprs(1)))
    Registration.ifAbsent(spark, "vec_dot_long")(exprs => VecDotLong(exprs.head, exprs(1)))
  }
}
