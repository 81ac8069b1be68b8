package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product — the
  * second rung of the custom-function ladder for the SIMILARITY
  * operators, the way [[ParseMoneyExpr]] is for the string ops.
  *
  * The built-in formulations of a dot product over
  * `array<float>` — `aggregate(zip_with(a, b, (x, y) -> x * y), ...)`
  * — run INTERPRETED per element (measured 4× penalty class in this
  * repo; see graft memory on HOF lambdas), and a Scala UDF pays a
  * serialization boundary per row. This expression emits a
  * straight-line Java loop over the two `ArrayData` buffers into
  * whole-stage codegen: no lambda dispatch, no boxing, no boundary.
  *
  * The loop is an in-order double fold of exactly-converted floats,
  * the same IEEE operation sequence as the HOF formulation and as
  * DuckDB's LIST_REDUCE, so its cosines are bit-identical to both:
  * q_knn_native runs on this kernel and hash-matches the DuckDB
  * oracle. The KNN/ANN cosines are double folds everywhere; DECIMAL
  * appears only in the LSH bucket-signature sums, where a summation
  * order must never flip a sign bit between engines. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_f"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_f requires two ARRAY<FLOAT>, got ${left.dataType.catalogString} " +
          s"and ${right.dataType.catalogString}")

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else DotProductExpr.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // length mismatch -> NULL, matching the zip_with/aggregate HOF
      // (zip_with null-pads and acc + null = null): a truncated or
      // corrupt embedding must SURFACE, not yield a plausible prefix
      // dot product that silently corrupts downstream rankings
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

object DotProductExpr {

  /** Interpreted twin of the generated loop (equal lengths assumed —
    * callers null out mismatches first). */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Column-API entry point. */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Register to the SQL function registry as `dot_f`. Once per
    * session — repeat registration is harmless but logs a
    * registry-replacement warning per call. */
  def register(spark: SparkSession): Unit =
    graft.SessionMemo.oncePerSession(spark, "register:dot_f") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "dot_f", { exprs =>
          // a clear arity error instead of exprs(1)'s IndexOutOfBounds
          // (the registry wraps whatever is thrown here)
          if (exprs.length != 2)
            throw new IllegalArgumentException(
              s"dot_f requires exactly 2 arguments, got ${exprs.length}")
          DotProductExpr(exprs.head, exprs(1))
        }, "scala_udf")
    }
}
