package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact dot product of two BIGINT arrays as a native Catalyst
  * expression with whole-stage codegen.
  *
  * Replaces `aggregate(zip_with(a, b, _*_), 0L, _+_)` in the similarity
  * hot path (graft.operators.Similarity): the higher-order-function
  * chain materializes an intermediate array and evaluates a lambda per
  * element; this compiles to one fused long-multiply-add loop over the
  * two primitive arrays. Semantics are identical (exact integer
  * arithmetic, zips to the shorter length), so oracle results are
  * unchanged.
  *
  * The reference engine has no custom functions at all
  * (`/root/reference/dimension.py:5`, udf imported but unused); this is
  * part of the additive similarity-search surface, done the
  * Catalyst-native way (custom Expression > UDF).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product_long needs two array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // Length mismatch → null, matching `aggregate(zip_with(a,b,_*_),0,_+_)`
  // (zip_with pads the shorter side with null, nulling the whole sum).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-level API: exact `array<bigint>` dot product. */
  def dot_product_long(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
