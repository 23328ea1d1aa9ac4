package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.Bridge.AbstractType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native vector kernels for the similarity/dedup tiers (SURVEY.md §4
  * candidate (b)): the `aggregate(zip_with(a, b, _*_), 0.0, _+_)` HOF
  * formulation allocates a lambda frame per element and stays OUTSIDE
  * whole-stage codegen (higher-order functions are interpreted); these
  * Expressions compile to a tight primitive loop inside the stage.
  *
  * Summation runs left-to-right from index 0 — the SAME order as the
  * HOF left fold it replaces, so every cosine/distance is bit-identical
  * and the DuckDB oracles are unaffected. Elements are assumed
  * non-null (embedding vectors; enforced upstream by the cast
  * projection). Length mismatch truncates to the shorter input — the
  * fixture vectors are fixed-width, this is a guard, not a semantic.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // declared input types: a caller passing an int array would
  // otherwise hand ArrayData of the wrong element width to getDouble,
  // silently reinterpreting the buffer; with these, analysis inserts
  // casts (array<int> → array<double>) or rejects the call outright
  override def inputTypes: Seq[AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Integer squared-L2 distance over long arrays (the fixed-point
  * k-means representation): Σ (aᵢ-bᵢ)² as exact BIGINT math. */
case class DistSqL(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dist_sq_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DistSqL =
    copy(left = newLeft, right = newRight)
}

object VecExprs {
  /** Σ aᵢ·bᵢ over array<double> columns, codegen'd. */
  def dot_d(a: Column, b: Column): Column =
    Bridge.column(DotProductD(Bridge.expression(a), Bridge.expression(b)))

  /** Σ (aᵢ-bᵢ)² over array<bigint> columns, codegen'd. */
  def dist_sq_l(a: Column, b: Column): Column =
    Bridge.column(DistSqL(Bridge.expression(a), Bridge.expression(b)))
}
