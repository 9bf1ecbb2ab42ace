package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst kernel for cosine similarity over ARRAY<DOUBLE>.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function spelling,
  * which allocates an intermediate array per row and interprets a lambda per
  * element — measured 70s for 2M pairs at sf0.1. This expression is a single
  * fused loop (dot + both norms in one pass, no allocation) with whole-stage
  * codegen via doGenCode, so it inlines straight into the generated join
  * stage. Semantics are identical to the HOF spelling and to DuckDB's
  * list_cosine_similarity: sequential left-to-right accumulation, then
  * dot / (sqrt(na) * sqrt(nb)).
  *
  * This is the SURVEY §4 "optional codegen Expression" upgrade path, and the
  * kernel a 100 TB ANN pipeline would sit on.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** Analysis-time type gate: only ARRAY<DOUBLE>/ARRAY<FLOAT> are accepted
    * (anything else fails analysis, not a runtime ClassCastException), and
    * each side is read through its element type's accessor — calling the
    * kernel on the raw FLOAT[] embedding column previously read
    * misaligned bytes via ArrayData.getDouble and returned silently wrong
    * scores. */
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType | FloatType, _), ArrayType(DoubleType | FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "cosine_sim requires ARRAY<DOUBLE> or ARRAY<FLOAT> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.CosineSim.compute($a, $b, $leftFloat, $rightFloat);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Fused dot/norm loop — shared by interpreted eval and codegen.
    * Mismatched lengths are an error (matching DuckDB's
    * list_cosine_similarity), never a silent min-length truncation.
    * `xf`/`yf` select the float accessor; codegen passes them as literals
    * so the JIT folds the branches away. */
  def compute(x: ArrayData, y: ArrayData, xf: Boolean, yf: Boolean): Double = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"cosine_sim: vector length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine similarity of two vector columns. */
  def of(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
}

/** Native kernel for EXACT squared Euclidean distance over ARRAY<BIGINT>
  * (the 1e6-quantized vector spelling): Σ (a_i − b_i)², one fused long
  * loop, whole-stage codegen. Replaces the
  * `aggregate(zip_with(...), 0L, ...)` HOF, which allocated a 64-element
  * intermediate array and interpreted two lambdas per pair — measured
  * 15.7 s warm for the 2M-pair energy-distance key at sf0.1. Integer
  * sums are order-independent, so results are bit-identical to the HOF
  * spelling and to DuckDB's list_transform/list_sum twin. */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sqdist_q requires ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SqDistLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SqDistLong.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

object SqDistLong {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"sqdist_q: vector length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Exact squared distance of two equal-length BIGINT vector columns. */
  def of(a: Column, b: Column): Column =
    column(SqDistLong(expression(a), expression(b)))
}

/** Native kernel for the EXACT long dot product Σ a_i·b_i over
  * ARRAY<BIGINT> (the quantized-vector spelling): one fused loop,
  * whole-stage codegen — the [[SqDistLong]] pattern applied to
  * the remaining interpreted reduction (VERDICT r13 #5: the PCA
  * projection ran `aggregate(zip_with(qv, z, a*b), 0L, acc+x)` — two
  * boxed-long lambdas per element per row — for every projected vector;
  * the cosine family itself already runs the native [[CosineSim]]
  * kernel). Integer sums are order-independent, so results are
  * bit-identical to the HOF spelling and the DuckDB
  * list_transform/list_sum twin. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "dot_q requires ARRAY<BIGINT> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    DotLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.DotLong.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    require(n == y.numElements(),
      s"dot_q: vector length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  /** Exact dot product of two equal-length BIGINT vector columns. */
  def of(a: Column, b: Column): Column =
    column(DotLong(expression(a), expression(b)))
}

/** Native kernel for the SPARSE exact long dot product over two
  * key-aligned (sorted keys, aligned weights) array pairs: one fused
  * merge-intersection loop, whole-stage codegen (OPTIMIZATION r17).
  *
  * Replaces the tf-idf dot's join-explode-aggregate spelling
  * (cand ⋈ postings(da) ⋈ postings(db) on tk → SUM(wa·wb) GROUP BY
  * (da, db)), whose intermediate stream is |pairs| × t̄ rows (~45M at
  * sf0.1 for 450k candidate pairs) feeding a 450k-group hash aggregate
  * — per pair, the kernel walks the two ~t̄-element sorted arrays once
  * with zero intermediate rows and zero shuffle. Keys must be UNIQUE
  * and sorted ascending by Spark's binary string order (array_sort of a
  * struct(tk, w) list gives exactly that); integer products/sums are
  * order-free, so the result is bit-identical to the join spelling on
  * both engines. */
case class SortedDotLong(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, third).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }) && Seq(second, fourth).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sorted_dot requires (ARRAY<STRING>, ARRAY<BIGINT>, ARRAY<STRING>, " +
        "ARRAY<BIGINT>), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override protected def nullSafeEval(ka: Any, va: Any, kb: Any, vb: Any): Any =
    SortedDotLong.compute(ka.asInstanceOf[ArrayData], va.asInstanceOf[ArrayData],
      kb.asInstanceOf[ArrayData], vb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ka, va, kb, vb) =>
      s"${ev.value} = graft.plans.SortedDotLong.compute($ka, $va, $kb, $vb);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SortedDotLong =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object SortedDotLong {
  def compute(ka: ArrayData, va: ArrayData, kb: ArrayData, vb: ArrayData)
      : Long = {
    val n = ka.numElements(); val m = kb.numElements()
    require(n == va.numElements() && m == vb.numElements(),
      s"sorted_dot: key/value length mismatch ($n/${va.numElements()}, " +
        s"$m/${vb.numElements()})")
    var acc = 0L
    var i = 0; var j = 0
    while (i < n && j < m) {
      val c = ka.getUTF8String(i).compareTo(kb.getUTF8String(j))
      if (c == 0) { acc += va.getLong(i) * vb.getLong(j); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  /** Sparse dot of (keys `ka`, weights `va`) with (keys `kb`, weights `vb`). */
  def of(ka: Column, va: Column, kb: Column, vb: Column): Column =
    column(SortedDotLong(expression(ka), expression(va),
      expression(kb), expression(vb)))
}
