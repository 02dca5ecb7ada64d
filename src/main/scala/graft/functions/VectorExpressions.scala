package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dot product of two `array<float>` columns, accumulated left-to-right in
  * double precision.
  *
  * A native Catalyst expression (with codegen) instead of
  * `aggregate(zip_with(...))`: the higher-order-function form allocates an
  * intermediate array and boxes every element, which at 100 TB of
  * embedding pairs is the difference between a memory-bandwidth-bound scan
  * and a GC storm. The generated code is a tight primitive loop inside
  * whole-stage codegen.
  *
  * Accumulation order is the deterministic left-to-right fold — the same
  * order DuckDB's `list_dot_product` uses on `DOUBLE[]` — so results are
  * bit-identical across engines and across partitionings (no
  * reassociation).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even over non-nullable inputs: a NULL ELEMENT inside the
  // array null-propagates to a NULL result (review r18 — getFloat on a
  // null slot silently reads 0.0, a plausible-but-wrong similarity,
  // while DuckDB's list_dot_product returns NULL for the same row; the
  // documented bit-identical parity requires the NULL)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"FloatVecDot needs two array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  // Elements are read straight off the ArrayData (Unsafe row buffer /
  // parquet column batch) with getFloat(i) — no toFloatArray() copy.
  // The per-pair copies were 2 allocations × |dim| floats on EVERY
  // scored pair (8M allocations for a 2k-vector kNN graph), pure GC
  // pressure in the hottest loop the engine has. Fold order is the
  // identical left-to-right Σ, so results are bit-unchanged.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // fail loudly: silently truncating a ragged/corrupt embedding would
    // return a plausible but wrong dot product
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"vec_dot: length mismatch $n vs ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // null-propagate
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm of one `array<float>` column — the specialized form
  * of `FloatVecDot(x, x)` that [[graft.plans.VecSelfDotRewrite]]
  * substitutes in the optimizer: ONE child evaluation, one array
  * materialization, one null check instead of two (a self-dot written
  * through the generic binary op evaluates its child expression twice —
  * for a computed child like `zip_with`/`slice` that doubles real work).
  * The fold is the identical index-order Σ xᵢ·xᵢ, so the rewrite is
  * bit-for-bit result-preserving (VectorSpec asserts plan shape AND
  * value equality). */
case class FloatVecNorm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType

  // null elements null-propagate, matching [[FloatVecDot]]
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"FloatVecNorm2 needs an array<float> input, got $t")
    }

  // Same zero-copy getFloat(i) read as [[FloatVecDot]]; identical
  // index-order fold, bit-unchanged results.
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null // null-propagate
      val v = x.getFloat(i).toDouble; s += v * v; i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = (double) $a.getFloat($i);
         |  $s += $v * $v;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level vector math built on [[FloatVecDot]], reached through the
  * `vec_dot` function registered by [[graft.plans.GraftExtensions]]. */
object VectorFunctions {

  /** dot(a, b) in double precision. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Squared L2 norm. */
  def vecNorm2(a: Column): Column = vecDot(a, a)

  /** Cosine similarity, structured exactly as `dot / (sqrt(n_a) * sqrt(n_b))`
    * — keep this shape in any oracle SQL for bit-identical results. */
  def cosine(a: Column, b: Column): Column =
    cosine(a, b, sqrt(vecNorm2(a)), sqrt(vecNorm2(b)))

  /** The one cosine quotient `dot(a, b) / (normA * normB)`, for callers
    * that attach each vector's L2 norm once before pairing. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    vecDot(a, b) / (normA * normB)
}
