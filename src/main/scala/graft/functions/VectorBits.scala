package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd twins of the two interpreted HOF expressions the
  * vector family evaluated per corpus row (r20 optimization round,
  * guide §4 — the [[CosineSimilarity]] precedent):
  *
  *  - the 64-bit sign signature
  *    `aggregate(transform(sequence(0, 63), i -> IF(element_at(v, i+1)
  *    >= 0D, shiftleft(1L, i), 0L)), 0L, (acc, x) -> acc | x)` — 64
  *    interpreted lambda evaluations per row on q37/q125/q148/q149,
  *    and the whole graph family (q162/q165/q182/q183/q187/q188 via
  *    GraphIndex);
  *  - the squared-norm zero-vector guard
  *    `aggregate(v, 0D, (acc, x) -> acc + x * x)` — dim interpreted
  *    lambda evaluations per row at every corpus entry point of the
  *    same family.
  *
  * Semantics are mirrored EXACTLY, including the edge behavior the HOF
  * spellings exhibit (VectorBitsSpec pins both against the HOF forms):
  *  - SignBits64: bit i (0-based, i < 64) is set iff element i exists,
  *    is non-null and ≥ 0 under SPARK's comparison (NaN counts as ≥ 0 —
  *    Spark orders NaN above every double — hence the `!(x < 0)` form
  *    below); `element_at` past the end returns NULL and
  *    `IF(NULL >= 0, set, 0)` takes the 0 branch, so short vectors
  *    contribute 0-bits; NULL input array → NULL.
  *  - SqNorm: sequential Σx² in DOUBLE; any NULL element poisons the
  *    accumulator to NULL (the HOF's `acc + NULL` behavior); NULL
  *    input array → NULL.
  */
case class SignBits64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bits64"

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), 64)
    var sig = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && !(xs.getDouble(i) < 0.0)) sig |= (1L << i)
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements(); if ($n > 64) $n = 64;
         |long $sig = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !($a.getDouble($i) < 0.0)) {
         |    $sig |= (1L << $i);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignBits64 =
    copy(child = newChild)
}

case class SqNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_norm"
  // a NULL element poisons the sum to NULL even under a non-null array
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val x = xs.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $a.getDouble($i);
         |  $acc += $x * $x;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SqNorm =
    copy(child = newChild)
}

object VectorBits {
  /** Construction-time coercion to ARRAY<DOUBLE> (the
    * [[CosineSimilarity.coerced]] note). */
  def signBits64(e: Expression): SignBits64 =
    SignBits64(Cast(e, ArrayType(DoubleType)))
  def sqNorm(e: Expression): SqNorm =
    SqNorm(Cast(e, ArrayType(DoubleType)))
}
