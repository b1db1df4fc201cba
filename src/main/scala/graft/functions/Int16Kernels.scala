package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-vector symmetric int16 quantization of an `array<double>` to a
  * little-endian 2-bytes-per-element `binary` payload:
  * `short_i = round(x_i / s)` with `s = max|x| / 32767`.
  *
  * The int16 rung exists for the quantized PREFILTER in pairwise cosine
  * mining ([[graft.dedup.Dedup.embeddingPairs]]): the filter must keep
  * every pair whose EXACT cosine clears the threshold, so its cut line
  * sits at `threshold − margin(d)` where margin bounds the quantization
  * error analytically. At int8 the margin would be ≈ √d/127 (0.066 at
  * d=64) — on a near-orthogonal corpus the [thr−margin, thr) shoulder is
  * FAT, the survivor set is candidate-scale, and the survivors' distinct()
  * sort was the measured 60 GB spill that forced staged mining on bounded
  * scratch tiers. At int16 the margin is ≈ √d/32767 (0.00025 at d=64):
  * survivors collapse to output-scale and the spill disappears, for 2×
  * the exchange payload (still 4× smaller than raw doubles).
  *
  * The scale is NOT stored here (binary stays a plain payload); callers
  * reconstruct it as `array_max(abs(x)) / 32767` on the row — one cheap
  * pass per ROW, while the dots that consume the bytes run once per
  * candidate PAIR. An all-zero vector (max|x| = 0) quantizes to all-zero
  * bytes. NULL array or any NULL element → NULL (same contract as
  * [[DoubleArrayDot]]). Elements are clamped to [-32767, 32767], which by
  * construction only guards float noise — |x_i| ≤ max|x| means
  * |x_i / s| ≤ 32767 exactly.
  */
case class PackUnitInt16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"pack_unit_int16 expects array<double>, got ${dt.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "pack_unit_int16"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(a.getDouble(i))
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val out = new Array[Byte](2 * n)
    if (maxAbs > 0.0) {
      val s = maxAbs / 32767.0
      i = 0
      while (i < n) {
        val q = Math.round(a.getDouble(i) / s)
        val c = math.max(-32767L, math.min(32767L, q)).toInt
        out(2 * i) = (c & 0xff).toByte
        out(2 * i + 1) = ((c >> 8) & 0xff).toByte
        i += 1
      }
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val maxAbs = ctx.freshName("maxAbs")
      val s = ctx.freshName("s")
      val q = ctx.freshName("q")
      val c = ctx.freshName("c")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double __v = Math.abs($a.getDouble($i));
         |  if (__v > $maxAbs) $maxAbs = __v;
         |}
         |if (!${ev.isNull}) {
         |  byte[] $out = new byte[2 * $n];
         |  if ($maxAbs > 0.0) {
         |    double $s = $maxAbs / 32767.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $q = Math.round($a.getDouble($i) / $s);
         |      int $c = (int) Math.max(-32767L, Math.min(32767L, $q));
         |      $out[2 * $i] = (byte) ($c & 0xff);
         |      $out[2 * $i + 1] = (byte) (($c >> 8) & 0xff);
         |    }
         |  }
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackUnitInt16 =
    copy(child = newChild)
}

/** Dot product of two little-endian int16 `binary` payloads (the
  * [[PackUnitInt16]] encoding) as a native codegen expression:
  * `Σ a_i · b_i` over the decoded shorts, returned as LONG (d × 32767²
  * overflows Int past d = 2 — 64-dim terms reach 2³⁶). NULL when either
  * side is NULL, lengths differ, or a length is odd.
  */
case class BinaryDot16(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.resolved || !right.resolved ||
      (left.dataType == BinaryType && right.dataType == BinaryType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"binary_dot16 expects (binary, binary), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "binary_dot16"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    if (a.length != b.length || (a.length & 1) == 1) return null
    var sum = 0L
    var i = 0
    while (i < a.length) {
      val x = (a(i) & 0xff) | (a(i + 1).toInt << 8)
      val y = (b(i) & 0xff) | (b(i + 1).toInt << 8)
      sum += x.toLong * y
      i += 2
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.length != $b.length || ($a.length & 1) == 1) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $sum = 0L;
         |  for (int $i = 0; $i < $a.length; $i += 2) {
         |    int $x = ($a[$i] & 0xff) | (((int) $a[$i + 1]) << 8);
         |    int $y = ($b[$i] & 0xff) | (((int) $b[$i + 1]) << 8);
         |    $sum += (long) $x * $y;
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): BinaryDot16 =
    copy(left = newLeft, right = newRight)
}
