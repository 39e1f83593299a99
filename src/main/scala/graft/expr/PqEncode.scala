package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native row-local PQ encode: for each of `m` contiguous subspaces of
  * `sub` dimensions, the index of the codebook entry at minimum L2
  * distance from the vector's subvector (ties on the smaller code), over
  * the broadcast packed codebook array `cbs[j][code] = cbvec`
  * (see `Similarity.pqPacked`). Returns the `array<int>` code word.
  *
  * Semantics are EXACTLY `Similarity.pqCodes` (parity pinned by
  * NativePqEncodeSpec): distances compare in exact integer space,
  * `d = dotL(v,v) + dotL(c,c) − 2·dotL(v,c)` where `dotL` is the
  * scaled-long fixed-point dot ([[FixedPointDot.roundHalfAway]] per
  * term, lengths truncating exactly as `slice` + min-length do), so the
  * argmin — and therefore every code — is partition-order-independent
  * and bit-identical to the DuckDB oracle.
  *
  * Why native: the HOF formulation is a transform∘aggregate nest —
  * CodegenFallback, interpreting m × ksub × 3 fixed-point dots per row —
  * measured 102 s per million vectors at m=8, ksub=16 (NOTES_r10,
  * 200k×64-dim corpus, 8 cores) and linear in ksub: ~1266 s/Mvec at
  * ksub=256. Encoding is an index-build cost paid per corpus vector per
  * retrain — the same profile that justified [[IvfBestCell]]. This
  * kernel is the same playbook: one tight primitive loop per row in a
  * static method, one call emitted by codegen so whole-stage codegen
  * survives around it.
  */
case class PqEncode(vec: Expression, cbs: Expression, m: Int, sub: Int,
                    scale: Double)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cbs

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def vecIsFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private def cbIsFloat: Boolean = cbs.dataType match {
    case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => true
    case _                                                   => false
  }

  override def nullSafeEval(v: Any, c: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      m, sub, vecIsFloat, cbIsFloat, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val cls = PqEncode.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.compute($v, $c, $m, $sub, $vecIsFloat, $cbIsFloat, ${scale}d);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(vec = newLeft, cbs = newRight)
}

object PqEncode {
  /** static so generated code can call it */
  def compute(vec: ArrayData, cbs: ArrayData, m: Int, sub: Int,
              vf: Boolean, cf: Boolean, scale: Double): ArrayData = {
    val vlen = vec.numElements()
    val nj = math.min(m, cbs.numElements())
    val codes = new Array[Int](m)
    var j = 0
    while (j < nj) {
      val off = j * sub
      // slice semantics: a start past the end yields an empty subvector
      val la = math.max(0, math.min(sub, vlen - off))
      var selfV = 0L
      var i = 0
      while (i < la) {
        val a = if (vf) vec.getFloat(off + i).toDouble
                else vec.getDouble(off + i)
        selfV += FixedPointDot.roundHalfAway(a * a * scale)
        i += 1
      }
      val cbj = cbs.getArray(j)
      val kc = cbj.numElements()
      var best = Long.MaxValue
      var bestC = -1
      var c = 0
      while (c < kc) {
        val cb = cbj.getArray(c)
        val lb = cb.numElements()
        var selfC = 0L
        var i2 = 0
        while (i2 < lb) {
          val b = if (cf) cb.getFloat(i2).toDouble else cb.getDouble(i2)
          selfC += FixedPointDot.roundHalfAway(b * b * scale)
          i2 += 1
        }
        var cross = 0L
        val nc = math.min(la, lb)
        var i3 = 0
        while (i3 < nc) {
          val a = if (vf) vec.getFloat(off + i3).toDouble
                  else vec.getDouble(off + i3)
          val b = if (cf) cb.getFloat(i3).toDouble else cb.getDouble(i3)
          cross += FixedPointDot.roundHalfAway(a * b * scale)
          i3 += 1
        }
        val d = selfV + selfC - 2L * cross
        // strict < keeps the smaller code on exact-distance ties — the
        // HOF fold's `d < acc.d` convention
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    // subspaces past the packed array (guarded out by pqEncode's
    // size(cbs) = m filter) keep the fold's -1 seed
    var j2 = nj
    while (j2 < m) { codes(j2) = -1; j2 += 1 }
    new GenericArrayData(codes)
  }

  def apply(vec: Column, cbs: Column, m: Int, sub: Int,
            scale: Double): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(PqEncode(GraftBridge.expression(vec),
      GraftBridge.expression(cbs), m, sub, scale))
  }
}
