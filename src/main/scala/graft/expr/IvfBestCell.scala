package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StructType}

/** Native row-local IVF cell assignment: the argmax-cosine centroid id of
  * one vector against the broadcast cid-ORDERED packed centroid array
  * (`array<struct<cid, cvec, cnrm>>`, see `Similarity.centsPacked`), or
  * -1 for an empty centroid array.
  *
  * Semantics are EXACTLY `Similarity.bestCid(Similarity.centScores(...))`
  * (parity pinned by NativeAssignSpec): per centroid the fixed-point dot
  * ([[FixedPointDot.roundHalfAway]] per term, scaled-long sum — the
  * associative, engine-exact convention), total cosine (zero denominator
  * → IEEE NaN, never an ANSI error), and the fold where a NaN score
  * beats every real score, the FIRST NaN (smallest cid) wins among NaNs,
  * and real-score ties keep the smallest cid.
  *
  * Why native: `transform`/`aggregate` are CodegenFallback, so the HOF
  * formulation interprets the whole scoring subtree per centroid —
  * measured 1.8 s per million vectors PER CENTROID on 8 cores
  * (NOTES_r10, 1M×64-dim corpus): ~113 s/Mvec at nCells=64, which
  * multiplied by a production corpus and a trained quantizer's per-
  * iteration reassignment is the dominant index-build cost. This kernel
  * is the [[SimhashFp]] playbook: one tight primitive loop per row in a
  * static method, one call emitted by codegen so whole-stage codegen
  * survives around it (measured numbers in NOTES_r10).
  *
  * Both `array<float>` and `array<double>` vectors and centroids are
  * supported (the Lloyd trainer's updated centroids are double means;
  * raw corpus embeddings are float).
  */
case class IvfBestCell(vec: Expression, nrm: Expression, cents: Expression,
                       scale: Double)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents

  override def dataType: DataType = LongType

  private def vecIsFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private def cvecIsFloat: Boolean = cents.dataType match {
    case ArrayType(st: StructType, _) => st.fields(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    case _ => false
  }

  override def nullSafeEval(v: Any, n: Any, c: Any): Any =
    IvfBestCell.compute(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      c.asInstanceOf[ArrayData], vecIsFloat, cvecIsFloat, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n, c) => {
      val cls = IvfBestCell.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.compute($v, $n, $c, $vecIsFloat, $cvecIsFloat, ${scale}d);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): IvfBestCell =
    copy(vec = newFirst, nrm = newSecond, cents = newThird)
}

object IvfBestCell {
  /** static so generated code can call it */
  def compute(vec: ArrayData, nrm: Double, cents: ArrayData,
              vf: Boolean, cf: Boolean, scale: Double): Long = {
    val m = cents.numElements()
    var bestS = Double.NegativeInfinity
    var bestCid = -1L
    var j = 0
    while (j < m) {
      val cent = cents.getStruct(j, 3)
      val cvec = cent.getArray(1)
      val n = math.min(vec.numElements(), cvec.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        val a = if (vf) vec.getFloat(i).toDouble else vec.getDouble(i)
        val b = if (cf) cvec.getFloat(i).toDouble else cvec.getDouble(i)
        acc += FixedPointDot.roundHalfAway(a * b * scale)
        i += 1
      }
      val den = nrm * cent.getDouble(2)
      val s = if (den == 0d) Double.NaN else (acc.toDouble / scale) / den
      // fold parity with Similarity.bestCid: NaN beats real, first NaN
      // (smallest cid in the ordered array) is kept, real ties keep the
      // earlier (smaller) cid via strict >
      if ((java.lang.Double.isNaN(s) && !java.lang.Double.isNaN(bestS)) ||
          s > bestS) {
        bestS = s
        bestCid = cent.getLong(0)
      }
      j += 1
    }
    bestCid
  }

  def apply(vec: Column, nrm: Column, cents: Column, scale: Double): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(IvfBestCell(GraftBridge.expression(vec),
      GraftBridge.expression(nrm), GraftBridge.expression(cents), scale))
  }
}
