package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the per-document banded-minhash signature: the
  * `Seeds × Channels` channel minima over every `n`-word shingle of the
  * text, as one `array<long>` — bit-identical to the composed batch
  * derivation (shingle explode → `md5(concat_ws('|', seed, shingle))`
  * per seed → per-channel 8-hex-char minima, Dedup.signature) and to the
  * streaming row-local array-HOF form (DocStream.nearDupCandidates),
  * both of which it exists to replace on the hot path.
  *
  * Why native: the composed form streams |shingles| rows into an
  * aggregation (an exchange + agg machinery for what is a pure per-doc
  * function), and the array-HOF form pays the interpreted-lambda tax per
  * shingle per seed. This kernel is one pass per document: byte-level
  * single-space tokenization after a 0x20-only trim (split semantics
  * with empty fields kept, the SimhashFp convention — 0x20 never occurs
  * inside a UTF-8 multibyte sequence, so byte slicing is char-correct),
  * and because split fields are separated by EXACTLY one space, each
  * n-word shingle is a contiguous byte slice of the original text —
  * digested zero-copy with one reused MessageDigest, 3 md5s per shingle
  * exactly like the composed form. Channel c of seed s is digest bytes
  * [4c, 4c+4) as an unsigned big-endian 32-bit value — the same number
  * its 8-char hex substring parses to, so the minima (and therefore
  * every band key derived from them) are unchanged.
  *
  * NULL for texts with fewer than `n` words (the shingle explode
  * produces no rows for them, so they are absent from the composed
  * signature; callers filter the null out to reproduce that).
  *
  * Codegen: the loop lives in a static method; doGenCode emits one call,
  * so whole-stage codegen stays intact around it.
  */
case class MinhashChannels(child: Expression, n: Int, seeds: Int,
                           channels: Int) extends UnaryExpression {
  require(n >= 1 && seeds >= 1 && seeds <= 9 && channels >= 1 &&
    channels <= 4, s"bad shape: n=$n seeds=$seeds channels=$channels")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinhashChannels.compute(input.asInstanceOf[UTF8String], n, seeds,
      channels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = MinhashChannels.getClass.getName.stripSuffix("$")
      val adCls = classOf[ArrayData].getName
      s"""
         |${ev.value} = ($adCls) $cls.compute($c, $n, $seeds, $channels);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinhashChannels =
    copy(child = c)
}

object MinhashChannels {
  /** Column-level entry point (the package convention — every kernel
    * owns its GraftBridge plumbing rather than leaking it to call sites)
    */
  def apply(c: org.apache.spark.sql.Column, n: Int, seeds: Int,
            channels: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      MinhashChannels(GraftBridge.expression(c), n, seeds, channels))
  }

  /** static so generated code can call it; null when the (trimmed,
    * single-space-split) text has fewer than `n` words
    */
  def compute(text: UTF8String, n: Int, seeds: Int,
              channels: Int): ArrayData = {
    val all = text.getBytes
    // trim = leading/trailing 0x20 only (Spark's trim() default)
    var lo = 0
    var hi = all.length
    while (lo < hi && all(lo) == ' ') lo += 1
    while (hi > lo && all(hi - 1) == ' ') hi -= 1
    // word start offsets (split keeps empty fields; an empty trimmed
    // input is ONE empty word)
    val starts = new java.util.ArrayList[Integer]()
    starts.add(lo)
    var i = lo
    while (i < hi) {
      if (all(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val nWords = starts.size()
    if (nWords < n) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[Long](seeds * channels)
    java.util.Arrays.fill(mins, 0xFFFFFFFFFFL) // > any unsigned 32-bit
    var w = 0
    while (w + n <= nWords) {
      // fields are separated by exactly one 0x20, so the n-word shingle
      // (concat_ws-joined) IS the contiguous slice [start_w, end_{w+n-1})
      val s0 = starts.get(w)
      val e0 = if (w + n < nWords) starts.get(w + n) - 1 else hi
      var s = 0
      while (s < seeds) {
        md.reset()
        md.update(('0' + s).toByte)
        md.update('|'.toByte)
        md.update(all, s0, e0 - s0)
        val d = md.digest()
        var c = 0
        while (c < channels) {
          val v = ((d(4 * c) & 0xffL) << 24) | ((d(4 * c + 1) & 0xffL) << 16) |
            ((d(4 * c + 2) & 0xffL) << 8) | (d(4 * c + 3) & 0xffL)
          val k = s * channels + c
          if (v < mins(k)) mins(k) = v
          c += 1
        }
        s += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }
}
