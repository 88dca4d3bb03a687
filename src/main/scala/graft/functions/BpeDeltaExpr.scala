package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Adjacent-pair count DELTAS of one greedy-leftmost BPE merge over one
  * double-separator-encoded sequence — the r15 optimization of the BPE
  * training rounds (`ops/Vocab.scala`): instead of re-counting every
  * adjacent pair of every sequence each round (a corpus-scale
  * explode+aggregate per merge), each round updates the previous
  * round's materialized pair-count relation with the deltas at the
  * merge's CHANGE SITES only — the production BPE trick (only pairs
  * adjacent to a rewritten occurrence can change count).
  *
  * `graft_bpe_delta(seq, pa, pb)` returns the array of
  * `(pa, pb, d)` count adjustments that turn the pair counts of `seq`
  * into the pair counts of `replace(seq, <US a US US b US>, <US a RS
  * b US>)` — i.e. of [[graft.ops.Vocab.mergeRewrite]]'s output.
  * Site enumeration reproduces `UTF8String.replace`'s left-to-right
  * non-overlapping scan exactly (see the encoding argument in
  * Vocab.scala): on the token list, scan left to right and take
  * `(t_i, t_{i+1}) == (a, b)` greedily, skipping both tokens of a
  * match, so back-to-back occurrences all fuse while overlapping ones
  * cannot.
  *
  * Per matched site at token index i (merged symbol m = a RS b):
  *   - the pair itself:   (a, b) −1
  *   - left boundary:     (t_{i−1}, a) −1 and (L, m) +1, where L = m
  *     when the left neighbor is itself a site (its tokens already
  *     fused), else t_{i−1}
  *   - right boundary, attributed to the RIGHT site of two adjacent
  *     sites (so the shared boundary is counted once): skipped when
  *     t_{i+2} starts a site, else (b, t_{i+2}) −1 and (m, t_{i+2}) +1
  *
  * VocabSpec's delta law pins Σdeltas + old counts == full recount of
  * the rewritten corpus for random corpora over several rounds; the
  * four E19 oracles re-verify the trained artifacts corpus-wide.
  */
case class BpeDelta(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType, StringType)
  override def dataType: DataType = BpeDeltaUtil.OutType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable
  override def prettyName: String = "graft_bpe_delta"

  override def nullSafeEval(seq: Any, pa: Any, pb: Any): Any =
    BpeDeltaUtil.delta(
      seq.asInstanceOf[UTF8String],
      pa.asInstanceOf[UTF8String],
      pb.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seq, pa, pb) => s"""
      ${ev.value} = graft.functions.BpeDeltaUtil.delta($seq, $pa, $pb);
    """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpeDelta =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeDeltaUtil {
  /** Unit separator between symbols (single byte in UTF-8, never part
    * of a multibyte encoding — byte-level scanning is safe).
    */
  private final val US: Byte = 31
  /** Record separator fusing the two halves of a merged symbol. */
  private final val RS: Byte = 30

  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("pa", StringType, nullable = false),
      StructField("pb", StringType, nullable = false),
      StructField("d", LongType, nullable = false))),
    containsNull = false)

  private val Empty = new GenericArrayData(Array.empty[Any])

  private def eq(s: Array[Byte], start: Int, len: Int, t: Array[Byte]): Boolean = {
    if (len != t.length) return false
    var i = 0
    while (i < len) {
      if (s(start + i) != t(i)) return false
      i += 1
    }
    true
  }

  /** Static entry called from generated Java: the per-row site scan. */
  def delta(seq: UTF8String, pa: UTF8String, pb: UTF8String): GenericArrayData = {
    val s = seq.getBytes
    val a = pa.getBytes
    val b = pb.getBytes
    // token ranges: maximal US-free runs
    var nTok = 0
    var i = 0
    val n = s.length
    // first pass: count tokens
    while (i < n) {
      if (s(i) != US) {
        nTok += 1
        while (i < n && s(i) != US) i += 1
      } else i += 1
    }
    if (nTok < 2) return Empty
    val tStart = new Array[Int](nTok)
    val tLen = new Array[Int](nTok)
    i = 0
    var t = 0
    while (i < n) {
      if (s(i) != US) {
        tStart(t) = i
        while (i < n && s(i) != US) i += 1
        tLen(t) = i - tStart(t)
        t += 1
      } else i += 1
    }
    // greedy-leftmost non-overlapping site scan (replace's semantics)
    var sites: Array[Int] = null
    var nSites = 0
    t = 0
    while (t < nTok - 1) {
      if (eq(s, tStart(t), tLen(t), a) && eq(s, tStart(t + 1), tLen(t + 1), b)) {
        if (sites == null) sites = new Array[Int](nTok / 2 + 1)
        sites(nSites) = t
        nSites += 1
        t += 2
      } else t += 1
    }
    if (nSites == 0) return Empty

    val aStr = UTF8String.fromBytes(a)
    val bStr = UTF8String.fromBytes(b)
    val m = new Array[Byte](a.length + 1 + b.length)
    System.arraycopy(a, 0, m, 0, a.length)
    m(a.length) = RS
    System.arraycopy(b, 0, m, a.length + 1, b.length)
    val mStr = UTF8String.fromBytes(m)
    def tok(idx: Int): UTF8String =
      UTF8String.fromBytes(s, tStart(idx), tLen(idx))

    val out = new java.util.ArrayList[Any](nSites * 5)
    def emit(x: UTF8String, y: UTF8String, d: Long): Unit =
      out.add(new GenericInternalRow(Array[Any](x, y, d)))

    var k = 0
    while (k < nSites) {
      val at = sites(k)
      emit(aStr, bStr, -1L) // the merged pair itself
      if (at > 0) {
        val leftIsSite = k > 0 && sites(k - 1) == at - 2
        emit(tok(at - 1), aStr, -1L)
        emit(if (leftIsSite) mStr else tok(at - 1), mStr, 1L)
      }
      if (at + 2 < nTok) {
        val rightIsSite = k + 1 < nSites && sites(k + 1) == at + 2
        if (!rightIsSite) {
          emit(bStr, tok(at + 2), -1L)
          emit(mStr, tok(at + 2), 1L)
        }
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}
