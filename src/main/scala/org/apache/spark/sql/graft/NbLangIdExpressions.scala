package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `char_bigram_counts(s)` → map<string, long>: occurrence counts of
  * the string's adjacent-character bigrams — the q251 fit/score unit —
  * computed in ONE pass per document instead of the compositional
  * `explode(sequence(1, length(t)-1))` + `substr(t, p, 2)` occurrence
  * frame (n·(len-1) rows) the r14 shape materialized.
  *
  * Character semantics are exactly Spark's `substr`: characters are
  * UTF-8 code points (UTF8String's `numBytesForFirstByte` stepping), so
  * a bigram is two adjacent code points regardless of byte width —
  * pinned against the compositional form in ClassifySpec, including
  * multi-byte text. A string with fewer than 2 characters yields an
  * empty map (the caller filters those out, as the old form's
  * `sequence(1, 0)` produced no rows).
  */
case class CharBigramCounts(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_bigram_counts"

  override def nullSafeEval(input: Any): Any =
    CharBigramCounts.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = org.apache.spark.sql.graft.CharBigramCounts.counts($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharBigramCounts {
  /** Static forwarder for the generated code. Insertion-ordered map
    * (first occurrence order) — downstream consumers are sums, so the
    * order is immaterial, but determinism keeps plans replayable.
    */
  def counts(s: UTF8String): MapData = {
    val bytes = s.getBytes
    val n = bytes.length
    val m = new java.util.LinkedHashMap[UTF8String, Long]()
    var prevStart = 0
    var i = 0
    while (i < n) {
      val charLen = UTF8String.numBytesForFirstByte(bytes(i))
      val end = math.min(i + charLen, n)
      if (i > 0) {
        // bigram = previous char + this char, by raw UTF-8 bytes
        val bg = UTF8String.fromBytes(bytes, prevStart, end - prevStart)
        val prev = m.get(bg)
        m.put(bg, if (prev == null) 1L else prev + 1L)
      }
      prevStart = i
      i = end
    }
    val keys = new Array[AnyRef](m.size)
    val vals = new Array[Any](m.size)
    var k = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue
      k += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keys.asInstanceOf[Array[Any]]),
      new GenericArrayData(vals))
  }
}

/** Accumulator for the q251 per-document NB scores: total bigram
  * occurrences `nb`, and per-candidate-lang matched log-prob sums
  * `sm` / matched occurrence counts `mc`, all exact integer sums
  * (log-probs arrive as 6-dp-DECIMAL micros longs), so partial/final
  * merge is elementwise addition and the result is independent of row
  * order and partitioning by construction.
  */
final class NbScoreBuffer(val L: Int) {
  var nb: Long = 0L
  val sm: Array[Long] = new Array[Long](L)
  val mc: Array[Long] = new Array[Long](L)

  def mergeFrom(o: NbScoreBuffer): Unit = {
    nb += o.nb
    var i = 0
    while (i < L) { sm(i) += o.sm(i); mc(i) += o.mc(i); i += 1 }
  }
}

/** `nb_score_accum(c, lps)` grouped per document — `c` is the doc's
  * occurrence count of one bigram, `lps` the model's map of
  * lang → 1e6-scaled smoothed log-prob for that bigram. Emits
  * struct(nb, sm array<long>, mc array<long>) indexed by the
  * constructor's `langs` ordering.
  *
  * Replaces the r14 shape's (doc,bg,c) ⋈ model join that multiplied
  * every row by the number of langs carrying the bigram and fed the
  * blown-up frame (≈8× rows) through a (doc, m_lang)-keyed hash
  * aggregate: here the join stays 1:1 on bg and the per-lang sums
  * accumulate into a fixed long-array buffer per doc.
  */
case class NbScoreAccum(
    c: Expression,
    lps: Expression,
    langs: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[NbScoreBuffer]
    with BinaryLike[Expression] {

  override def left: Expression = c
  override def right: Expression = lps

  @transient private lazy val idx: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    langs.zipWithIndex.foreach { case (l, i) =>
      m.put(UTF8String.fromString(l), i)
    }
    m
  }

  override def dataType: DataType = StructType(Seq(
    StructField("nb", LongType),
    StructField("sm", ArrayType(LongType, containsNull = false)),
    StructField("mc", ArrayType(LongType, containsNull = false))))
  override def nullable: Boolean = false
  override def prettyName: String = "nb_score_accum"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (c.dataType, lps.dataType) match {
      case (LongType, MapType(StringType, LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nb_score_accum expects (long, map<string,long>), got $other")
    }

  override def createAggregationBuffer(): NbScoreBuffer =
    new NbScoreBuffer(langs.size)

  override def update(buf: NbScoreBuffer, row: InternalRow): NbScoreBuffer = {
    val cv = c.eval(row)
    if (cv == null) return buf
    val cc = cv.asInstanceOf[Long]
    buf.nb += cc
    val mv = lps.eval(row)
    if (mv == null) return buf
    val m = mv.asInstanceOf[MapData]
    val ks = m.keyArray()
    val vs = m.valueArray()
    var i = 0
    val n = m.numElements()
    while (i < n) {
      val li = idx.get(ks.getUTF8String(i))
      if (li != null) {
        buf.sm(li) += cc * vs.getLong(i)
        buf.mc(li) += cc
      }
      i += 1
    }
    buf
  }

  override def merge(a: NbScoreBuffer, b: NbScoreBuffer): NbScoreBuffer = {
    a.mergeFrom(b); a
  }

  override def eval(buf: NbScoreBuffer): Any =
    InternalRow(buf.nb, new GenericArrayData(buf.sm),
      new GenericArrayData(buf.mc))

  override def serialize(buf: NbScoreBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 + 16 * buf.L)
    bb.putInt(buf.L)
    bb.putLong(buf.nb)
    buf.sm.foreach(bb.putLong)
    buf.mc.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): NbScoreBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val l = bb.getInt
    val buf = new NbScoreBuffer(l)
    buf.nb = bb.getLong
    var i = 0
    while (i < l) { buf.sm(i) = bb.getLong; i += 1 }
    i = 0
    while (i < l) { buf.mc(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NbScoreAccum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NbScoreAccum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NbScoreAccum =
    copy(c = newLeft, lps = newRight)
}
