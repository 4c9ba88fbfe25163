package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local term frequencies: text -> array<struct<t, tf>> with one
  * entry per DISTINCT single-space token, tf = its occurrence count.
  *
  * Exactly the multiset `explode(split(text, ' '))` + `groupBy(doc_id,
  * t).count()` produces — including split's empty-field semantics
  * (leading/trailing/adjacent separators yield "" tokens; the empty
  * string yields one "" token) — but computed IN the row, so the term
  * frequency stage of tf-based similarity/statistics queries is a pure
  * map: no shuffle, nothing keyed on (doc_id, token). That shuffle is
  * what the third-decade text spot caught in t_doc_similarity: at 5M
  * docs the explode->groupBy form moved 285M (doc_id, token) rows into
  * a ~155M-group string-keyed hash aggregate (spill regime — 40x for
  * 10x data); per-doc counting is O(doc length) with a small
  * UTF8String-keyed map, and the downstream per-TERM aggregate
  * (31k distinct tokens) collapses map-side to almost nothing.
  *
  * Output entries are sorted by token bytes (UTF8String order), so the
  * expression is deterministic for a given input — downstream
  * aggregates don't care, but plan-independent output is what keeps
  * every graft query hash-checkable against its oracle.
  */
object TermFreqKernel {
  def termFreqs(s: UTF8String): ArrayData = {
    // single-space split on BYTES (0x20 never occurs inside a UTF-8
    // multi-byte sequence, so byte slicing between separators is
    // code-point-safe) with empty fields kept; a TreeMap keyed on
    // UTF8String binary order counts and sorts in one structure. Token
    // bytes are COPIED out of the row buffer — vectorized readers
    // reuse it across rows, so a zero-copy slice must never escape.
    val counts = new java.util.TreeMap[UTF8String, Long]()
    val n = s.numBytes()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        val len = i - start
        val bytes = new Array[Byte](len)
        var j = 0
        while (j < len) { bytes(j) = s.getByte(start + j); j += 1 }
        val tok = UTF8String.fromBytes(bytes)
        counts.put(tok, counts.getOrDefault(tok, 0L) + 1L)
        start = i + 1
      }
      i += 1
    }
    toEntries(counts)
  }

  /** Same counting over an existing array<string> (non-null elements):
    * the per-doc frequency table of any token DERIVATION — bigrams
    * from zip_with, shingles, char n-grams — without splitting text
    * again. Element bytes are copied for the same buffer-reuse reason.
    */
  def arrayFreqs(arr: ArrayData): ArrayData = {
    val counts = new java.util.TreeMap[UTF8String, Long]()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // null elements fail LOUDLY (ShardSearch's null contract): the
      // groupBy form would count a NULL group, this kernel cannot —
      // silently diverging is worse than refusing. Catalyst marks
      // zip_with outputs containsNull (padding semantics), so the
      // check must be runtime, not type-level.
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        "array_freqs: null element (the explode+groupBy form counts a " +
          "NULL group; this kernel refuses rather than diverge)")
      val tok = arr.getUTF8String(i).clone()
      counts.put(tok, counts.getOrDefault(tok, 0L) + 1L)
      i += 1
    }
    toEntries(counts)
  }

  private def toEntries(counts: java.util.TreeMap[UTF8String, Long]): ArrayData = {
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** text -> array<struct<t string, tf long>>, distinct tokens sorted. */
case class TermFreqs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(TermFreqs.entryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"term_freqs requires STRING, got ${other.sql}")
  }

  override def nullSafeEval(s: Any): Any =
    TermFreqKernel.termFreqs(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TermFreqKernel.termFreqs($c)")

  override protected def withNewChildInternal(c: Expression): TermFreqs =
    copy(child = c)
  override def prettyName: String = "term_freqs"
}

/** array<string> -> array<struct<t, tf>>, distinct elements sorted. */
case class ArrayFreqs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(TermFreqs.entryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_freqs requires ARRAY<STRING>, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any =
    TermFreqKernel.arrayFreqs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TermFreqKernel.arrayFreqs($c)")

  override protected def withNewChildInternal(c: Expression): ArrayFreqs =
    copy(child = c)
  override def prettyName: String = "array_freqs"
}

object TermFreqs {
  val entryType: StructType = StructType(Seq(
    StructField("t", StringType, nullable = false),
    StructField("tf", LongType, nullable = false)))

  def column(text: Column): Column =
    GraftColumnBridge.column(TermFreqs(GraftColumnBridge.expression(text)))

  def arrayColumn(arr: Column): Column =
    GraftColumnBridge.column(ArrayFreqs(GraftColumnBridge.expression(arr)))
}
