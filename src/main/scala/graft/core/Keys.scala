package graft.core

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, ConcatWs, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodegenFallback, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compound-key assembly: '.'-joined bin indices in selected-feature
  * order, e.g. "2.0.5.11" (ref: src/transpiler.py:940-983, 1132-1166).
  * Owns both encodings of a key: the string a build keys by and an index
  * saves, and the packed Long [[code]] of its bins, the one key
  * [[KvModel.probe]] and [[LocalScorer]] serve:
  * it reads the bins back out of a [[keyColumn]] through [[bins]], and
  * each index key is packed once, where the index is read to the driver.
  */
object Keys {
  /** Build the compound key from already-encoded (LongType) bin columns. */
  def keyColumn(binCols: Seq[Column]): Column =
    GraftColumnBridge.column(CompoundKey(binCols.map(GraftColumnBridge.expression)))

  /** The bin columns of a key built by [[keyColumn]]; None for any other
    * key column. */
  def bins(key: Column): Option[Seq[Column]] = GraftColumnBridge.expression(key) match {
    case CompoundKey(bins) => Some(bins.map(GraftColumnBridge.column))
    case _ => None
  }

  /** First `n` '.'-separated fields of a key — the field-wise prefix of
    * the trie semantics (src/inference_trie.py:84-98), NOT the
    * char-wise prefix of prefix_search.sql (SURVEY §2.9 divergence).
    */
  def prefix(key: Column, n: Int): Column = substring_index(key, ".", n)

  /** The key [[keyColumn]] builds for these bin values. */
  def render(bins: Seq[Long]): String = bins.mkString(".")

  /** Pass each field of `key` to `field` while it reads as `n` canonical
    * decimals (no sign, no leading zero, at most 9 digits: the keys
    * [[keyColumn]] builds from non-negative bins); whether all of it did.
    * It reads the bytes in place, so [[code]] can run it on every index
    * row. */
  private def scan(key: UTF8String, n: Int)(field: Int => Unit): Boolean = {
    val end = key.numBytes
    def digit(i: Int) = i < end && key.getByte(i) >= '0' && key.getByte(i) <= '9'
    var i = 0
    var k = 0
    while (k < n) {
      if (k > 0) {
        if (i == end || key.getByte(i) != '.') return false
        i += 1
      }
      val start = i
      var f = 0
      while (i - start < 10 && digit(i)) {
        f = f * 10 + (key.getByte(i) - '0')
        i += 1
      }
      if (i == start || i - start > 9 || (i - start > 1 && key.getByte(start) == '0')) return false
      field(f)
      k += 1
    }
    i == end
  }

  /** Bits per field of the code of an `n`-field key: ⌊63/n⌋, so a code
    * is a non-negative Long with field 0 in its highest bits. */
  def codeWidth(n: Int): Int = 63 / n

  /** The all-ones "unseen" digit of an `n`-field code. A bin outside
    * `[0, unseen)` packs to it, and an index packs only fields below it,
    * so an unseen digit matches no index key. */
  def unseen(n: Int): Long = (1L << codeWidth(n)) - 1

  /** The code of a [[keyColumn]] over `bins` (non-nullable, integral):
    * its level-`l` [[codePrefix]] equals the [[code]] of an index key
    * exactly when the key string's [[prefix]] equals that index key. */
  private[core] def code(bins: Seq[Column]): Column =
    GraftColumnBridge.column(BinCode(bins.map(GraftColumnBridge.expression)))

  /** The code of one key's bin values, packed as [[BinCode]] packs a
    * row's: the driver-side [[code]]. */
  private[core] def code(bins: Array[Long]): Long = {
    val (width, top) = (codeWidth(bins.length), unseen(bins.length))
    var code = 0L
    var i = 0
    while (i < bins.length) {
      code = code << width | (if (bins(i) >= 0 && bins(i) < top) bins(i) else top)
      i += 1
    }
    code
  }

  /** The first `l` fields of the code of an `n`-field key: the packed
    * [[prefix]]. */
  private[core] def codePrefix(code: Column, n: Int, l: Int): Column =
    shiftrightunsigned(code, codeWidth(n) * (n - l))

  /** The first `l` fields of the [[code]] of `n` bins, field 0 first,
    * as Long digits: each bin packed as itself, any other as the unseen
    * digit. A [[graft.plans.DenseAnswers]] table over an index's radices
    * (each at most [[unseen]]`(n)`) answers these digits exactly as it
    * answers the bins. */
  private[core] def codeDigits(code: Column, n: Int, l: Int): Seq[Column] =
    (0 until l).map(i => shiftrightunsigned(code, codeWidth(n) * (n - 1 - i)).bitwiseAND(unseen(n)))

  /** The code of each index key: [[code]] of `key` at `len` fields of an
    * `n`-field index, NULL where it does not pack. */
  private[core] def indexCode(key: Column, len: Column, n: Int): Column =
    GraftColumnBridge.column(IndexKeyCode(GraftColumnBridge.expression(key), GraftColumnBridge.expression(len), n))

  /** The code of an index key of `l <= n` fields (a prefix level of an
    * `n`-field index, or its exact level when `l == n`) — equal to
    * [[codePrefix]] of the code of every key it prefixes — when `key` is
    * `l` canonical decimals ([[scan]]) each below [[unseen]]`(n)`; -1
    * (no code) otherwise. */
  private[core] def code(key: UTF8String, l: Int, n: Int): Long = {
    val (width, top) = (codeWidth(n), unseen(n))
    var code = 0L
    var below = true
    val scanned = scan(key, l) { f =>
      below &&= f < top
      code = code << width | f
    }
    if (scanned && below && l <= n) code else -1L
  }

  /** The `l` fields of the code of an `l`-field key of an `n`-field
    * index, field 0 first: the bins [[code]] packed. */
  private[core] def digits(code: Long, l: Int, n: Int): Array[Int] =
    Array.tabulate(l)(i => ((code >>> codeWidth(n) * (l - 1 - i)) & unseen(n)).toInt)
}

/** The key node of [[Keys.keyColumn]]: the '.'-joined string of its bins.
  * The optimizer's first batch replaces it with that `concat_ws` of
  * string casts, so every plan that reads the key string runs exactly
  * the plain expression; until then the bins stay visible for
  * [[Keys.bins]]. */
private[core] final case class CompoundKey(children: Seq[Expression])
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = ConcatWs(Literal(".") +: children.map(b =>
    Cast(b, StringType, Option(SQLConf.get.sessionLocalTimeZone))))
  override def sql: String = replacement.sql
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CompoundKey =
    copy(children = c)
}

/** The node of [[Keys.code]] over bins: each bin as a `⌊63/n⌋`-bit
  * digit, field 0 highest, a bin outside `[0, unseen)` as the unseen
  * digit. One shift-or per bin inside whole-stage codegen — no string,
  * no parse. */
private[core] final case class BinCode(children: Seq[Expression]) extends Expression {
  private def width: Int = Keys.codeWidth(children.length)
  private def unseen: Long = Keys.unseen(children.length)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    Keys.code(children.map(_.eval(input).asInstanceOf[Number].longValue).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val digits = children.map { c =>
      val b = c.genCode(ctx)
      code"""
        ${b.code}
        ${ev.value} = ${ev.value} << $width | ((${b.value} >= 0 && ${b.value} < ${unseen}L) ? (long) ${b.value} : ${unseen}L);
      """
    }
    ev.copy(
      code = code"""
        long ${ev.value} = 0L;
        ${digits.foldLeft(EmptyBlock: Block)(_ + _)}
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BinCode = copy(children = c)
  override def prettyName: String = "bin_code"
}

/** The node of [[Keys.indexCode]]: evaluated once per index row, where
  * the index is read to the driver. */
private[core] final case class IndexKeyCode(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(key: Any, len: Any): Any = {
    val code = Keys.code(key.asInstanceOf[UTF8String], len.asInstanceOf[Int], n)
    if (code < 0) null else code
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IndexKeyCode =
    copy(left = l, right = r)
}
