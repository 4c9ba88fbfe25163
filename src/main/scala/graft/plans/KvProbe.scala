package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** The probe cascade's compiled levels precomputed over the space of an
  * index's first fields (all of them when the whole space fits), one
  * answer per mixed-radix slot of those bins. Field `i` has digits
  * `0 .. radices(i)`: a bin in `[0, radices(i))` is its own digit and
  * any other bin (negative, or above every bin the index has seen in
  * that field) is the "unseen" digit `radices(i)`. Slots pack field 0
  * first: `slot = (..(d0 * (r1+1) + d1) * (r2+1) ..) + d(k-1)`.
  * [[answer]] is the same lookup on the driver: the last step of
  * `graft.core.LocalScorer`, and the bitwise compare that prunes the
  * first joined level of a split model.
  */
final class DenseAnswers private (val radices: Array[Int], val answers: Array[Double])
    extends Serializable {
  def answer(bins: Array[Long]): Double = {
    var slot = 0
    var i = 0
    while (i < radices.length) {
      val r = radices(i)
      val b = bins(i)
      slot = slot * (r + 1) + (if (b >= 0 && b < r) b.toInt else r)
      i += 1
    }
    answers(slot)
  }

  override def toString: String = radices.map(_ + 1).mkString("", "x", " slots")
}

object DenseAnswers {
  /** Π (r_i + 1), saturating at Long.MaxValue. */
  def slots(radices: Array[Int]): Long = radices.foldLeft(1L) { (n, r) =>
    val m = r + 1L
    if (n > Long.MaxValue / m) Long.MaxValue else n * m
  }

  /** The table of an index's cascade: every slot starts at `global`,
    * then each `(digits, value)` prefix, shortest first, writes its value
    * over its block — the slots whose first `digits.length` digits are
    * `digits`. Longer prefixes overwrite shorter ones, so a slot holds
    * the value of its longest prefix in the index, or `global`. Every
    * digit must be below its radix, and the space at most Int.MaxValue
    * slots. */
  def fill(radices: Array[Int], global: Double, prefixes: Seq[(Array[Int], Double)]): DenseAnswers = {
    val answers = Array.fill(slots(radices).toInt)(global)
    // block(l): the slots under one prefix of l digits, Π_{j>=l} (r_j + 1)
    val block = radices.scanRight(1)((r, n) => (r + 1) * n)
    prefixes.sortBy(_._1.length).foreach { case (digits, value) =>
      val start = digits.indices.foldLeft(0)((s, i) => s * (radices(i) + 1) + digits(i)) * block(digits.length)
      java.util.Arrays.fill(answers, start, start + block(digits.length), value)
    }
    new DenseAnswers(radices, answers)
  }
}

/** Compiled KV probe: the bins -> the cascade's answer over the
  * table's levels, one mixed-radix pack and one `double[]` load per row
  * inside whole-stage codegen — no key string, no hashing, no level
  * loop, no join, and no exchange on the probe side at any input size.
  * [[graft.core.KvModel.probe]] serves its compiled levels `1 .. s*`
  * (the first `s*` bins) from it: the whole cascade when `s*` is the key
  * length, else the last term of the coalesce after the broadcast joins
  * of the longer levels, whose first one holds only its rows whose
  * value differs bitwise from the table's answer (compared on the
  * driver, once per model, when the level is built and broadcast). The
  * table is filled on the driver from the codes and values of the
  * model's one collect of its index ([[DenseAnswers.fill]]), copied,
  * never recomputed, so the values are the join cascade's bit for bit
  * (KvProbeSpec pins it over whole key spaces); it rides the task binary
  * like [[KnnRef]]/[[TreeEnsembleRef]] and is at most
  * `KvModel.MaxCompiledEntries` doubles.
  */
case class KvProbeScore(children: Seq[Expression], table: DenseAnswers) extends Expression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != table.radices.length) TypeCheckResult.TypeCheckFailure(
      s"kv_probe takes ${table.radices.length} bins, got ${children.length}")
    else children.map(_.dataType).find(t => !KvProbe.bin(t)) match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(s"kv_probe requires integral bins, got ${t.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any =
    table.answer(children.map(c => c.eval(input).asInstanceOf[Number].longValue).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val answers = ctx.addReferenceObj("kvAnswers", table.answers, "double[]")
    val slot = ctx.freshName("slot")
    val packs = children.zip(table.radices).map { case (c, r) =>
      val b = c.genCode(ctx)
      code"""
        ${b.code}
        $slot = $slot * ${r + 1} + ((${b.value} >= 0 && ${b.value} < $r) ? (int) ${b.value} : $r);
      """
    }
    ev.copy(
      code = code"""
        int $slot = 0;
        ${packs.foldLeft(EmptyBlock: Block)(_ + _)}
        double ${ev.value} = $answers[$slot];
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KvProbeScore =
    copy(children = c)
  override def prettyName: String = "kv_probe"
}

object KvProbe {
  /** The bin types [[KvProbeScore]] packs. */
  def bin(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def column(bins: Seq[Column], table: DenseAnswers): Column =
    GraftColumnBridge.column(KvProbeScore(bins.map(GraftColumnBridge.expression), table))
}
