package graft.core

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, ConcatWs, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType

/** Compound-key assembly: '.'-joined bin indices in selected-feature
  * order, e.g. "2.0.5.11" (ref: src/transpiler.py:940-983, 1132-1166).
  * Owns the key format (`LocalScorer.prefix` mirrors [[prefix]]
  * driver-side): [[KvModel.probe]] reads the bins back out of a
  * [[keyColumn]] through [[bins]], and its dense answer table names its
  * slots through [[parse]] and [[render]].
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

  /** The bin values of `key` when it is exactly `n` canonical decimals
    * (no sign, no leading zero, at most 9 digits) — the keys [[keyColumn]]
    * builds from non-negative bins; None for anything else. */
  def parse(key: String, n: Int): Option[Array[Int]] = {
    val fields = key.split("\\.", -1)
    def canonical(f: String) = f.nonEmpty && f.length <= 9 && f.forall(c => c >= '0' && c <= '9') &&
      (f == "0" || f.head != '0')
    if (fields.length == n && fields.forall(canonical)) Some(fields.map(_.toInt)) else None
  }
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
