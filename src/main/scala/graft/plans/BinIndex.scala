package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{GraftColumnBridge, IndexLevelStrategy}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Codegen'd supervised-bin lookup: `bin(v)` = index of the first split
  * strictly greater than `v`; `v` beyond the last split, NULL, or NaN
  * falls into the overflow bin `splits.length` — exactly the
  * `NumericBins` CASE-chain semantics (ref: src/encoder.py:113-128,
  * generated chains src/transpiler.py:1122-1166).
  *
  * This is the one custom Catalyst piece SURVEY §4/§7.3 justifies: a
  * deep `when` chain is O(#splits) comparisons per row and blows up
  * generated-code size at MNIST scale (784 features × dozens of bins),
  * while this expression is one O(log n) `Arrays.binarySearch` against
  * a shared double[] — constant code size regardless of split count,
  * and it stays inside whole-stage codegen.
  */
case class BinIndex(child: Expression, splits: Array[Double])
    extends UnaryExpression {
  // Strictly increasing: binarySearch's index is unspecified among
  // duplicates, and BinRangeRewrite's [s(k-1), s(k)) range for an
  // inner bin would silently go empty on a duplicated split value.
  require(splits.length < 2 || splits.zip(splits.tail).forall { case (a, b) => a < b },
    "splits must be strictly increasing")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def checkInputDataTypes() =
    if (child.dataType == DoubleType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bin_index requires DOUBLE input, got ${child.dataType.sql}")

  @transient private lazy val len = splits.length

  // NULL input maps to the overflow bin, so eval is overridden (the
  // default nullSafeEval path would return null).
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) len.toLong
    else BinIndex.lookup(splits, v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arr = ctx.addReferenceObj("splits", splits, "double[]")
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value};
        if (${childGen.isNull}) {
          ${ev.value} = ${len}L;
        } else {
          ${ev.value} = graft.plans.BinIndex.lookup($arr, ${childGen.value});
        }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BinIndex =
    copy(child = newChild)

  override def prettyName: String = "bin_index"
}

object BinIndex {
  /** Index of the first split strictly greater than v (overflow = len).
    * Exact hits advance past the split (CASE `v < s` semantics); NaN
    * sorts above every double, landing in the overflow bin.
    */
  def lookup(splits: Array[Double], v0: Double): Long = {
    // canonicalize -0.0: binarySearch's total order has -0.0 < 0.0 but
    // the CASE chain's `v < s` IEEE compare does not — without this a
    // -0.0 input would bin differently above vs below CaseChainMax.
    val v = if (v0 == 0.0d) 0.0d else v0
    val idx = java.util.Arrays.binarySearch(splits, v)
    if (idx >= 0) {
      // duplicate-free sorted splits: first strictly-greater is idx+1
      (idx + 1).toLong
    } else {
      (-(idx + 1)).toLong
    }
  }

  /** Column wrapper used by NumericBins for wide split arrays. */
  def column(c: Column, splits: Array[Double]): Column =
    GraftColumnBridge.column(BinIndex(GraftColumnBridge.expression(c), splits))
}

/** SparkSessionExtensions hook: registers `bin_index(expr, s1, s2, …)`
  * plus the text/vector kernels (`graft_dot`, `poly_hash`,
  * `minhash_sig`, `simhash16`, `shingle_set`) for SQL use, and plans the
  * joined levels of a `KvModel` probe ([[IndexLevelStrategy]]). Install with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.binIndexFn)
    GraftExtensions.kernelFns.foreach(ext.injectFunction)
    // bin_index(x) = k  →  range predicate on x (parquet-pushable);
    // see BinRangeRewrite
    ext.injectOptimizerRule(_ => BinRangeRewrite)
    ext.injectPlannerStrategy(_ => IndexLevelStrategy)
  }
}

object GraftExtensions {
  private[plans] val binIndexFn
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("bin_index"),
    new ExpressionInfo(classOf[BinIndex].getName, "bin_index"),
    (children: Seq[Expression]) => {
      val splits = children.tail.map(_.eval(InternalRow.empty) match {
        case d: Double => d
        case other => other.toString.toDouble
      }).toArray
      BinIndex(children.head, splits)
    })

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): FunctionRegistry.FunctionBuilder =
    (c: Seq[Expression]) => {
      if (c.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${c.length}")
      build(c)
    }

  private[plans] val kernelFns: Seq[(FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      arity("graft_dot", 2)(c => DotProduct(c(0), c(1)))),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2DistSq].getName, "graft_l2sq"),
      arity("graft_l2sq", 2)(c => L2DistSq(c(0), c(1)))),
    (FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      arity("poly_hash", 1)(c => PolyHash(c.head))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 1)(c => MinHashSig(c.head))),
    (FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      arity("simhash16", 1)(c => SimHash16(c.head))),
    (FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      arity("shingle_set", 1)(c => ShingleSet(c.head))),
    (FunctionIdentifier("token_counts"),
      new ExpressionInfo(classOf[TokenCounts].getName, "token_counts"),
      arity("token_counts", 1)(c => TokenCounts(c.head))),
    (FunctionIdentifier("term_freqs"),
      new ExpressionInfo(classOf[TermFreqs].getName, "term_freqs"),
      arity("term_freqs", 1)(c => TermFreqs(c.head))),
    // intersect_size(a, b) == size(array_intersect(a, b)) ONLY for
    // array<string NOT NULL>; nullable-element arrays are rejected at
    // analysis time (array_intersect counts a shared null, the kernel
    // does not — refusing the type keeps the equivalence honest).
    (FunctionIdentifier("intersect_size"),
      new ExpressionInfo(classOf[IntersectSize].getName, "intersect_size"),
      arity("intersect_size", 2)(c => IntersectSize(c(0), c(1)))),
    // SQ8 quantized-scan kernels (round 8)
    (FunctionIdentifier("graft_abs_max"),
      new ExpressionInfo(classOf[AbsMax].getName, "graft_abs_max"),
      arity("graft_abs_max", 1)(c => AbsMax(c.head))),
    (FunctionIdentifier("graft_sq8"),
      new ExpressionInfo(classOf[Sq8Codes].getName, "graft_sq8"),
      arity("graft_sq8", 1)(c => Sq8Codes(c.head))),
    (FunctionIdentifier("graft_int_dot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_int_dot"),
      arity("graft_int_dot", 2)(c => IntDotProduct(c(0), c(1)))),
    (FunctionIdentifier("graft_adc_dot"),
      new ExpressionInfo(classOf[AdcDotProduct].getName, "graft_adc_dot"),
      arity("graft_adc_dot", 2)(c => AdcDotProduct(c(0), c(1)))))
}
