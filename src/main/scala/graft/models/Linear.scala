package graft.models

import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Linear / logistic model scoring (ref: src/transpiler.py:1529-1694).
  *
  * Two physical strategies, same semantics:
  *  1. [[scoreExpr]] — the Spark-first path: coefficients baked into a
  *     single codegen'd expression (constant-folded dot product). No
  *     join, no shuffle — this is what the reference's COO-GEMM join
  *     plan computes, fused.
  *  2. [[cooGemm]] — the reference's relational plan kept for parity
  *     demonstrations: COO features ⨝ coefficient relation, groupBy
  *     row, sum of products (transpiler.py:1623-1629; SURVEY J3).
  */
final case class LinearModel(coefs: Array[Double], intercept: Double) {

  /** z = Σ w_i·f_i + b as one fused expression over feature columns. */
  def linearExpr(features: Seq[Column]): Column = {
    require(features.length == coefs.length, "feature/coef arity mismatch")
    val terms = features.zip(coefs).collect {
      case (f, w) if w != 0.0 => f.cast("double") * lit(w) // sparse pruning, transpiler.py:1503
    }
    terms.reduceOption(_ + _).getOrElse(lit(0.0)) + lit(intercept)
  }

  /** Binary probability, reference-faithful sigmoid (transpiler.py:1612). */
  def predictProba(features: Seq[Column]): Column =
    Fns.sigmoidRef(linearExpr(features))

  /** Coefficients as a typed Dataset of [[graft.core.Types.Coef]]. */
  def coefEntries(spark: SparkSession): org.apache.spark.sql.Dataset[graft.core.Types.Coef] = {
    import spark.implicits._
    coefs.zipWithIndex.map { case (w, i) =>
      graft.core.Types.Coef(0L, i, w, intercept)
    }.toSeq.toDS()
  }

  /** Coefficients as a relation (col_id, val, intercept) — the
    * model-as-relation form (transpiler.py:1537-1562). */
  def asRelation(spark: SparkSession): DataFrame =
    coefEntries(spark).toDF()
      .select(col("colId").as("col_id"), col("value").as("val"), col("intercept"))

  /** The reference's relational GEMM: input must be COO
    * (row_id, col_id, val). Output (row_id, z). The coefficient side is
    * broadcast — the probe side streams, one shuffle for the groupBy.
    *
    * The per-row reduction is a SORTED sequential fold, not `sum`: a
    * shuffle-order double sum is nondeterministic at the ulp, which
    * breaks cross-engine parity. The collected list is bounded by the
    * model width (one entry per nonzero feature), so this stays cheap
    * at any row count.
    */
  def cooGemm(coo: DataFrame, spark: SparkSession): DataFrame = {
    val c = asRelation(spark).withColumnRenamed("val", "w") // avoid clash with COO's `val`
    coo.filter(col("val") =!= 0.0)
      .join(broadcast(c), Seq("col_id"))
      .groupBy("row_id")
      .agg((aggregate(
          sort_array(collect_list(struct(col("col_id"), (col("val") * col("w")).as("prod")))),
          lit(0.0),
          (acc, x) => acc + x.getField("prod"))
        + first(col("intercept"))).as("z"))
  }
}

/** Multi-class linear model: per-class scores + argmax
  * (transpiler.py:1646-1663; SURVEY W2). Ties break to the lowest
  * class id (first max wins), pinned explicitly.
  */
final case class MultiClassLinearModel(classes: Array[Long], models: Array[LinearModel]) {
  require(classes.length == models.length)

  def scoresExpr(features: Seq[Column]): Column =
    array(models.map(m => Fns.sigmoidRef(m.linearExpr(features))): _*)

  /** argmax class; first max wins == lowest class id on ties. */
  def predictExpr(features: Seq[Column]): Column = {
    val scores = scoresExpr(features)
    val idx = array_position(scores, array_max(scores)) - 1
    element_at(lit(classes), idx.cast("int") + 1)
  }
}
