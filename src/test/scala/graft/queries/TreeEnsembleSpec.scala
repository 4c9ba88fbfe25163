package graft.queries

import graft.TestSpark
import graft.TestSpark.bits
import graft.Tables
import graft.plans.TreeEnsembleRef
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled ensemble scorer (TreeEnsembleRef: array-encoded nodes,
  * while-loop traversal) replaces the nested `when`-chain encoding in
  * the GBT serve queries — this spec pins the two forms BITWISE per
  * row over the fitted zoo ensembles, including the NULL-feature path
  * (chain: NULL condition takes `otherwise`; kernel: coalesce-to-NaN
  * fails the compare — both must land on the same leaf every time).
  */
class TreeEnsembleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"


  test("compiled GBT classification margin is bitwise equal to the when-chain") {
    val (roots, ws) = LearnedQueries.fittedGbt(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_extendedprice") / 1000.0,
      col("l_discount"), col("l_tax"))
    val both = Tables.lineitem(spark, sf).select(
      LearnedQueries.gbtRawExpr(feats, roots, ws).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, roots, ws).as("compiled"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("compiled GBT regression prediction is bitwise equal to the when-chain") {
    val (roots, ws) = LearnedQueries.fittedGbtReg(spark, sf)
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
    val both = Tables.lineitem(spark, sf).select(
      LearnedQueries.gbtRawExpr(feats, roots, ws).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, roots, ws).as("compiled"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("NULL features route identically in chain and kernel") {
    val (roots, ws) = LearnedQueries.fittedGbtReg(spark, sf)
    // every 3rd row gets a NULL quantity, every 5th a NULL discount —
    // exercises single- and multi-slot null routing
    val base = Tables.lineitem(spark, sf).select(
      when(col("l_orderkey") % 3 === 0, lit(null)).otherwise(col("l_quantity"))
        .as("q"),
      when(col("l_orderkey") % 5 === 0, lit(null)).otherwise(col("l_discount"))
        .as("disc"),
      col("l_tax"))
    val feats = Seq(col("q"), col("disc"), col("l_tax"))
    val both = base.select(
      LearnedQueries.gbtRawExpr(feats, roots, ws).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, roots, ws).as("compiled"))
      .collect()
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("nominal-split tree: compiled kernel is bitwise equal to the when-chain") {
    val root = LearnedQueries.fittedDtCatRoot(spark, sf)
    val feats = Seq(LearnedQueries.rfCodeCol, col("l_quantity").cast("double"))
    val both = Tables.lineitem(spark, sf).select(
      graft.models.TreeServe.column(root, feats).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, Seq(root), Array(1.0)).as("compiled"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("nominal-split tree routes NULL and non-member values right on both forms") {
    val root = LearnedQueries.fittedDtCatRoot(spark, sf)
    // NULL category on every 3rd row, an out-of-dictionary code (7.0)
    // on every 5th: the chain's NULL-isin condition and the kernel's
    // NaN/binary-search miss must both route RIGHT at the nominal node
    val base = Tables.lineitem(spark, sf).select(
      when(col("l_orderkey") % 3 === 0, lit(null))
        .when(col("l_orderkey") % 5 === 0, lit(7.0))
        .otherwise(LearnedQueries.rfCodeCol).as("code"),
      col("l_quantity").cast("double").as("q"))
    val feats = Seq(col("code"), col("q"))
    val both = base.select(
      graft.models.TreeServe.column(root, feats).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, Seq(root), Array(1.0)).as("compiled"))
      .collect()
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("nominal-split GBT ensemble: compiled kernel bitwise equals the chain sum") {
    val (roots, ws) = LearnedQueries.fittedGbtCat(spark, sf)
    assert(roots.length > 1, "ensemble test needs multiple trees")
    val feats = Seq(LearnedQueries.rfCodeCol, col("l_quantity").cast("double"))
    val both = Tables.lineitem(spark, sf).select(
      LearnedQueries.gbtRawExpr(feats, roots, ws).as("chain"),
      LearnedQueries.gbtCompiledExpr(feats, roots, ws).as("compiled"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"chain ${r.getDouble(0)} != compiled ${r.getDouble(1)}")
    }
  }

  test("flattened encoding round-trips a deep fitted tree") {
    val (roots, ws) = LearnedQueries.fittedGbt(spark, sf)
    val ref = TreeEnsembleRef.fromNodes(roots, ws)
    // structural sanity: every internal node's children are in range,
    // every tree terminates at a leaf from its root
    ref.feat.indices.foreach { i =>
      if (ref.feat(i) >= 0) {
        assert(ref.left(i) >= 0 && ref.left(i) < ref.feat.length)
        assert(ref.right(i) >= 0 && ref.right(i) < ref.feat.length)
      }
    }
    ref.roots.foreach { r0 =>
      var cur = r0
      var steps = 0
      while (ref.feat(cur) >= 0 && steps < 10000) { cur = ref.left(cur); steps += 1 }
      assert(ref.feat(cur) == -1, "leftmost walk must end at a leaf")
    }
  }
}
