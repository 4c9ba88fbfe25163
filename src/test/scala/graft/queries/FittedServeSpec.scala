package graft.queries

import graft.TestSpark
import graft.Tables
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fitted-model serve paths (w3b_kmeans_fitted_assign,
  * x_pca_serve) are oracle-checked bitwise against SQL generated from
  * the fitted literals — this spec closes the OTHER side of the
  * triangle: the literal-embedded column expressions must reproduce
  * what MLlib's own transform computes. Exactness differs by design
  * (MLlib KMeans uses the norm-trick distance, BLAS gemv for PCA; our
  * expressions use sequential folds), so agreement is asserted up to
  * FP-tie looseness, not bitwise.
  */
class FittedServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("w3b fitted-centroid assignment matches MLlib KMeans predictions") {
    val fv = Tables.embeddings(spark, sf).select(
      col("vec_id"), array_to_vector(col("embedding")).as("fv"))
    // same config as the query's fit: K=64 (the tuned fitted-quantizer
    // operating point), seed 42, maxIter 20
    val model = new KMeans().setK(64).setSeed(42).setMaxIter(20)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val mllib = model.fit(fv).transform(fv)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val served = IvfQueries.defs("w3b_kmeans_fitted_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(served.keySet == mllib.keySet)
    val agree = served.count { case (id, c) => mllib(id) == c }.toDouble / served.size
    // norm-trick vs sequential-fold distances can flip exact FP ties;
    // anything below ~1.0 here would mean a real serve bug
    assert(agree >= 0.99, s"assignment agreement $agree")
  }

  test("x_pca_serve projection matches MLlib PCA transform") {
    val fv = Tables.embeddings(spark, sf).select(
      col("vec_id"), array_to_vector(col("embedding")).as("fv"))
    val model = new PCA().setK(4).setInputCol("fv").setOutputCol("pc").fit(fv)
    val mllib = model.transform(fv)
      .select(col("vec_id"), vector_to_array(col("pc")).as("pc")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val served = IvfQueries.defs("x_pca_serve")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(served.keySet == mllib.keySet)
    // BLAS gemv vs sequential dot: same math, different summation
    // order — bound the divergence at numerical noise, sign-aligned
    // per component (PCA component sign is arbitrary PER FIT, but both
    // sides here read fits of the same data in the same session; a
    // sign flip would blow the tolerance and fail loudly)
    val maxDiff = served.map { case (id, s) =>
      s.zip(mllib(id)).map { case (a, b) => math.abs(a - b) }.max
    }.max
    assert(maxDiff < 1e-9, s"max |serve - mllib| = $maxDiff")
  }

  test("transpiled zoo serves (lr, dt, gbt) match their OWN model's predictions") {
    import org.apache.spark.ml.feature.VectorAssembler
    // extraction fidelity against the SAME memoized model the serve
    // queries read their constants from, compared IN-FRAME: the
    // (l_orderkey, l_linenumber) pair is NOT unique in the synthetic
    // corpus, so an id join would cross-match rows and poison the
    // agreement (it did — 0.857 from join fan-out, 1.0 in-frame).
    val train = Tables.lineitem(spark, sf).select(
      col("l_quantity"), (col("l_extendedprice") / 1000.0).as("price_k"),
      col("l_discount"), col("l_tax"))
    val feats = Seq(col("l_quantity"), col("price_k"), col("l_discount"), col("l_tax"))
    val av = new VectorAssembler()
      .setInputCols(Array("l_quantity", "price_k", "l_discount", "l_tax"))
      .setOutputCol("__fv").transform(train).cache()

    def agreement(model: String, served: org.apache.spark.sql.Column): Double = {
      val m = LearnedQueries.fittedZooCls(spark, sf, model).mlModel
        .asInstanceOf[org.apache.spark.ml.Transformer]
      m.transform(av)
        .select((col("__model_pred").cast("long") === served).cast("double").as("ok"))
        .agg(avg(col("ok"))).head().getDouble(0)
    }
    val (coefs, b) = LearnedQueries.fittedLr(spark, sf)
    val dtRoot = LearnedQueries.fittedDtRoot(spark, sf)
    val (gbtRoots, gbtWs) = LearnedQueries.fittedGbt(spark, sf)
    // raw-margin comparisons can flip on FP noise at the decision
    // boundary (BLAS dot vs sequential column fold); a structural
    // extraction bug (slot order, missing intercept, wrong tree
    // orientation) would land far below these floors
    val aLr = agreement("lr", LearnedQueries.lrClassExpr(feats, coefs, b))
    assert(aLr >= 0.999, s"lr serve agreement $aLr")
    val aDt = agreement("dt",
      graft.models.TreeServe.column(dtRoot, feats).cast("long"))
    assert(aDt >= 0.999, s"dt serve agreement $aDt")
    // margin > 0: MLlib GBTClassifier's own decision rule
    val aGbt = agreement("gbt", when(LearnedQueries.gbtRawExpr(feats, gbtRoots, gbtWs) > 0.0, 1L).otherwise(0L))
    assert(aGbt >= 0.999, s"gbt serve agreement $aGbt")
    av.unpersist()
  }

  test("transpiled REGRESSION serves (dt, gbt) match their OWN model's predictions") {
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = Seq(col("l_quantity"), col("l_discount"), col("l_tax"))
    val av = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_discount", "l_tax"))
      .setOutputCol("__fv")
      .transform(Tables.lineitem(spark, sf)
        .select(col("l_quantity"), col("l_discount"), col("l_tax")))
      .cache()
    def maxDiff(model: String, served: org.apache.spark.sql.Column): Double = {
      val m = LearnedQueries.fittedZooReg(spark, sf, model).mlModel
        .asInstanceOf[org.apache.spark.ml.Transformer]
      m.transform(av)
        .select(abs(col("__model_pred") - served).as("d"))
        .agg(max(col("d"))).head().getDouble(0)
    }
    // a single tree replays the same thresholds and leaves — exact;
    // the ensemble sum may differ from BLAS ddot by summation order
    val dtDiff = maxDiff("dt",
      graft.models.TreeServe.column(
        LearnedQueries.fittedDtRegRoot(spark, sf), feats))
    assert(dtDiff == 0.0, s"dt regression serve must be exact, diff $dtDiff")
    val (roots, ws) = LearnedQueries.fittedGbtReg(spark, sf)
    val gbtDiff = maxDiff("gbt", LearnedQueries.gbtRawExpr(feats, roots, ws))
    assert(gbtDiff < 1e-9, s"gbt regression serve diff $gbtDiff")
    av.unpersist()
  }

  test("transpiled softmax-LR serve matches the multiclass model's predictions") {
    import org.apache.spark.ml.feature.VectorAssembler
    val (coefs, bs) = LearnedQueries.fittedSoftmax(spark, sf)
    assert(coefs.length == 3, s"expected 3 classes, got ${coefs.length}")
    val base = Tables.orders(spark, sf).select(
      col("o_totalprice"), (col("o_custkey") % 50).cast("double").as("cust_mod"))
    val av = new VectorAssembler()
      .setInputCols(Array("o_totalprice", "cust_mod")).setOutputCol("__fv")
      .transform(base)
    val m = LearnedQueries.fittedMc(spark, sf).mlModel
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val served = LearnedQueries.softmaxClassExpr(
      Seq(col("o_totalprice"), col("cust_mod")), coefs, bs)
    // BLAS gemv margins vs sequential column folds can flip exact
    // boundary ties; structural extraction bugs land far below this
    val agree = m.transform(av)
      .select((col("__model_pred").cast("long") === served).cast("double").as("ok"))
      .agg(avg(col("ok"))).head().getDouble(0)
    assert(agree >= 0.999, s"softmax serve agreement $agree")
  }
}
