package graft

import graft.core._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The user-facing InferDB-equivalent lifecycle (ref: §3.1 of SURVEY —
  * src/transpiler.py:2999-3215): train a model, discretize features
  * supervised by its predictions, greedily select a compact ordered key,
  * materialize predictions into the KV index, serve with relational
  * operators only.
  *
  * The fitted artifact is a handful of broadcast-sized DataFrames plus
  * generated column expressions — `transform` adds a prediction column
  * to ANY DataFrame (batch or streaming) without shuffling the probe
  * side, which is what makes the design hold at 100 TB: inference cost
  * is one fused projection + broadcast hash joins.
  */
object InferDbPipeline {

  final case class Config(
      features: Seq[String],
      categorical: Set[String] = Set.empty,
      target: String = "target",
      task: Task = Task.Classification,
      maxBins: Int = 8,
      tolerance: Double = 1.002,
      maxFeatures: Int = Int.MaxValue,
      maxCandidates: Int = Int.MaxValue, // cap the ranked candidates the greedy walk scores
      balanceRatio: Option[Double] = None,
      model: String = "lr", // "lr" | "gbt" | "dt" | "mlp" | "knn" — the index memorizes ANY model
      mlpHidden: Int = 8,   // hidden-layer width when model = "mlp"
      maxOneHot: Int = 64,  // per-categorical one-hot width cap (most-frequent first)
      populatePaths: Boolean = false) // score+insert unfilled key paths (transpiler.py:887)

  final case class Fitted(
      config: Config,
      bins: Map[String, BinSpec],
      selected: Seq[String],
      iv: Double,
      kv: KvModel) {

    /** Key expression over raw input columns (translate, §2.9). */
    def keyColumn: Column =
      Keys.keyColumn(selected.map(f => bins(f).toColumn(col(f))))

    /** Add `predName` to `df` by translate + probe + fallback. */
    def transform(df: DataFrame, predName: String = "prediction"): DataFrame =
      kv.probe(df, keyColumn, predName)

    /** Collect-once driver-local scorer for single-row / low-latency
      * paths (the reference's standalone trie, transpiler.py:3117-3215):
      * raw values for `selected` (in order) -> their bins -> prediction,
      * microseconds per call, no Spark job. The collected table and maps
      * are bounded by the selected key space — small by construction. */
    def toLocalScorer: Seq[Any] => Double = {
      val scorer = kv.toLocalScorer
      val specs = selected.map(bins).toArray
      vals => {
        require(vals.length == specs.length,
          s"expected ${specs.length} values for ${selected.mkString(",")}")
        scorer.score(Array.tabulate(specs.length)(i => specs(i).binValue(vals(i))))
      }
    }

    /** Exact (kv) entries in the index (the "index size" driver),
      * counted once when the index was built or loaded. */
    def indexEntries: Long = kv.kvCount

    /** Persist every serve-time artifact (the index relation, bin
      * specs, selection) to `dir` — the reference's joblib
      * dump of the fitted pipeline/trie (transpiler.py:3188-3194),
      * relational here. [[InferDbPipeline.load]] round-trips it. */
    def save(dir: String): Unit = core.Persist.save(this, dir)
  }

  /** Reload a [[Fitted]] saved by [[Fitted.save]]; the reloaded index
    * probes bit-identically to the in-memory one (PersistSpec +
    * x_persist_serve pin this). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Fitted =
    core.Persist.load(spark, dir)

  /** Fit the index from a training DataFrame that already carries the
    * model's predictions in `predCol` (transpiler.py:573 semantics:
    * the index memorizes the MODEL, not the labels).
    */
  def fit(train: DataFrame, config: Config, predCol: String): Fitted = {
    // cache only a frame the caller has not cached, and release only
    // that cache: unpersisting the caller's frame would drop its cache
    val ownCache = train.storageLevel == StorageLevel.NONE
    val cached = if (ownCache) train.cache() else train
    // every feature binned in two passes (quantiles, then one stats
    // aggregate over numeric pre-bins and category strings together)
    val bins = Binning.fit(cached, config.features, config.categorical,
      config.target, config.maxBins)

    // filled by the first greedy round, not by a count job of its own
    val encodedCols = config.features.map(f => bins(f).toColumn(col(f)).as(s"__b_$f"))
    val encoded = cached
      .select((encodedCols :+ col(config.target).as("__y")) :+ col(predCol).as("__pred"): _*)
      .cache()

    val sel = GreedySelector.select(
      encoded,
      config.features.map(f => s"__b_$f"),
      config.features.map(f => s"__b_$f" -> bins(f).numBins).toMap,
      "__y",
      config.task,
      config.tolerance,
      config.maxFeatures,
      config.maxCandidates)
    val selectedRaw = sel.features.map(_.stripPrefix("__b_"))

    val keyed = encoded.select(
      Keys.keyColumn(sel.features.map(col)).as("key"),
      col("__pred").cast("double").as("pred"))
    // populate_paths (transpiler.py:928-938, gated :887): re-fit the
    // model ON THE ENCODED (bin-index) representation, predict every
    // key path never observed in training, and insert those entries so
    // the index can serve them exactly instead of via prefix fallback.
    val keyedAll =
      if (!config.populatePaths) keyed
      else keyed.unionByName(populatedEntries(encoded, sel.features,
        sel.features.map(f => f -> bins(f.stripPrefix("__b_")).numBins).toMap, config))
    val kv = KvIndexBuilder.buildFromKeyed(
      keyedAll, sel.features.length, config.task, config.balanceRatio)
    encoded.unpersist()
    if (ownCache) cached.unpersist()
    Fitted(config, bins, selectedRaw, sel.iv, kv)
  }

  /** ONE estimator construction for both the main fit and the
    * populate-paths re-fit — same model kind and hyperparameters,
    * different column wiring (keeping two copies in sync by hand is how
    * the populated entries silently diverge from the memorized model).
    */
  private def trainEstimator(
      config: Config,
      data: DataFrame,
      nFeatures: Int,
      featuresCol: String,
      labelCol: String,
      predictionCol: String,
      probaCol: String,
      rawCol: String): org.apache.spark.ml.Model[_] = (config.task, config.model) match {
    case (Task.Regression, "gbt") =>
      new org.apache.spark.ml.regression.GBTRegressor()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol).setSeed(42)
        .fit(data)
    case (Task.Regression, "dt") =>
      new org.apache.spark.ml.regression.DecisionTreeRegressor()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol).setSeed(42)
        .fit(data)
    case (Task.Regression, "knn") =>
      graft.models.KnnModel.fit(data, featuresCol, labelCol, predictionCol,
        regression = true)
    case (_, "knn") =>
      graft.models.KnnModel.fit(data, featuresCol, labelCol, predictionCol,
        regression = false)
    case (Task.Regression, _) =>
      new LinearRegression()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol)
        .fit(data)
    case (_, "gbt") =>
      new org.apache.spark.ml.classification.GBTClassifier()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol).setSeed(42)
        .setProbabilityCol(probaCol).setRawPredictionCol(rawCol)
        .fit(data)
    case (_, "dt") =>
      new org.apache.spark.ml.classification.DecisionTreeClassifier()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol).setSeed(42)
        .setProbabilityCol(probaCol).setRawPredictionCol(rawCol)
        .fit(data)
    case (_, "mlp") =>
      // labels are 0..k-1 doubles by construction, so max+1 = #classes;
      // clamped to >=2 because a degenerate re-fit label (populatedEntries
      // trains on model predictions, which can collapse to one class) would
      // otherwise yield a 1-unit output layer that MLP rejects.
      val k = math.max(2, data.agg(max(col(labelCol))).head().getDouble(0).toInt + 1)
      new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol)
        .setProbabilityCol(probaCol).setRawPredictionCol(rawCol)
        .setLayers(Array(nFeatures, config.mlpHidden, k))
        .setSeed(42).setMaxIter(40)
        .fit(data)
    case _ =>
      new LogisticRegression()
        .setFeaturesCol(featuresCol).setLabelCol(labelCol)
        .setPredictionCol(predictionCol)
        .setProbabilityCol(probaCol).setRawPredictionCol(rawCol)
        .fit(data)
  }

  /** (key, pred) rows for every key path absent from training: the
    * configured estimator is re-fitted on the SELECTED bin indices
    * (label = the model predictions the index memorizes), then scores
    * the full path space minus the observed keys. The path space is
    * bounded by the selected key space — small by construction (that is
    * the paper's core property); guarded anyway.
    */
  private def populatedEntries(
      encoded: DataFrame,
      selFeatures: Seq[String],
      numBins: Map[String, Int],
      config: Config): DataFrame = {
    val spark = encoded.sparkSession
    val ranges = selFeatures.map(f => 0 until numBins(f))
    val total = ranges.map(_.size.toLong).product
    require(total <= 1000000L,
      s"populatePaths: key space $total exceeds 1e6 — widen tolerance or disable")
    val combos = ranges.foldLeft(Seq(Seq.empty[Int])) { (acc, r) =>
      acc.flatMap(p => r.map(p :+ _))
    }
    import spark.implicits._
    val paths = combos.map(p => (Keys.render(p.map(_.toLong)), p.map(_.toDouble)))
      .toDF("key", "__bins")
      .select(col("key") +: selFeatures.zipWithIndex.map { case (f, i) =>
        col("__bins").getItem(i).as(f)
      }: _*)
    val unfilled = paths.join(
      encoded.select(Keys.keyColumn(selFeatures.map(col)).as("key")).distinct(),
      Seq("key"), "left_anti")

    val assembler = new VectorAssembler()
      .setInputCols(selFeatures.toArray).setOutputCol("__efv")
    val encTrain = assembler.transform(
      encoded.select((selFeatures.map(f => col(f).cast("double").as(f)) :+
        col("__pred").cast("double").as("__elabel")): _*))
    val encModel = trainEstimator(config, encTrain, selFeatures.length,
      "__efv", "__elabel", "__epred", "__eproba", "__eraw")
    encModel.asInstanceOf[org.apache.spark.ml.Transformer]
      .transform(assembler.transform(unfilled))
      .select(col("key"), col("__epred").cast("double").as("pred"))
  }

  /** The full trained lifecycle: fitted index, the train frame with
    * model predictions, the raw MLlib model (for weight extraction,
    * e.g. [[graft.models.MlpModel.fromMlpClassifier]]), and the fitted
    * one-hot dictionaries (category order = model input-slot order) so
    * consumers can map model coefficients back to categories. */
  final case class Trained(
      fitted: Fitted,
      withPred: DataFrame,
      mlModel: org.apache.spark.ml.Model[_],
      oneHot: Map[String, Seq[Any]] = Map.empty)

  /** Fitted one-hot dictionary per categorical feature: observed
    * categories, most-frequent first (ties by value), capped at
    * `maxOneHot` — the cap bounds model width when a "categorical" is
    * secretly high-cardinality; rare tail categories encode as all-zeros
    * exactly like sklearn's handle_unknown="ignore" (the reference's
    * fitted column transformer, transpiler.py:688-835). One groupBy per
    * categorical — train-time only, output is category-cardinality-
    * bounded, never data-bounded.
    */
  private def fitOneHot(train: DataFrame, config: Config): Map[String, Seq[Any]] =
    config.features.filter(config.categorical).map { f =>
      f -> train.filter(col(f).isNotNull)
        .groupBy(col(f)).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col(f))
        .limit(config.maxOneHot)
        .collect().map(_.get(0)).toSeq
    }.toMap

  /** Indicator columns for the fitted dictionary: NULL and unseen
    * categories are all-zeros (handle_unknown="ignore"). */
  private def oneHotCols(oneHot: Map[String, Seq[Any]]): Seq[(String, Column)] =
    oneHot.toSeq.sortBy(_._1).flatMap { case (f, cats) =>
      cats.zipWithIndex.map { case (c, i) =>
        s"__oh_${f}_$i" -> when(col(f) === lit(c), 1.0).otherwise(0.0)
      }
    }

  /** Train an MLlib model on `train`, predict on train, and fit the
    * index from those predictions — the full §3.1 lifecycle in one
    * call. Returns the fitted index plus the train predictions frame
    * (features + target + model prediction) for parity evaluation.
    */
  def fitWithModel(train: DataFrame, config: Config): (Fitted, DataFrame) = {
    val t = fitLifecycle(train, config)
    (t.fitted, t.withPred)
  }

  /** Like [[fitWithModel]] but also returns the trained MLlib model.
    *
    * Model inputs are the numeric features plus fitted one-hot
    * indicators for every categorical feature (the reference one-hots
    * categoricals into the model via its fitted column transformer,
    * transpiler.py:688-835 / one-hot template :752-766); the index side
    * bins the raw categorical (T2) as before.
    */
  def fitLifecycle(train: DataFrame, config: Config): Trained = {
    require(Set("lr", "gbt", "dt", "mlp", "knn").contains(config.model),
      s"unknown model '${config.model}' — supported: lr, gbt, dt, mlp, knn")
    require(!(config.task == Task.MultiClass && config.model == "gbt"),
      "GBTClassifier is binary-only; use model=\"lr\" (multinomial) for MultiClass")
    require(!(config.task == Task.Regression && config.model == "mlp"),
      "MultilayerPerceptronClassifier is classification-only; use lr/gbt/dt for Regression")
    require(config.features.nonEmpty, "fitWithModel needs at least one feature")
    val numeric = config.features.filterNot(config.categorical)
    val oneHot = fitOneHot(train, config)
    val oh = oneHotCols(oneHot)
    val modelInputs = numeric ++ oh.map(_._1)
    require(modelInputs.nonEmpty, "no model inputs: every categorical is empty")
    // one projection for all indicators — withColumn-per-indicator would
    // re-analyze the growing plan once per column
    val withOh =
      if (oh.isEmpty) train
      else train.select(col("*") +: oh.map { case (n, c) => c.as(n) }: _*)
    val assembler = new VectorAssembler()
      .setInputCols(modelInputs.toArray).setOutputCol("__fv")
    val assembled = assembler.transform(withOh).cache()

    val model = trainEstimator(config, assembled, modelInputs.length,
      "__fv", config.target, "__model_pred", "__model_proba", "__model_raw")
    val predicted = model.asInstanceOf[org.apache.spark.ml.Transformer].transform(assembled)
    // not cached here: `fit` caches it for its own passes and releases
    // that cache, so the returned frame holds no cache of the caller's
    val withPred = predicted.drop("__fv" +: oh.map(_._1): _*)
    val fitted = fit(withPred, config, "__model_pred")
    assembled.unpersist()
    Trained(fitted, withPred, model, oneHot)
  }
}
