package graft

import graft.core.Task
import graft.metrics.Metrics
import graft.multimodal.Multimodal
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end lifecycle, streaming, and multimodal plumbing tests. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("InferDbPipeline: index reproduces the model (parity within eps)") {
    val rnd = new scala.util.Random(42)
    val df = (1 to 4000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      val noise = rnd.nextGaussian() * 0.5
      val y = if (a + 0.5 * b + noise > 7.5) 1.0 else 0.0
      (a, b, rnd.nextDouble(), y)
    }.toDF("f_a", "f_b", "f_noise", "y")

    val cfg = InferDbPipeline.Config(
      features = Seq("f_a", "f_b", "f_noise"), target = "y",
      task = Task.Classification, maxBins = 8)
    val (fitted, withPred) = InferDbPipeline.fitWithModel(df, cfg)
    val scored = fitted.transform(withPred, "index_pred")
    val modelF1 = Metrics.binaryReport(scored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val indexF1 = Metrics.binaryReport(scored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(modelF1 > 0.85, s"model F1 $modelF1")
    assert(math.abs(modelF1 - indexF1) < 0.08, s"model $modelF1 vs index $indexF1")
    // the noise feature must not survive greedy selection
    assert(!fitted.selected.contains("f_noise"), fitted.selected.mkString(","))
  }

  test("GBT-backed index reproduces the GBT model (model-agnostic)") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 2000).map { _ =>
      val a = rnd.nextDouble() * 10
      val y = if (a * a + rnd.nextGaussian() > 30) 1.0 else 0.0 // nonlinear
      (a, y)
    }.toDF("f", "y")
    val cfg = InferDbPipeline.Config(Seq("f"), target = "y",
      task = Task.Classification, maxBins = 8, model = "gbt")
    val (fitted, withPred) = InferDbPipeline.fitWithModel(df, cfg)
    val scored = fitted.transform(withPred, "index_pred")
    val modelF1 = Metrics.binaryReport(scored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val indexF1 = Metrics.binaryReport(scored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(modelF1 > 0.8, s"gbt F1 $modelF1")
    assert(math.abs(modelF1 - indexF1) < 0.1, s"model $modelF1 vs index $indexF1")
  }

  test("MLP-backed lifecycle: extracted fused scorer matches MLlib, index reproduces it") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      val y = if (a + 0.5 * b + rnd.nextGaussian() * 0.5 > 7.5) 1.0 else 0.0
      (a, b, y)
    }.toDF("f_a", "f_b", "y")
    val cfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 8, model = "mlp")
    val t = InferDbPipeline.fitLifecycle(df, cfg)
    val fused = graft.models.MlpModel.fromMlpClassifier(
      t.mlModel.asInstanceOf[org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel])
    assert(fused.hiddenActivation == "sigmoid")
    val scored = t.fitted.transform(t.withPred, "index_pred")
      .withColumn("fused_pred", fused.predictClass(Seq(col("f_a"), col("f_b"))).cast("double"))
    // weight-extraction parity: the fused expression must reproduce the
    // MLlib prediction on every row (argmax is ulp-tolerant)
    val agree = scored.agg(
      avg((col("fused_pred") === col("__model_pred")).cast("double"))).head().getDouble(0)
    assert(agree >= 0.999, s"fused-vs-MLlib agreement $agree")
    val modelF1 = Metrics.binaryReport(scored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val indexF1 = Metrics.binaryReport(scored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(modelF1 > 0.8, s"mlp F1 $modelF1")
    assert(math.abs(modelF1 - indexF1) < 0.1, s"model $modelF1 vs index $indexF1")
  }

  test("one-hot categoricals reach the trained model (and the index reproduces it)") {
    val rnd = new scala.util.Random(13)
    // the signal lives ONLY in the categorical: without one-hot inputs
    // the model can do no better than the base rate
    val df = (1 to 3000).map { _ =>
      val c = Seq("a", "b", "c")(rnd.nextInt(3))
      (rnd.nextDouble(), c, if (c == "b") 1.0 else 0.0)
    }.toDF("f_noise", "c", "y")
    val cfg = InferDbPipeline.Config(Seq("f_noise", "c"), categorical = Set("c"),
      target = "y", task = Task.Classification, maxBins = 4)
    val t = InferDbPipeline.fitLifecycle(df, cfg)
    assert(t.oneHot("c").toSet == Set("a", "b", "c"))
    val lr = t.mlModel.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    // slots: numeric (1) then the one-hot block — a categorical that
    // never reached the assembler would leave no such coefficients
    val ohCoefs = lr.coefficients.toArray.drop(1)
    assert(ohCoefs.length == 3, s"expected 3 one-hot slots, got ${ohCoefs.length}")
    assert(ohCoefs.exists(w => math.abs(w) > 0.5), ohCoefs.mkString(","))
    val scored = t.fitted.transform(t.withPred, "index_pred")
    val modelF1 = Metrics.binaryReport(scored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val indexF1 = Metrics.binaryReport(scored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(modelF1 > 0.95, s"categorical signal not learned: F1 $modelF1")
    assert(math.abs(modelF1 - indexF1) < 0.05, s"model $modelF1 vs index $indexF1")
  }

  test("dt lifecycle: classification and regression, index reproduces the tree") {
    val rnd = new scala.util.Random(17)
    val cls = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      (a, b, if (a > 6 || b < 2) 1.0 else 0.0) // axis-aligned — a tree's home turf
    }.toDF("f_a", "f_b", "y")
    val ccfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 8, model = "dt")
    val ct = InferDbPipeline.fitLifecycle(cls, ccfg)
    assert(ct.mlModel.isInstanceOf[org.apache.spark.ml.classification.DecisionTreeClassificationModel])
    val cScored = ct.fitted.transform(ct.withPred, "index_pred")
    val cModelF1 = Metrics.binaryReport(cScored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val cIndexF1 = Metrics.binaryReport(cScored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(cModelF1 > 0.9, s"dt F1 $cModelF1")
    assert(math.abs(cModelF1 - cIndexF1) < 0.08, s"model $cModelF1 vs index $cIndexF1")

    val reg = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      (a, if (a > 5) 100.0 else 10.0) // step function
    }.toDF("f_a", "y")
    val rcfg = InferDbPipeline.Config(Seq("f_a"), target = "y",
      task = Task.Regression, maxBins = 8, model = "dt")
    val rt = InferDbPipeline.fitLifecycle(reg, rcfg)
    assert(rt.mlModel.isInstanceOf[org.apache.spark.ml.regression.DecisionTreeRegressionModel])
    val rScored = rt.fitted.transform(rt.withPred, "index_pred")
    val rmsle = Metrics.rmsle(rScored, col("index_pred"), col("y")).head().getDouble(0)
    assert(rmsle < 0.2, s"dt regression index rmsle $rmsle")
  }

  test("knn multiclass lifecycle: 3-class majority vote, mode index agrees") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      val y = if (a + b > 13) 2.0 else if (a + b > 7) 1.0 else 0.0
      (a, b, y)
    }.toDF("f_a", "f_b", "y")
    val cfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.MultiClass, maxBins = 8, model = "knn")
    val t = InferDbPipeline.fitLifecycle(df, cfg)
    assert(t.mlModel.isInstanceOf[graft.models.KnnModel])
    // the vote must actually produce all three classes, not collapse
    val classes = t.withPred.select("__model_pred").distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(classes == Set(0.0, 1.0, 2.0), s"predicted classes $classes")
    val acc = t.withPred.agg(
      avg((col("__model_pred") === col("y")).cast("double"))).head().getDouble(0)
    assert(acc > 0.85, s"knn multiclass accuracy $acc")
    // A2 mode index over the 3-class predictions tracks the model
    val scored = t.fitted.transform(t.withPred, "index_pred")
    val agree = scored.agg(
      avg((col("index_pred") === col("__model_pred")).cast("double"))).head().getDouble(0)
    assert(agree > 0.75, s"index/model agreement $agree")
  }

  test("knn lifecycle: deterministic sample vote, index reproduces the model") {
    val rnd = new scala.util.Random(23)
    val cls = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      (a, b, if (a + b > 10) 1.0 else 0.0)
    }.toDF("f_a", "f_b", "y")
    val ccfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 8, model = "knn")
    val ct = InferDbPipeline.fitLifecycle(cls, ccfg)
    assert(ct.mlModel.isInstanceOf[graft.models.KnnModel])
    val cScored = ct.fitted.transform(ct.withPred, "index_pred")
    val cModelF1 = Metrics.binaryReport(cScored, col("__model_pred"), col("y"))
      .select("f1").head().getDouble(0)
    val cIndexF1 = Metrics.binaryReport(cScored, col("index_pred"), col("y"))
      .select("f1").head().getDouble(0)
    assert(cModelF1 > 0.9, s"knn F1 $cModelF1")
    assert(math.abs(cModelF1 - cIndexF1) < 0.08, s"model $cModelF1 vs index $cIndexF1")
    // determinism: a second fit over the same data votes identically
    val ct2 = InferDbPipeline.fitLifecycle(cls, ccfg)
    val joined = ct.withPred.select(col("f_a"), col("__model_pred").as("p1"))
      .join(ct2.withPred.select(col("f_a"), col("__model_pred").as("p2")), "f_a")
    assert(joined.filter(col("p1") =!= col("p2")).count() == 0)

    val reg = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      // +20 keeps y > -1 for every draw: RMSLE's log(y+1) must stay in
      // domain or Spark nulls the term while count() still counts it
      (a, a * 10.0 + 20.0 + rnd.nextGaussian())
    }.toDF("f_a", "y")
    val rcfg = InferDbPipeline.Config(Seq("f_a"), target = "y",
      task = Task.Regression, maxBins = 8, model = "knn")
    val rt = InferDbPipeline.fitLifecycle(reg, rcfg)
    val rScored = rt.fitted.transform(rt.withPred, "index_pred")
    val rmsle = Metrics.rmsle(rScored, col("__model_pred"), col("y")).head().getDouble(0)
    assert(rmsle < 0.3, s"knn regression model rmsle $rmsle")
  }

  test("populatePaths: every key path is materialized and served as an exact hit") {
    val rnd = new scala.util.Random(3)
    // both features informative (so greedy keeps both) but with
    // carved-out corner regions -> those key cells are never observed
    // and must come from populate
    val df = (1 to 6000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      (a, b, if (a + b > 10) 1.0 else 0.0)
    }.filterNot { case (a, b, _) =>
      (a < 2 && b < 2) || (a > 8 && b > 8) || (a < 2 && b > 8)
    }.toDF("f_a", "f_b", "y")
    val cfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 5, populatePaths = true)
    val (fitted, withPred) = InferDbPipeline.fitWithModel(df, cfg)
    val keyspace = fitted.selected.map(f => fitted.bins(f).numBins.toLong).product
    val observed = withPred.select(fitted.keyColumn.as("k")).distinct().count()
    assert(observed < keyspace, "test needs unfilled paths to be meaningful")
    // populate_paths contract: observed ∪ scored-unfilled = the FULL space
    assert(fitted.indexEntries == keyspace,
      s"entries ${fitted.indexEntries} vs keyspace $keyspace")
    // an arbitrary probe resolves as an exact kv hit (no fallback): the
    // prediction equals the kv entry for that row's key verbatim
    val weird = Seq((1e9, 1e9)).toDF("f_a", "f_b")
    val p = fitted.transform(weird, "pred").select("pred").head().getDouble(0)
    val k = weird.select(fitted.keyColumn.as("k")).head().getString(0)
    val kvVal = fitted.kv.kv.filter(col("key") === k)
      .select("value").head().getDouble(0)
    assert(p == kvVal)
  }

  test("populatePaths serves a NULL category as an exact hit when categories outnumber bins") {
    // six categories (no NULL in training), maxBins = 4: the overflow
    // bin is a path of the key space, so populate fills it
    val rnd = new scala.util.Random(11)
    val df = (1 to 3000).map { _ =>
      val c = rnd.nextInt(6)
      (s"c$c", if (c % 2 == 0) 1.0 else 0.0)
    }.toDF("cat", "y").withColumn("pred", col("y"))
    val cfg = InferDbPipeline.Config(Seq("cat"), categorical = Set("cat"), target = "y",
      task = Task.Classification, maxBins = 4, populatePaths = true)
    val fitted = InferDbPipeline.fit(df, cfg, "pred")
    assert(fitted.selected == Seq("cat") && fitted.bins("cat").numBins == 5)
    val nullRow = Seq(Option.empty[String]).toDF("cat")
    val key = nullRow.select(fitted.keyColumn).head().getString(0)
    val kv = graft.core.StringCascade(fitted.kv).kv
    assert(kv.contains(key), s"NULL-category key $key missing from ${kv.keys.toSeq.sorted}")
    assert(fitted.transform(nullRow, "p").select("p").head().getDouble(0) == kv(key))
  }

  test("indexEntries reads the cached kv count without a Spark job") {
    val df = (1 to 500).map(i => (i.toDouble % 10, if (i % 10 >= 5) 1.0 else 0.0)).toDF("f", "y")
    val (fitted, _) = InferDbPipeline.fitWithModel(df, InferDbPipeline.Config(Seq("f"),
      target = "y", task = Task.Classification, maxBins = 4))
    val entries = GroupJobs(fitted.indexEntries)
    assert(entries.started.isEmpty, s"jobs ${entries.started}")
    assert(entries.result == fitted.kv.kv.count())
  }

  test("toLocalScorer matches the distributed probe row-for-row") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 3000).map { _ =>
      val a = rnd.nextDouble() * 10
      val b = rnd.nextDouble() * 10
      (a, b, if (a + 0.5 * b > 7) 1.0 else 0.0)
    }.toDF("f_a", "f_b", "y")
    val cfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 6)
    val (fitted, _) = InferDbPipeline.fitWithModel(df, cfg)
    val scorer = fitted.toLocalScorer
    val selected = fitted.selected
    val probe = df.limit(1000)
    val cols = selected :+ "p"
    val served = fitted.transform(probe, "p").select(cols.map(col): _*).collect()
    assert(served.length == 1000)
    // the 1,000 lookups start no Spark job
    val local = GroupJobs(served.map(r => scorer(selected.indices.map(i => r.get(i)))))
    assert(local.started.isEmpty, s"lookups started jobs ${local.started}")
    served.zip(local.result).foreach { case (r, v) =>
      assert(v == r.getDouble(selected.length), s"mismatch at ${r.mkString(",")}")
    }
    // dirty single row: NULL routes to the overflow bin -> same
    // fallback the distributed cascade takes
    val dirty = spark.sql("SELECT CAST(NULL AS DOUBLE) AS f_a, CAST(3.0 AS DOUBLE) AS f_b")
    val pDirty = fitted.transform(dirty, "p").select("p").head().getDouble(0)
    val dirtyVals = selected.map { case "f_a" => null; case _ => 3.0.asInstanceOf[Any] }
    assert(scorer(dirtyVals) == pDirty)
  }

  test("fitted.transform works unchanged on a streaming DataFrame") {
    val df = (1 to 500).map(i => (i.toDouble % 10, if (i % 10 >= 5) 1.0 else 0.0))
      .toDF("f", "y")
    val cfg = InferDbPipeline.Config(Seq("f"), target = "y",
      task = Task.Classification, maxBins = 4)
    val (fitted, _) = InferDbPipeline.fitWithModel(df, cfg)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Double]
    mem.addData(1.0, 7.0)
    val q = fitted.transform(mem.toDF().withColumnRenamed("value", "f"), "p")
      .writeStream.format("memory").queryName("probe_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("probe_stream").select("f", "p")
      .as[(Double, Double)].collect().toMap
    assert(out.size == 2)
    assert(out(1.0) < 0.5 && out(7.0) > 0.5)
  }

  test("foreachBatch sink scores micro-batches with the learned index") {
    val df = (1 to 500).map(i => (i.toDouble % 10, if (i % 10 >= 5) 1.0 else 0.0))
      .toDF("f", "y")
    val cfg = InferDbPipeline.Config(Seq("f"), target = "y",
      task = Task.Classification, maxBins = 4)
    val (fitted, _) = InferDbPipeline.fitWithModel(df, cfg)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Double]
    mem.addData(1.0, 7.0, 8.0)
    val got = scala.collection.concurrent.TrieMap.empty[Double, Double]
    val q = StreamOps.foreachBatchSink(
      mem.toDF().withColumnRenamed("value", "f"),
      batch => fitted.transform(batch, "p"),
      (scored, _) => scored.select("f", "p").as[(Double, Double)]
        .collect().foreach { case (f, p) => got(f) = p })
    q.processAllAvailable(); q.stop()
    assert(got.size == 3)
    assert(got(1.0) < 0.5 && got(7.0) > 0.5 && got(8.0) > 0.5)
  }

  test("windowedCounts on a watermarked stream matches batch semantics") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(0, 10), "click", 1.5), (ts(0, 40), "click", 2.5), (ts(1, 5), "view", 1.0))
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.toMemorySink(StreamOps.windowedCounts(events), "win_stream")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_stream")
      .select(col("window_start").cast("string"), col("event_type"), col("cnt"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 00:00:00", "click", 2L, 4.0),
      ("2024-01-01 01:00:00", "view", 1L, 1.0)))
  }

  test("sessionize splits on gap") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      StreamOps.Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      StreamOps.Event(1L, ts("2024-01-01 00:10:00"), 2.0),
      StreamOps.Event(1L, ts("2024-01-01 02:00:00"), 5.0) // > 30 min gap
    ).toDS()
    val out = StreamOps.sessionize(events).collect()
    assert(out.length == 1)
    assert(out.head == StreamOps.Session(1L, 1L, 5.0)) // last (open) session
  }

  test("salted skew join matches plain join results") {
    import graft.core.SkewJoin
    val big = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hot", 100L), ("k5", 5L)).toDF("k", "w")
    val plain = big.join(small, "k").select("k", "v", "w")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(big, small, "k", discriminator = "v")
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.count(_.head == "hot") == 200)
  }

  test("streaming dedup drops exact dups within the watermark horizon") {
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    mem.addData((ts(1), 7L), (ts(1), 7L), (ts(2), 7L), (ts(3), 9L))
    val df = mem.toDF().toDF("ts", "fp")
    val q = StreamOps.dedupStream(df, Seq("fp"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // (ts1,7) duplicated -> one survives; (ts2,7) different ts -> kept
    assert(spark.table("dedup_stream").count() == 3)
  }

  test("width stress: 784-feature fit stays batched and rides BinIndex codegen") {
    import graft.queries.LearnedQueries
    val out = LearnedQueries.defs("x_width_stress")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("n_features") == 784L)
    val nSel = out.getAs[Long]("n_selected")
    assert(nSel >= 1 && nSel <= 3, s"selected $nSel")
    assert(out.getAs[Long]("index_entries") > 0)
    assert(out.getAs[Double]("model_index_agreement") > 0.7,
      s"agreement ${out.getAs[Double]("model_index_agreement")}")
    // the wide-bin encode path must be the codegen'd binary search, not
    // a 24-way CASE chain: 24 bins > CaseChainMax engages BinIndex
    val wide = graft.core.NumericBins((1 to 20).map(_.toDouble).toArray)
    assert(org.apache.spark.sql.GraftColumnBridge.expression(wide.toColumn(col("x")))
      .toString.contains("bin_index"))
  }

  test("serve-path plan shape: broadcast joins only, no shuffle on the probe side") {
    val df = (1 to 2000).map(i => (i.toDouble % 10, (i % 7).toDouble, if (i % 10 >= 5) 1.0 else 0.0))
      .toDF("f_a", "f_b", "y")
    val cfg = InferDbPipeline.Config(Seq("f_a", "f_b"), target = "y",
      task = Task.Classification, maxBins = 4)
    val (fitted, _) = InferDbPipeline.fitWithModel(df, cfg)
    // AQE off so executedPlan is the materialized tree, not a wrapper
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // default (small-index) path: the compiled kernel — no joins at
      // all. The probe input must not be a LocalRelation (Catalyst
      // folds a projection over one at plan time, leaving nothing to
      // inspect), so rewrap it as an RDD-backed frame.
      val rddDf = spark.createDataFrame(df.rdd, df.schema)
      val compiled = fitted.transform(rddDf, "p").queryExecution.executedPlan.toString
      assert(compiled.contains("kv_probe"), compiled.take(800))
      assert(!compiled.contains("Join") && !compiled.contains("Exchange"),
        s"compiled serve must be a pure projection:\n$compiled")
      // join-cascade path (indexes above the embed cap)
      val plan = fitted.kv.joinProbe(df, fitted.keyColumn, "p").queryExecution.executedPlan
      val s = plan.toString
      // every index side must broadcast; a sort-merge or shuffled-hash
      // join here would shuffle the 100 TB probe side
      assert(s.contains("BroadcastHashJoin"), s.take(800))
      assert(!s.contains("SortMergeJoin"), "probe side must not sort-merge")
      assert(!s.contains("CartesianProduct"))
      // the probe side itself must not be exchanged — count shuffles
      // OUTSIDE broadcast/cached-build subtrees (the kv build behind
      // InMemoryRelation shuffles once at BUILD time, which is fine)
      def probeShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val n = p.getClass.getSimpleName
        if (n.contains("BroadcastExchange") || n.contains("InMemoryTableScan")) 0
        else (if (n.contains("ShuffleExchange")) 1 else 0) +
          p.children.map(probeShuffles).sum
      }
      assert(probeShuffles(plan) == 0, s"unexpected probe-side shuffle:\n$s")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("IVF top-1 recall vs brute force is sane and never beats it") {
    import graft.queries.{IvfQueries, TextQueries}
    val d = "/root/testdata/sf0.001"
    val ivf = IvfQueries.defs("t_ann_ivf_top1")(spark, d)
      .select("q_id", "n_id", "cos").as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val bf = TextQueries.defs("t_embed_knn")(spark, d)
      .filter(col("rn") === 1).select("q_id", "n_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val common = ivf.keySet intersect bf.keySet
    assert(common.size == 100)
    val recall = common.count(q => ivf(q)._2 == bf(q)._2).toDouble / common.size
    assert(recall >= 0.35, s"recall@1 $recall") // measured ~0.51 at nprobe 4/16
    common.foreach(q => assert(ivf(q)._3 <= bf(q)._3 + 1e-12)) // ANN can't beat exact
  }

  test("fitted-KMeans IVF: recall@1 is sane and never beats brute force") {
    import graft.queries.IvfQueries
    val row = IvfQueries.defs("x_ann_ivf_kmeans")(spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("n_queries") == 100L)
    val recall = row.getAs[Double]("recall_at_1")
    assert(recall >= 0.35, s"fitted-quantizer recall@1 $recall")
    assert(row.getAs[Double]("no_beat_frac") == 1.0, "ANN cosine must not beat exact")
  }

  test("IVF nprobe sweep: recall and scan cost are monotone in probe depth") {
    import graft.queries.IvfQueries
    val rows = IvfQueries.defs("x_ann_ivf_sweep")(spark, "/root/testdata/sf0.001")
      .orderBy("nprobe").collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 4L, 8L, 16L, 24L, 32L))
    rows.foreach(r => assert(r.getAs[Long]("n_queries") == 100L))
    val recalls = rows.map(_.getAs[Double]("recall_at_1")).toSeq
    val scans = rows.map(_.getAs[Double]("scan_frac")).toSeq
    // deeper probes can only add candidates: both curves non-decreasing
    // (>=, not >: consecutive depths can add only empty/sub-rounding
    // cells on a regenerated corpus) with real growth across the range
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a }, recalls.mkString(","))
    assert(scans.zip(scans.tail).forall { case (a, b) => b >= a }, scans.mkString(","))
    assert(scans.last > scans.head, scans.mkString(","))
    // probing half the 64 cells must find most true neighbors, at a
    // scan cost well under the brute-force full pass
    assert(recalls.last >= 0.5, s"recall@1(nprobe=32) ${recalls.last}")
    assert(scans.last < 0.9, s"scan_frac(nprobe=32) ${scans.last}")
    // the default operating point (nprobe=24) must agree with
    // x_ann_ivf_kmeans' own recall
    val r24 = rows(4).getAs[Double]("recall_at_1")
    val kmeans = IvfQueries.defs("x_ann_ivf_kmeans")(spark, "/root/testdata/sf0.001").head()
    assert(math.abs(r24 - kmeans.getAs[Double]("recall_at_1")) < 1e-9,
      s"sweep r@24 $r24 vs search ${kmeans.getAs[Double]("recall_at_1")}")
  }

  test("dedup clusters: components are consistent with the candidate pairs") {
    import graft.queries.TextQueries
    val d = "/root/testdata/sf0.001"
    val clusters = TextQueries.defs("t_dedup_clusters")(spark, d).cache()
    val pairs = TextQueries.defs("t_dedup_minhash")(spark, d).cache()
    assert(clusters.count() > 0, "expected some near-dup candidates in testdata")
    // representative = min reachable id: never above the member's id,
    // and itself a member of its own cluster
    assert(clusters.filter(col("cluster") > col("doc_id")).count() == 0)
    val reps = clusters.select(col("cluster")).distinct()
    val repRows = clusters.filter(col("cluster") === col("doc_id"))
      .select(col("cluster"))
    assert(reps.except(repRows).count() == 0, "every cluster id must be a member")
    // the defining CC property: both ends of every candidate pair land
    // in the same cluster
    val ca = clusters.select(col("doc_id").as("doc_a"), col("cluster").as("c_a"))
    val cb = clusters.select(col("doc_id").as("doc_b"), col("cluster").as("c_b"))
    val broken = pairs.join(ca, "doc_a").join(cb, "doc_b")
      .filter(col("c_a") =!= col("c_b")).count()
    assert(broken == 0, s"$broken pairs split across clusters")
    clusters.unpersist(); pairs.unpersist()
  }

  test("minhash oracle token cap: an over-cap corpus fails loudly") {
    import graft.queries.TextQueries
    val longDoc = Seq((1L, ("tok " * (TextQueries.OracleTokenCap + 5)).trim))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextQueries.assertUnderOracleTokenCap(longDoc)
    }
    assert(e.getMessage.contains("shingle cap"))
    // the guard passes a corpus under the cap
    TextQueries.assertUnderOracleTokenCap(Seq((1L, "a b c d")).toDF("doc_id", "text"))
  }

  test("x_stream_probe: streamed micro-batch probe equals the one-shot batch probe") {
    import graft.queries.LearnedQueries
    val d = "/root/testdata/sf0.001"
    val streamed = LearnedQueries.defs("x_stream_probe")(spark, d)
      .select("user_id", "event_type", "value", "prediction")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.nonEmpty)
    // batch equivalent: same index, same probe, no streaming
    val events = Tables.events(spark, d)
    import graft.core.{Keys, KvIndexBuilder, NumericBins}
    val keyCol = Keys.keyColumn(Seq(
      NumericBins(Array(1.0, 2.0, 3.0)).toColumn(col("user_id") % 4),
      NumericBins(Array(10.0, 20.0, 30.0)).toColumn(col("value"))))
    val train = events.filter(col("value") < 30.0)
      .select(keyCol.as("key"),
        when(col("event_type") === "click", 1.0).otherwise(0.0).as("pred"))
    val model = KvIndexBuilder.buildFromKeyed(train, keyLen = 2, Task.Classification)
    val batch = model.probe(events, keyCol, "prediction")
      .select(col("user_id"), col("event_type"), col("value"),
        round(col("prediction"), 6).as("prediction"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("report rows carry the impute/featurize stage with end-to-end = sum") {
    val df = (1 to 500).map(i => (i.toDouble % 10, if (i % 10 >= 5) 1.0 else 0.0))
      .toDF("f", "y")
    val cfg = InferDbPipeline.Config(Seq("f"), target = "y",
      task = Task.Classification, maxBins = 4)
    val (fitted, _) = InferDbPipeline.fitWithModel(df, cfg)
    val rep = graft.report.Report.classificationReport(spark, fitted, df, "y", iterations = 1)
    val r = rep.head()
    Seq("featurize_s", "translate_s", "score_s", "end_to_end_s").foreach(c =>
      assert(rep.columns.contains(c), s"missing column $c"))
    assert(math.abs(r.getAs[Double]("end_to_end_s") -
      (r.getAs[Double]("featurize_s") + r.getAs[Double]("translate_s")
        + r.getAs[Double]("score_s"))) < 1e-9)
  }

  test("stream-stream join attributes right events within the window") {
    implicit val sq = spark.sqlContext
    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Double)]
    val buys   = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    clicks.addData((ts(0), 1L, 1.0), (ts(0), 2L, 2.0))
    buys.addData((ts(30), 1L, 10.0), (ts(50), 2L, 20.0)) // 50min > 30min window
    val j = StreamOps.streamStreamJoin(
      clicks.toDF().toDF("ts", "user_id", "value"),
      buys.toDF().toDF("ts", "user_id", "value"),
      windowSec = 1800)
    val q = j.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj").select("user_id", "l_value", "r_value")
      .as[(Long, Double, Double)].collect().toSet
    assert(rows == Set((1L, 1.0, 10.0))) // user 2's buy fell outside the window
  }

  test("multimodal decode pipeline: schema, determinism, frame sampling") {
    val docs = Seq((0L, "hello world"), (1L, "abc"), (2L, "x" * 250))
      .toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(docs)
    assert(media.schema == Multimodal.mediaSchema)
    val dec = Multimodal.decode(media)
    assert(dec.schema == Multimodal.decodedSchema)
    val rows = dec.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getInt(2) == 11)                 // byte_len
    assert(rows(0L).getString(1) == "image")
    assert(rows(2L).getInt(5) == 3)                  // 250/100+1 frames
    // deterministic: re-decoding yields identical rows
    assert(Multimodal.decode(media).collect().toSeq == dec.collect().toSeq)
    // every 2nd frame index up to n_frames, from the decoded columns alone
    val frames = dec.select(col("media_id"),
        filter(sequence(lit(0), col("n_frames") - 1), i => i % 2 === 0).as("frame_ids"))
      .filter(col("media_id") === 2L).select("frame_ids")
      .as[Seq[Long]].head()
    assert(frames == Seq(0L, 2L))
  }

  test("real PNG codec: encode-decode round trip is lossless and distributed") {
    // the bytes are a genuine PNG (magic header), not the stub
    val bytes = Multimodal.synthPng(7L)
    assert(bytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    // driver-side round trip matches the generative formula exactly
    val r = Multimodal.decodePng(7L, bytes)
    val (w, h) = (Multimodal.pngWidth(7L), Multimodal.pngHeight(7L))
    assert(r.getInt(1) == w && r.getInt(2) == h)
    val expR = (for { y <- 0 until h; x <- 0 until w } yield Multimodal.pngR(7L, x, y).toLong).sum
    assert(r.getLong(3) == expR, "decoded red-channel sum differs — the codec round trip lost pixels")
    // distributed pipeline: mapPartitions preserves partitioning, no shuffle
    val ids = spark.range(0, 20).select(col("id").as("media_id")).repartition(3)
    val out = Multimodal.pngPipeline(ids)
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == 20)
    // a corrupted payload fails loudly instead of returning garbage
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(1L, Array[Byte](1, 2, 3))
    }
  }

  test("real animated GIF: multi-frame encode-decode round trip is lossless") {
    val id = 11L
    val bytes = Multimodal.synthGif(id)
    // genuine GIF header
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"))
    val rows = Multimodal.decodeGifFrames(id, bytes).toSeq
    val (w, h, n) = (Multimodal.gifWidth(id), Multimodal.gifHeight(id), Multimodal.gifFrames(id))
    assert(rows.length == n, s"reader found ${rows.length} frames, generator wrote $n")
    rows.foreach { r =>
      val f = r.getInt(1)
      assert(r.getInt(2) == w && r.getInt(3) == h)
      val exp = (for { y <- 0 until h; x <- 0 until w }
        yield Multimodal.gifGray(id, f, x, y).toLong).sum
      assert(r.getLong(4) == exp, s"frame $f gray-sum differs — palettized round trip lost pixels")
    }
    // distributed: container -> frames flatMap preserves partitioning
    val ids = spark.range(0, 12).select(col("id").as("media_id")).repartition(3)
    val out = Multimodal.gifFramesPipeline(ids)
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == (0L until 12L).map(Multimodal.gifFrames(_).toLong).sum)
  }

  test("real JPEG: lossy round trip keeps dims exact and error under the bound") {
    val id = 5L
    val bytes = Multimodal.synthJpeg(id)
    // genuine JPEG SOI marker
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
    val r = Multimodal.decodeJpeg(id, bytes)
    assert(r.getInt(1) == Multimodal.pngWidth(id) && r.getInt(2) == Multimodal.pngHeight(id))
    assert(r.getBoolean(3), "mean reconstruction error exceeded JpegMeanErrBound")
    // the verdict actually discriminates: decoding with a swapped
    // channel expectation would fail — simulate by checking the error
    // bound is not vacuously huge
    assert(Multimodal.JpegMeanErrBound < 20.0)
    // every id in the declared range passes (the oracle pins all-true)
    val ids = spark.range(0, 50).select(col("id").as("media_id"))
    val ok = Multimodal.jpegPipeline(ids).agg(min("jpeg_ok")).head().getBoolean(0)
    assert(ok, "some id in range failed the JPEG error bound — tighten quality or bound")
  }

  test("real MJPEG-in-AVI video: container walk + per-frame JPEG round trip") {
    val id = 13L
    val bytes = Multimodal.synthAviMjpeg(id)
    // genuine RIFF/AVI magic
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes, 8, 4, "US-ASCII") == "AVI ")
    // RIFF size field covers the whole stream
    val riffSize = (bytes(4) & 0xff) | ((bytes(5) & 0xff) << 8) |
      ((bytes(6) & 0xff) << 16) | ((bytes(7) & 0xff) << 24)
    assert(riffSize + 8 == bytes.length, "RIFF size field inconsistent with stream length")
    val rows = Multimodal.decodeAviFrames(id, bytes).toSeq
    val (w, h, n) = (Multimodal.vidWidth(id), Multimodal.vidHeight(id), Multimodal.vidFrames(id))
    assert(rows.length == n, s"container walk found ${rows.length} frames, generator wrote $n")
    rows.zipWithIndex.foreach { case (r, f) =>
      assert(r.getInt(1) == f && r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == n)
      assert(r.getBoolean(5), s"frame $f mean reconstruction error exceeded the bound")
    }
    // the parser is a real container walk: truncating movi or breaking
    // the header fails loudly, not silently
    intercept[IllegalArgumentException] {
      Multimodal.decodeAviFrames(id, bytes.take(bytes.length - 24))
    }
    val broken = bytes.clone(); broken(8) = 'X'.toByte
    intercept[IllegalArgumentException] { Multimodal.decodeAviFrames(id, broken) }
    // distributed: container -> frames flatMap preserves partitioning
    val ids = spark.range(0, 30).select(col("id").as("media_id")).repartition(3)
    val out = Multimodal.videoFramesPipeline(ids)
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == (0L until 30L).map(Multimodal.vidFrames(_).toLong).sum)
    val allOk = out.agg(min("frame_ok")).head().getBoolean(0)
    assert(allOk, "some frame in range failed the reconstruction bound")
  }
}
