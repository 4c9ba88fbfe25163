package graft.perfbench

import graft.InferDbPipeline
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by the workloads. */
object Common {
  def seconds[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Run `df`, then return the physical plan Spark executed (after
    * adaptive re-planning) and its Exchange count. */
  def executedPlan(df: DataFrame): (String, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (plan.toString, PlanNodes.exchanges(plan))
  }

  /** The InferDbPipeline.fit stages replayed one public call at a time
    * (traced runs only), so each build layer gets its own span. Mirrors
    * `InferDbPipeline.fit` without populate-paths, and checks that the
    * replay reproduces `fitted` — the same bins, selected key and kv and
    * prefix relations — so a change to the program's fit fails a check
    * instead of leaving these spans timing a stale sequence. (The
    * KvModel.toLocalScorer span is taken on the served index, in
    * [[ServePlan.checkSample]].) */
  def decomposedFit(run: Run, tracer: Tracer, withPred: DataFrame,
      cfg: InferDbPipeline.Config, predCol: String, fitted: InferDbPipeline.Fitted): Unit = {
    val cached = withPred.cache()
    cached.count()
    val numeric = cfg.features.filterNot(cfg.categorical)
    val bins: Map[String, BinSpec] = tracer.span("Binning.fit") {
      val nb: Map[String, BinSpec] = Binning.fitNumericBatch(cached, numeric, cfg.target, cfg.maxBins)
      nb ++ cfg.features.filter(cfg.categorical).map(f =>
        f -> Binning.fitCategorical(cached, f, cfg.target, cfg.maxBins))
    }
    val encoded = cached.select(cfg.features.map(f => bins(f).toColumn(col(f)).as(s"__b_$f")) :+
      col(cfg.target).as("__y") :+ col(predCol).as("__pred"): _*).cache()
    encoded.count()
    val candidates = cfg.features.map(f => s"__b_$f")
    run.value("GreedySelector.candidates", candidates.size)
    val sel = tracer.span("GreedySelector.select") {
      GreedySelector.select(encoded, candidates,
        cfg.features.map(f => s"__b_$f" -> bins(f).numBins).toMap,
        "__y", cfg.task, cfg.tolerance, cfg.maxFeatures, cfg.maxCandidates)
    }
    val keyed = encoded.select(Keys.keyColumn(sel.features.map(col)).as("key"),
      col("__pred").cast("double").as("pred"))
    val kv = tracer.span("KvIndexBuilder.build") {
      KvIndexBuilder.buildFromKeyed(keyed, sel.features.length, cfg.task, cfg.balanceRatio)
    }
    val selected = sel.features.map(_.stripPrefix("__b_"))
    def canon(b: Map[String, BinSpec]) = b.map {
      case (f, NumericBins(splits)) => f -> splits.toSeq
      case other => other
    }
    def sums(m: KvModel) = (m.globalValue, ForceEval.checksum(m.kv.select("key", "value")) +:
      m.prefixes.sortBy(_._1).map(p => ForceEval.checksum(p._2.select("prefix", "value"))))
    val (replayed, program) = (sums(kv), sums(fitted.kv))
    run.check("decomposed_fit_equals_fit",
      selected == fitted.selected && canon(bins) == canon(fitted.bins) && replayed == program,
      s"selected $selected vs ${fitted.selected}; bins equal: ${canon(bins) == canon(fitted.bins)}; " +
        s"global value, kv/prefix checksums $replayed vs $program")
    kv.kv.unpersist(); kv.prefixes.foreach(_._2.unpersist())
    encoded.unpersist(); cached.unpersist()
  }

  /** The binary LR lifecycle config of serve_compiled: numeric
    * features and one categorical. */
  val lrConfig: InferDbPipeline.Config = InferDbPipeline.Config(
    features = Seq("l_quantity", "l_discount", "l_shipmode"),
    categorical = Set("l_shipmode"), target = "label", task = Task.Classification,
    maxBins = 8, model = "lr")
}

/** The fused serve plan over a lineitem-shaped table: featurize → probe
  * → filter on the prediction → group by month, plus the cumulative
  * steps the traced runs time one checksum at a time. */
final class ServePlan(kv: KvModel, val key: Column, threshold: Double) {
  import ServePlan._

  def probe(df: DataFrame): DataFrame = kv.probe(df, key, "prediction")

  def fused(df: DataFrame): DataFrame =
    probe(featurize(df)).filter(col("prediction") > threshold)
      .groupBy("ship_month")
      .agg(count(lit(1)).as("cnt"), sum("charge_cents").as("rev_cents"))

  /** (step, plan) pairs, each a superset of the one before it: a scan
    * floor, then featurize, translate, probe and the aggregate. */
  def steps(serve: DataFrame): Seq[(String, DataFrame)] = {
    val raw = serve.select(rawCols.map(col): _*)
    val translated = featurize(raw).withColumn("key_str", key)
    Seq("Tables.scan" -> raw, "featurize" -> featurize(raw), "translate" -> translated,
      "KvIndex.probe" -> probe(translated), "aggregate" -> fused(raw))
  }

  /** Shares of rows whose key hits the exact table, hits only a prefix
    * table, or falls through to the global value — computed against the
    * index relations themselves, independent of the probe form. */
  def hitShares(rows: DataFrame): (Double, Double) = {
    val keyed = rows.select(key.as("__k"))
    val exact = keyed.join(broadcast(kv.kv.select(col("key").as("__k"), lit(1).as("__e"))),
      Seq("__k"), "left")
    val withPfx = kv.prefixes.foldLeft(exact) { case (df, (l, tbl)) =>
      df.join(broadcast(tbl.select(col("prefix").as(s"__p$l"), lit(1).as(s"__h$l"))),
        Keys.prefix(col("__k"), l) === col(s"__p$l"), "left")
    }
    val anyPfx = kv.prefixes.map { case (l, _) => col(s"__h$l").isNotNull }
      .reduceOption(_ || _).getOrElse(lit(false))
    val r = withPfx.agg(
      count(lit(1)),
      sum(when(col("__e").isNotNull, 1L).otherwise(0L)),
      sum(when(col("__e").isNull && anyPfx, 1L).otherwise(0L))).head()
    val n = r.getLong(0).toDouble
    (r.getLong(1) / n, r.getLong(2) / n)
  }

  /** Checks the plan form (compiled kernel vs join cascade), the index
    * size against the cap and the exact-hit share; a miss stops the run. */
  def gate(run: Run, rows: DataFrame, compiled: Boolean, exactHit: (Double, Double)): Unit = {
    val (plan, exchanges) = Common.executedPlan(fused(rows))
    val isCompiled = plan.contains("kv_probe(") && !plan.contains("BroadcastHashJoin")
    run.value("KvIndex.compiled", if (isCompiled) 1 else 0)
    run.value("plan.exchanges", exchanges)
    run.property("probe_form", if (isCompiled) "compiled" else "join",
      ok = isCompiled == compiled, target = if (compiled) "compiled" else "join")
    val entries = kv.kv.count()
    run.value("KvIndex.entries", entries)
    run.property("index_entries", entries,
      ok = if (compiled) entries <= KvModel.MaxCompiledEntries else entries > KvModel.MaxCompiledEntries,
      target = (if (compiled) "<= " else "> ") + KvModel.MaxCompiledEntries)
    val (exact, pfx) = hitShares(rows)
    run.value("KvIndex.exact_hit_share", exact)
    run.value("KvIndex.prefix_hit_share", pfx)
    run.property("exact_hit_share", exact, ok = exact >= exactHit._1 && exact <= exactHit._2,
      target = s"${exactHit._1}..${exactHit._2}")
  }

  /** A sample of served predictions equals `LocalScorer.scoreKey`. */
  def checkSample(run: Run, tracer: Tracer, rows: DataFrame): Unit = {
    val scorer = tracer.span("KvModel.toLocalScorer")(kv.toLocalScorer)
    val got = probe(rows.limit(500).select(rawCols.map(col): _*))
      .select(key.as("__k"), col("prediction")).collect()
    val bad = got.count(r => scorer.scoreKey(r.getString(0)) != r.getDouble(1))
    run.check("sample_equals_LocalScorer", bad == 0 && got.length == 500,
      s"$bad of ${got.length} rows differ")
  }
}

object ServePlan {
  val rawCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipmode", "l_shipdate")

  /** Keeps every raw column and adds the derived ones. Revenue is summed
    * in integer cents so the aggregate is exact in any partial order. */
  def featurize(df: DataFrame): DataFrame = df.select(rawCols.map(col) ++ Seq(
    month(col("l_shipdate")).as("ship_month"),
    (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")) * 100)
      .cast("long").as("charge_cents")): _*)
}

/** serve_compiled and serve_cascade: one full-batch fused serve per
  * operation over a seeded lineitem-shaped table.
  *
  *  - compiled: the paper's headline path. The index comes from
  *    `fitLifecycle` (LR, binary) and stays under
  *    `KvModel.MaxCompiledEntries`, so `probe` embeds the cascade in the
  *    plan; serve rows come from the training distribution, so nearly
  *    all keys hit exactly.
  *  - cascade: a fixed six-field MultiClass key (8 bins each) built with
  *    `KvIndexBuilder.buildFromKeyed` from more trained keys than the
  *    cap, so `probe` takes the broadcast-join cascade; serve rows miss
  *    the exact table at a gated share (30-50%) and fall back to prefix
  *    tables.
  *
  * Traced runs also measure layers no timed operation runs, once after
  * set-up: compiled runs the build stages one public call at a time and
  * the index write side ([[LifecycleLayers]]), cascade runs the query
  * rows ([[MixLayers]]). */
final class ServeWorkload(run: Run, cascade: Boolean) extends Workload {
  import Common._

  private val dir = run.args.data
  def dataDir: String = s"$dir/serve"
  def rowsPerOp: Long = serveRows
  private var serveRows = 0L

  private var serve: DataFrame = _
  private var holdout: DataFrame = _
  private var trained: InferDbPipeline.Trained = _
  private var kv: KvModel = _
  private var plan: ServePlan = _
  private var reference: (Long, Long) = _

  def setup(spark: SparkSession, tracer: Tracer): Unit = {
    serve = spark.read.parquet(s"$dir/serve")
    holdout = spark.read.parquet(s"$dir/holdout")
    val train = spark.read.parquet(s"$dir/train")
    plan =
      if (cascade) {
        val key = Keys.keyColumn(ServeWorkload.cascadeBins.map { case (c, b) => b.toColumn(col(c)) })
        kv = tracer.span("KvIndexBuilder.build") {
          KvIndexBuilder.buildFromKeyed(train.select(key.as("key"), col("klass").as("pred")),
            ServeWorkload.cascadeBins.size, Task.MultiClass)
        }
        new ServePlan(kv, key, 1.5)
      } else {
        trained = tracer.span("InferDbPipeline.fitLifecycle") {
          InferDbPipeline.fitLifecycle(train, lrConfig)
        }
        kv = trained.fitted.kv
        new ServePlan(kv, trained.fitted.keyColumn, 0.5)
      }
    // warm-up: the first full serve, whose checksum every timed serve
    // must reproduce
    reference = ForceEval.checksum(plan.fused(serve))
  }

  def verify(spark: SparkSession, tracer: Tracer): Unit = {
    plan.gate(run, holdout, compiled = !cascade,
      exactHit = if (cascade) (0.5, 0.7) else (0.95, 1.0))
    serveRows = serve.count()
    run.property("serve_rows", serveRows, ok = serveRows >= 1000000L, target = ">= 1000000")
    plan.checkSample(run, tracer, holdout)

    val agreement =
      if (cascade) // index vs the noiseless class the labels were drawn from
        plan.probe(holdout).agg(avg(when(col("prediction") === col("klass_true"), 1.0)
          .otherwise(0.0))).head().getDouble(0)
      else { // index vs model on the training rows the index memorized
        // the compiled kernel and the join cascade agree bit for bit
        val f = ServePlan.featurize(holdout)
        val c = ForceEval.checksum(kv.probe(f, plan.key, "p"))
        val j = ForceEval.checksum(kv.joinProbe(f, plan.key, "p"))
        run.check("compiled_probe_equals_joinProbe", c == j, s"$c vs $j")
        trained.fitted.transform(trained.withPred, "__idx")
          .agg(avg(when((col("__idx") >= 0.5) === (col("__model_pred") === 1.0), 1.0)
            .otherwise(0.0))).head().getDouble(0)
      }
    run.value("index_agreement", agreement)

    if (tracer.enabled) {
      // index size on disk (the paper's size metric)
      val idxDir = s"$dir/index"
      if (cascade) {
        kv.kv.select("key", "value").coalesce(1).write.mode("overwrite").parquet(s"$idxDir/kv")
        kv.prefixes.foreach { case (l, t) =>
          t.coalesce(1).write.mode("overwrite").parquet(s"$idxDir/prefix_$l")
        }
      } else trained.fitted.save(idxDir)
      run.value("Persist.index_bytes", Files.bytes(idxDir))
      run.value("Persist.files", Files.count(idxDir))
    }
    if (tracer.enabled && !cascade) {
      tracer.span("InferDbPipeline.fit") {
        InferDbPipeline.fit(trained.withPred, lrConfig, "__model_pred")
      }
      decomposedFit(run, tracer, trained.withPred, lrConfig, "__model_pred", trained.fitted)
      LifecycleLayers.measure(run, tracer, spark, trained, lrConfig,
        spark.read.parquet(s"$dir/train"), spark.read.parquet(s"$dir/delta"), holdout, dir)
    }
    if (tracer.enabled && cascade) MixLayers.measure(run, tracer, spark)
  }

  def operation(spark: SparkSession, tracer: Tracer, i: Int): (Double, Boolean) = {
    val (wall, chk) = seconds(tracer.span("serve")(ForceEval.checksum(plan.fused(serve))))
    val ok = run.check("serve_checksum", chk == reference, s"$chk vs $reference")
    if (tracer.tracing)
      plan.steps(serve).foreach { case (name, df) => tracer.span(name)(ForceEval.checksum(df)) }
    (wall, ok)
  }
}

object ServeWorkload {
  /** The fixed cascade key: six columns, eight equal-mass bins each
    * (the generator draws each column uniformly over its eight bins). */
  val cascadeBins: Seq[(String, NumericBins)] = {
    def splits(lo: Double, width: Double) = NumericBins((1 to 7).map(i => lo + i * width).toArray)
    Seq(
      "l_partkey" -> splits(0.5, 25000.0),
      "l_suppkey" -> splits(0.5, 1000.0),
      "l_linenumber" -> splits(0.5, 1.0),
      "l_quantity" -> splits(0.5, 6.0),
      "l_discount" -> splits(-0.005, 0.01),
      "l_tax" -> splits(-0.005, 0.01))
  }
}

object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges, looking through adaptive query
    * stages and subqueries. */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.size
}

object Files {
  private def walk(dir: String): Seq[java.io.File] = {
    def rec(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(rec) else Seq(f)
    rec(new java.io.File(dir)).filterNot { f =>
      f.getName.startsWith(".") || f.getName.startsWith("_")
    }
  }
  /** Bytes of the data files under `dir` (Spark's .crc and _SUCCESS
    * markers excluded). */
  def bytes(dir: String): Long = walk(dir).map(_.length).sum
  def count(dir: String): Int = walk(dir).size
}
