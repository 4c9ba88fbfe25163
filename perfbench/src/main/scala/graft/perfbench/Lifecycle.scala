package graft.perfbench

import graft.InferDbPipeline
import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The write side of a fitted index, measured layer by layer once per
  * traced serve_compiled run on the index that run served:
  *
  *  1. `save` + `load`, checked for a bitwise-equal probe;
  *  2. a batch of point lookups through `Fitted.toLocalScorer`, a sample
  *     checked against the distributed probe, plus the split of one
  *     lookup into binning (`BinSpec.binValue`) and scoring
  *     (`LocalScorer.scoreKey`);
  *  3. `KvIndexState.append` of a seeded delta, then `toModel` and a
  *     first probe, checked equal to a rebuild on base ∪ delta.
  */
object LifecycleLayers {
  val Lookups: Int = 20000
  val LookupBatch: Int = 100

  def measure(run: Run, tracer: Tracer, spark: SparkSession, trained: InferDbPipeline.Trained,
      cfg: InferDbPipeline.Config, base: DataFrame, delta: DataFrame, holdout: DataFrame,
      dir: String): Unit = {
    val fitted = trained.fitted

    // 1. persist round trip
    val idxDir = s"$dir/lifecycle_index"
    tracer.span("Persist.save")(fitted.save(idxDir))
    val loaded = tracer.span("Persist.load")(InferDbPipeline.load(spark, idxDir))
    val served = ForceEval.checksum(fitted.transform(holdout))
    val reloaded = ForceEval.checksum(loaded.transform(holdout))
    run.check("reload_probe_equals", served == reloaded, s"$served vs $reloaded")

    // 2. point lookups: raw values -> prediction, batch mean per sample
    val featIdx = fitted.selected.map(cfg.features.indexOf)
    val rawValues = holdout.select(cfg.features.map(col): _*).limit(Lookups).collect()
      .map(r => featIdx.map(r.get))
    val scoreFn = fitted.toLocalScorer
    var sink = 0.0
    var b = 0
    while (b < rawValues.length / LookupBatch) {
      val s0 = System.nanoTime()
      var j = b * LookupBatch
      while (j < (b + 1) * LookupBatch) { sink += scoreFn(rawValues(j)); j += 1 }
      run.sample("lookup_us", (System.nanoTime() - s0) / 1e3 / LookupBatch)
      b += 1
    }
    splitLookup(run, fitted, rawValues)
    val rows = fitted.transform(holdout.limit(200), "__p")
      .select(fitted.selected.map(col) :+ col("__p"): _*).collect()
    val bad = rows.count(r => scoreFn(fitted.selected.indices.map(r.get)) != r.getDouble(r.length - 1))
    run.check("lookup_equals_probe", bad == 0 && rows.nonEmpty && !sink.isNaN,
      s"$bad of ${rows.length} lookups differ")

    // 3. incremental append vs rebuild; the base state is materialized
    // before the append, like yesterday's state would be
    def keyed(df: DataFrame) = df.select(fitted.keyColumn.as("key"), col("label").as("pred"))
    val st0 = KvIndexState.build(keyed(base), fitted.selected.size, cfg.task)
    val st = st0.copy(stats = st0.stats.cache())
    st.stats.count()
    val merged = tracer.span("KvIndexState.append")(st.append(keyed(delta)))
    val appended = tracer.span("KvIndexState.toModel") {
      val m = merged.toModel(cfg.balanceRatio)
      ForceEval.checksum(m.probe(holdout.limit(1000), fitted.keyColumn))
      m
    }
    val rebuilt = KvIndexBuilder.buildFromKeyed(keyed(base.unionByName(delta)),
      fitted.selected.size, cfg.task, cfg.balanceRatio)
    val a = ForceEval.checksum(appended.kv.select("key", "value"))
    val r = ForceEval.checksum(rebuilt.kv.select("key", "value"))
    val pa = ForceEval.checksum(appended.probe(holdout, fitted.keyColumn))
    val pr = ForceEval.checksum(rebuilt.probe(holdout, fitted.keyColumn))
    run.check("append_equals_rebuild", a == r && pa == pr, s"kv $a vs $r, probe $pa vs $pr")

    st.stats.unpersist()
    Seq(appended, rebuilt, loaded.kv).foreach { m =>
      m.kv.unpersist()
      m.prefixes.foreach(_._2.unpersist())
    }
  }

  /** One lookup split into binning the raw values and scoring the key
    * (the two halves of `Fitted.toLocalScorer`), each a batch mean in ns. */
  private def splitLookup(run: Run, fitted: InferDbPipeline.Fitted, rawValues: Array[Seq[Any]]): Unit = {
    val specs = fitted.selected.map(fitted.bins)
    val scorer = fitted.kv.toLocalScorer
    val n = rawValues.length
    val keys = new Array[String](n)
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < specs.length) {
        if (j > 0) sb.append('.')
        sb.append(specs(j).binValue(rawValues(i)(j)))
        j += 1
      }
      keys(i) = sb.toString
      i += 1
    }
    val t1 = System.nanoTime()
    var sink = 0.0
    i = 0
    while (i < n) { sink += scorer.scoreKey(keys(i)); i += 1 }
    val t2 = System.nanoTime()
    if (!sink.isNaN) {
      run.sample("Fitted.binValue_ns", (t1 - t0).toDouble / n)
      run.sample("LocalScorer.score_ns", (t2 - t1).toDouble / n)
    }
  }
}
