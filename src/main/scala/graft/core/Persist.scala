package graft.core

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Fitted-artifact persistence (S5 made real — the reference
  * joblib-dumps the fitted pipeline/trie and measures the artifact,
  * src/transpiler.py:3188-3194, :3266-3273; here the artifact IS a set
  * of relations, so it saves as parquet + a one-row meta relation).
  *
  * Layout under `dir` — three relations for any key length:
  *   meta/      one row: layout ([[Persist.Layout]]), task, key_len, iv,
  *              selected, features, categorical, target, max_bins, model
  *              and the other Config fields
  *   bins/      one row per fitted feature: (feature, kind,
  *              splits array<double>, cat_keys, cat_vals) — parquet
  *              doubles round-trip EXACTLY (no decimal detour), so
  *              the reloaded bin splits serve the identical bits the
  *              in-memory pipeline fitted.
  *   index/     the one (len, key, value) index relation: the exact kv
  *              at len = key_len, the prefix levels, and the global
  *              value as its len = 0 row (the index's key codes are
  *              recomputed on load, never saved; a key without one,
  *              NULL included, a NULL value, a key's second row and a
  *              second len = 0 row are rejected there, naming
  *              `<dir>/index` and the key)
  *
  * [[load]] reads each relation with the fixed schema [[save]] writes
  * (no schema-inference job), and rejects any other layout (a missing
  * or different `layout` value) before it reads the index relation, so
  * an old directory is never misread.
  *
  * A reloaded [[graft.InferDbPipeline.Fitted]] probes bit-identically
  * to the in-memory one by construction: every constant the serve plan
  * embeds (splits, index rows) round-trips through parquet unchanged.
  * NaN is the one value whose bits are not all kept, and not by the
  * parquet round trip: Spark writes every NaN that enters its row
  * format as the canonical `0x7ff8000000000000`, so a NaN with a payload
  * (say `0x7ff8000000000001`) loses it in the first Spark job that
  * carries it. The index is built by Spark jobs, so it only ever holds
  * the canonical NaN, which saves and loads unchanged; a payload NaN
  * handed to a write (a hand-built relation) is stored canonical.
  * At 100 TB the save is a handful of broadcast-sized writes; the load
  * is three jobs: the meta row, the bins, and the index read to the
  * driver in one collect, the loaded model's only copy of it, as a fresh
  * build's; a first probe or a local scorer of the loaded model starts
  * none.
  */
object Persist {
  /** The layout this version writes and the only one it loads. */
  val Layout = "index/3"

  private val MetaSchema = "layout STRING, task STRING, key_len INT, iv DOUBLE, selected ARRAY<STRING>, " +
    "features ARRAY<STRING>, categorical ARRAY<STRING>, target STRING, max_bins INT, model STRING, " +
    "tolerance DOUBLE, max_features INT, max_candidates INT, balance_ratio DOUBLE, mlp_hidden INT, " +
    "max_one_hot INT, populate_paths BOOLEAN"
  private val BinsSchema =
    "feature STRING, kind STRING, splits ARRAY<DOUBLE>, cat_keys ARRAY<STRING>, cat_vals ARRAY<INT>"
  private val IndexSchema = "len INT, key STRING, value DOUBLE"
  private def statsSchema(t: Task): String = t match {
    case Task.MultiClass => "key STRING, pred DOUBLE, cnt BIGINT"
    case _ => "key STRING, sum DOUBLE, cnt BIGINT"
  }

  private def taskName(t: Task): String = t match {
    case Task.Regression => "regression"
    case Task.Classification => "classification"
    case Task.MultiClass => "multiclass"
  }
  private def taskOf(s: String): Task = s match {
    case "regression" => Task.Regression
    case "classification" => Task.Classification
    case "multiclass" => Task.MultiClass
    case other => throw new IllegalArgumentException(s"unknown task '$other'")
  }

  def save(f: graft.InferDbPipeline.Fitted, dir: String): Unit = {
    val spark = f.kv.index.sparkSession
    import spark.implicits._
    // the index relation: tiny (key-space-bounded) — one file
    f.kv.index.select("len", "key", "value").coalesce(1).write.mode("overwrite").parquet(s"$dir/index")
    f.bins.toSeq.sortBy(_._1).map {
      case (feat, NumericBins(splits)) =>
        (feat, "numeric", splits.toSeq, Seq.empty[String], Seq.empty[Int])
      case (feat, CategoricalBins(m)) =>
        val kv = m.toSeq.sortBy(_._1)
        (feat, "categorical", Seq.empty[Double], kv.map(_._1), kv.map(_._2))
    }.toDF("feature", "kind", "splits", "cat_keys", "cat_vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bins")
    // EVERY Config field persists — a reloaded config silently falling
    // back to defaults (balanceRatio, populatePaths, …) would re-fit a
    // different model than the one that was saved if reused for a
    // refresh, even though serving alone wouldn't notice.
    val c = f.config
    Seq((Layout, taskName(c.task), f.kv.keyLen, f.iv,
        f.selected, c.features, c.categorical.toSeq.sorted,
        c.target, c.maxBins, c.model,
        c.tolerance, c.maxFeatures, c.maxCandidates, c.balanceRatio,
        c.mlpHidden, c.maxOneHot, c.populatePaths))
      .toDF("layout", "task", "key_len", "iv", "selected",
        "features", "categorical", "target", "max_bins", "model",
        "tolerance", "max_features", "max_candidates", "balance_ratio",
        "mlp_hidden", "max_one_hot", "populate_paths")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Persist a [[KvIndexState]] (the mergeable sufficient statistics)
    * so tomorrow's ingest can `loadState(...).append(delta)` without
    * rescanning today's corpus — the cross-session form of incremental
    * maintenance. Sums/counts round-trip parquet exactly, so
    * load-then-append equals never-saved append bit for bit. */
  def saveState(st: KvIndexState, dir: String): Unit = {
    st.stats.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    // task + keyLen are DRIVER-side scalars: a java.util.Properties
    // sidecar costs zero Spark jobs where the old one-row parquet meta
    // relation paid a full write job on save and a head() job on load
    // (r16, guide §1.2 — x_index_lifecycle runs this round trip inside
    // its timed region). The stats relation stays parquet — it is the
    // actual data artifact and must round-trip doubles exactly.
    val props = new java.util.Properties()
    props.setProperty("task", taskName(st.task))
    props.setProperty("key_len", st.keyLen.toString)
    // Hadoop FS API (not java.io): the state dir may be hdfs://or
    // s3a:// on a real deployment, same substrate the stats parquet
    // already targets
    val p = new org.apache.hadoop.fs.Path(dir, "state_meta.properties")
    val fs = p.getFileSystem(
      st.stats.sparkSession.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try props.store(os, "graft KvIndexState meta") finally os.close()
  }

  def loadState(spark: SparkSession, dir: String): KvIndexState = {
    val props = new java.util.Properties()
    val p = new org.apache.hadoop.fs.Path(dir, "state_meta.properties")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val is = fs.open(p)
    try props.load(is) finally is.close()
    val task = taskOf(props.getProperty("task"))
    KvIndexState(task, props.getProperty("key_len").toInt,
      spark.read.schema(statsSchema(task)).parquet(s"$dir/stats"))
  }

  def load(spark: SparkSession, dir: String): graft.InferDbPipeline.Fitted = {
    val meta = spark.read.schema(MetaSchema).parquet(s"$dir/meta").head()
    // an older meta has no `layout` column: it reads as NULL
    val layout = Option(meta.getAs[String]("layout")).getOrElse("<none>")
    require(layout == Layout,
      s"$dir: saved index layout '$layout' is not the supported layout '$Layout'; re-save it")
    def strs(r: Row, field: String): Seq[String] =
      r.getAs[scala.collection.Seq[String]](field).toSeq
    val task = taskOf(meta.getAs[String]("task"))
    val keyLen = meta.getAs[Int]("key_len")
    val bins: Map[String, BinSpec] = spark.read.schema(BinsSchema).parquet(s"$dir/bins").collect().map { r =>
      val feat = r.getAs[String]("feature")
      val spec: BinSpec = r.getAs[String]("kind") match {
        case "numeric" =>
          NumericBins(r.getAs[scala.collection.Seq[Double]]("splits").toArray)
        case "categorical" =>
          CategoricalBins(strs(r, "cat_keys")
            .zip(r.getAs[scala.collection.Seq[Int]]("cat_vals")).toMap)
        case other => throw new IllegalArgumentException(s"unknown bin kind '$other'")
      }
      feat -> spec
    }.toMap
    val config = graft.InferDbPipeline.Config(
      features = strs(meta, "features"),
      categorical = strs(meta, "categorical").toSet,
      target = meta.getAs[String]("target"),
      task = task,
      maxBins = meta.getAs[Int]("max_bins"),
      model = meta.getAs[String]("model"),
      tolerance = meta.getAs[Double]("tolerance"),
      maxFeatures = meta.getAs[Int]("max_features"),
      maxCandidates = meta.getAs[Int]("max_candidates"),
      balanceRatio = Option(meta.getAs[java.lang.Double]("balance_ratio")).map(_.doubleValue),
      mlpHidden = meta.getAs[Int]("mlp_hidden"),
      maxOneHot = meta.getAs[Int]("max_one_hot"),
      populatePaths = meta.getAs[Boolean]("populate_paths"))
    graft.InferDbPipeline.Fitted(
      config, bins, strs(meta, "selected"), meta.getAs[Double]("iv"),
      KvModel.materialize(task, keyLen, spark.read.schema(IndexSchema).parquet(s"$dir/index")
        .withColumn("code", Keys.indexCode(col("key"), col("len"), keyLen)), s"$dir/index"))
  }
}
