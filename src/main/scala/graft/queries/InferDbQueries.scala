package graft.queries

import graft.Tables
import graft.core._
import graft.functions.Fns
import graft.metrics.Metrics
import graft.models.{LinearModel, MlpModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The InferDB capability surface itself (SURVEY §2.8–§2.10, §3):
  * translate → KV probe → field-wise prefix fallback, IV aggregates,
  * model scoring (fused linear / MLP and the reference-shaped COO GEMM
  * joins), effectiveness metrics, populate-paths, filling degree.
  *
  * The probe queries exercise the REAL library path
  * (KvIndexBuilder/KvModel) against a DuckDB oracle that recomputes the
  * same index in SQL from shared constants (SqlGen) — fixed splits make
  * the train-time dataflow SQL-expressible, so the whole composite
  * operator is hash-checked, not just rows-counted.
  *
  * Scale: the kv/prefix/coef/weight sides are all bounded by key-space
  * or model size, never by data — every join here is a broadcast; the
  * only shuffles are the index-build groupBys (partial-agg'd, keyed on
  * the compound key).
  */
object InferDbQueries {
  type Q = (SparkSession, String) => DataFrame

  // ---- shared constants (single source of truth for Spark + SQL) ----
  // key field order: (discount, tax, quantity) — unseen qty bin keeps a
  // live L=2 prefix; unseen discount bin cascades all the way to the
  // global fallback (both paths exercised at sf0.01).
  private val discSplits = Seq(0.03, 0.07)
  private val taxSplits  = Seq(0.04)
  private val qtySplits  = Seq(10.0, 25.0, 40.0)
  private val keyFields: Seq[(String, Seq[Double])] =
    Seq("l_discount" -> discSplits, "l_tax" -> taxSplits, "l_quantity" -> qtySplits)

  /** Train predicate: drops qty bin 3 and disc bin 2 from the index. */
  private val trainPredSql = "l_quantity < 40.0 AND l_discount < 0.07"
  private def trainPred    = col("l_quantity") < 40.0 && col("l_discount") < 0.07

  private val targetSql = "(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)"
  private def targetCol = when(col("l_returnflag") === "R", 1.0).otherwise(0.0)

  private def keyCol: Column = Keys.keyColumn(keyFields.map { case (c, s) =>
    NumericBins(s.toArray).toColumn(col(c))
  })

  // linear model constants (features: qty, extprice/1000, disc, tax)
  private val linCoefs     = Array(0.031, -0.0045, 1.7, -0.9)
  private val linIntercept = -0.62
  private val linTermsSql  = Seq("l_quantity", "l_extendedprice / 1000.0", "l_discount", "l_tax")
  private def linTermsCol  = Seq(col("l_quantity"), col("l_extendedprice") / 1000.0,
                                 col("l_discount"), col("l_tax"))

  // tiny MLP 4 -> 3 -> 1, fixed weights
  private val mlp = MlpModel(
    w0 = Array(
      Array(0.04, -0.02, 0.01),
      Array(-0.003, 0.002, 0.0015),
      Array(1.1, -0.7, 0.4),
      Array(-0.5, 0.9, 0.0)),
    b0 = Array(0.1, -0.05, 0.02),
    w1 = Array(Array(0.8), Array(-0.6), Array(0.9)),
    b1 = Array(-0.15))

  // KMeans: 4 fixed centroids over embedding dims 0/1
  private val centroids = Seq((0, -0.5, -0.5), (1, -0.5, 0.5), (2, 0.5, -0.5), (3, 0.5, 0.5))

  /** The incremental-maintenance fixture: all train rows keyed, split
    * into a base batch and a ~25% delta batch by a deterministic
    * predicate (shared by x_index_append and x_index_lifecycle so the
    * two can never drift apart). */
  private def baseDeltaSplit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val keyed = Tables.lineitem(s, d).filter(trainPred)
      .select(col("l_orderkey"), keyCol.as("key"), targetCol.as("pred"))
    (keyed.filter(col("l_orderkey") % 4 =!= 0).select("key", "pred"),
     keyed.filter(col("l_orderkey") % 4 === 0).select("key", "pred"))
  }

  /** Probe the full lineitem table with `model`, rounded to 6 decimals
    * — the declared serve shape shared by the probe-family queries. */
  private def probeAll(s: SparkSession, d: String, model: KvModel): DataFrame =
    model.probe(Tables.lineitem(s, d), keyCol, "prediction")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("prediction"), 6).as("prediction"))

  // -------------------------- queries --------------------------------

  val defs: Map[String, Q] = Map(
    // Calibration audit of the learned index (the ML-ops reliability
    // diagram a served probability model owes its users): the cascade's
    // predictions bin into centiles, and each bin reports observed
    // positive rate next to mean predicted probability — a
    // well-calibrated index has the two close, and a miscalibrated
    // fallback tier shows up as its bins drifting. All arithmetic
    // exact: per-row predictions round to 6 decimals (the cascade's
    // serve contract), accumulate as integer MICROS (a float sum over
    // a bin would be partial-agg-order dependent), and each rate is
    // ONE final division. One extra aggregation over the existing
    // probe plan — no new shuffles beyond the bin groupBy.
    "m_calibration" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val train = li.filter(trainPred)
        .select(keyCol.as("key"), targetCol.as("pred"))
      val model = KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
      model.probe(li, keyCol, "prediction")
        .select(round(col("prediction"), 6).as("p"), targetCol.as("y"))
        .select(
          least(floor(col("p") * 100).cast("long"), lit(99L)).as("bin"),
          round(col("p") * 1000000).cast("long").as("p_micros"),
          col("y").cast("long").as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum("p_micros").as("sum_p_micros"),
          sum("y").as("n_pos"))
        .select(col("bin"), col("n"), col("sum_p_micros"), col("n_pos"),
          (col("n_pos").cast("double") / col("n").cast("double")).as("observed_rate"),
          expr("(CAST(sum_p_micros AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)").as("mean_predicted"))
    }),

    // Train/serve drift audit (the second MLOps diagnostic next to
    // m_calibration): the key's leading feature (quantity bins —
    // drift HERE is what silently degrades the cascade, because
    // translate routes on it) compared between the TRAIN population
    // and the full serve population, per bin: counts, shares, and the
    // chi-square-style contribution (serve_share − train_share)² /
    // train_share. Every share is ONE division of exact integers and
    // each contribution is a fixed per-row chain, so there is no
    // order-dependent float SUM anywhere — the per-bin rows ARE the
    // diagnostic (a monitoring system thresholds the max). Two
    // map-side-combined aggregations + a 4-row broadcast join.
    "m_drift_bins" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val binCol = NumericBins(qtySplits.toArray).toColumn(col("l_quantity"))
      val trainC = li.filter(trainPred).groupBy(binCol.as("bin"))
        .agg(count(lit(1)).as("n_train"))
      val serveC = li.groupBy(binCol.as("bin"))
        .agg(count(lit(1)).as("n_serve"))
      // r16 (guide §1.2): the two global totals rode as two standalone
      // driver actions before the real plan ran; now they are 1-row
      // aggregates broadcast-cross-joined into the same plan — one
      // action total, identical values (exact integer sums).
      val totals = trainC.agg(sum("n_train").as("t_total"))
        .crossJoin(serveC.agg(sum("n_serve").as("s_total")))
      serveC.join(trainC, Seq("bin"), "left")
        .crossJoin(broadcast(totals))
        .select(col("bin"), coalesce(col("n_train"), lit(0L)).as("n_train"), col("n_serve"),
          col("t_total"), col("s_total"))
        .withColumn("train_share",
          expr("CAST(n_train AS DOUBLE) / CAST(t_total AS DOUBLE)"))
        .withColumn("serve_share",
          expr("CAST(n_serve AS DOUBLE) / CAST(s_total AS DOUBLE)"))
        .withColumn("drift_contrib", expr(
          """CASE WHEN n_train = 0 THEN CAST('Infinity' AS DOUBLE)
            |     ELSE (serve_share - train_share) * (serve_share - train_share) / train_share
            |END""".stripMargin))
        .drop("t_total", "s_total")
    }),

    // §2.9 — the InferDB operator: translate + exact probe + field-wise
    // prefix fallback + global fallback, via the real KvModel.
    "x29_inferdb_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val train = li.filter(trainPred)
        .select(keyCol.as("key"), targetCol.as("pred"))
      val model = KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
      model.probe(li, keyCol, "prediction")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // T12 — class-balance reweighting (transpiler.py:3080-3081): kv
    // values scaled min(v*ratio, 1) BEFORE prefix aggregation, so the
    // whole fallback cascade serves reweighted values.
    "t12_balance_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val train = li.filter(trainPred)
        .select(keyCol.as("key"), targetCol.as("pred"))
      val model = KvIndexBuilder.buildFromKeyed(
        train, keyLen = 3, Task.Classification, balanceRatio = Some(2.5))
      model.probe(li, keyCol, "prediction")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // Incremental index maintenance (VERDICT r7 stretch #6): the train
    // rows arrive as a BASE batch plus a ~25% DELTA batch; the index is
    // built from base sufficient statistics and the delta is APPENDED
    // (one partial aggregate + key-keyed merge — the base never
    // rescans), then served. The oracle rebuilds the kv over base ∪
    // delta from scratch, so a green hash IS the append ≡ rebuild
    // proof. The mergeable-stats shape is what turns a daily 100 TB
    // ingest from an O(corpus) retrain into an O(delta) merge.
    "x_index_append" -> ((s, d) => {
      val (base, delta) = baseDeltaSplit(s, d)
      val model = KvIndexState.build(base, keyLen = 3, Task.Classification)
        .append(delta)
        .toModel()
      probeAll(s, d, model)
    }),

    // The CROSS-SESSION ingest lifecycle (the t_lsh_index_lifecycle
    // pattern applied to the learned index): today's sufficient
    // statistics PERSIST to parquet, "tomorrow" reloads them and
    // appends the delta batch, and the merged index serves. Sums and
    // counts round-trip parquet exactly, so the oracle — the
    // from-scratch rebuild over base ∪ delta — proves
    // save → load → append ≡ rebuild in one green hash.
    "x_index_lifecycle" -> ((s, d) => {
      val (base, delta) = baseDeltaSplit(s, d)
      val dir = TmpDirs.scratch("kv_state", d)
      Persist.saveState(KvIndexState.build(base, keyLen = 3, Task.Classification), dir)
      val model = Persist.loadState(s, dir).append(delta).toModel()
      probeAll(s, d, model)
    }),

    // A9 — the precomputed prefix-aggregate tables themselves.
    "a9_prefix_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val kv = li.filter(trainPred)
        .groupBy(keyCol.as("key"))
        .agg(avg(targetCol).as("value"))
      kv.groupBy(Keys.prefix(col("key"), 2).as("prefix"))
        .agg(round(avg("value"), 6).as("value"))
    }),

    // A3 — classification Information Value of the key grouping, plus
    // per-feature single IVs, scored the way the greedy selector scores:
    // one round for both single IVs, one with b_qty kept for the joint.
    "a3_iv_classification" -> ((s, d) => {
      val li  = Tables.lineitem(s, d).select(
        NumericBins(qtySplits.toArray).toColumn(col("l_quantity")).as("b_qty"),
        NumericBins(discSplits.toArray).toColumn(col("l_discount")).as("b_disc"),
        targetCol.as("y")).cache()
      val single = IV.jointIvs(li, Nil, Seq("b_qty", "b_disc"), "y", Task.Classification)
      val joint = IV.jointIvs(li, Seq("b_qty"), Seq("b_disc"), "y", Task.Classification)
      li.unpersist()
      import s.implicits._
      Seq(("b_qty", single("b_qty")), ("b_disc", single("b_disc")), ("joint", joint("b_disc")))
        .toDF("feature", "iv")
        .select(col("feature"), round(col("iv"), 6).as("iv"))
    }),

    // A4 — regression IV variant, one round.
    "a4_iv_regression" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        NumericBins(qtySplits.toArray).toColumn(col("l_quantity")).as("b_qty"),
        col("l_extendedprice").as("y"))
      val iv = IV.jointIvs(li, Nil, Seq("b_qty"), "y", Task.Regression)("b_qty")
      import s.implicits._
      Seq(("b_qty", iv)).toDF("feature", "iv")
        .select(col("feature"), round(col("iv"), 6).as("iv"))
    }),

    // Linear model scoring, fused expression (F8/F9, J3 collapsed).
    "m_linear_score" -> ((s, d) => {
      val m = LinearModel(linCoefs, linIntercept)
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(m.predictProba(linTermsCol), 6).as("proba"))
    }),

    // F8 — crazy_exp quirk surface (x<0 -> 0 clamp, overflow clamp).
    "f8_crazy_exp" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(Fns.crazyExp(col("l_quantity") / 10.0 - 2.0), 6).as("cexp"))),

    // MLP scoring, fused (no COO, no shuffle) — weights shared with SQL.
    "m_mlp_score" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        round(mlp.predictProba(Seq(
          col("l_quantity"), col("l_extendedprice") / 1000.0,
          col("l_discount"), col("l_tax"))), 6).as("proba"))),

    // J3 — the reference-shaped COO GEMM join over unnested vectors.
    "j3_coo_gemm" -> ((s, d) => {
      val gemmCoefs = (1 to 64).map(i => ((i % 7) - 3) * 0.1)
      val m = LinearModel(gemmCoefs.toArray, 0.25)
      val coo = Tables.embeddings(s, d)
        .select(col("vec_id").as("row_id"), posexplode(col("embedding")).as(Seq("col_id", "val")))
      m.cooGemm(coo, s)
        .select(col("row_id").as("vec_id"), col("z"))
    }),

    // W3/T7 — nearest-centroid assignment (KMeans predict) as a
    // broadcast-free min_by over literal centroids.
    "w3_kmeans_assign" -> ((s, d) => {
      val x = col("embedding").getItem(0).cast("double")
      val y = col("embedding").getItem(1).cast("double")
      val assigned = centroids.map { case (id, cx, cy) =>
        struct(((x - cx) * (x - cx) + (y - cy) * (y - cy)).as("dist"), lit(id).as("cid"))
      }
      Tables.embeddings(s, d).select(
        col("vec_id"),
        array_min(array(assigned: _*)).getField("cid").as("cluster"))
    }),

    // A7 — confusion-matrix aggregate over the linear scorer.
    "a7_confusion" -> ((s, d) => {
      val m = LinearModel(linCoefs, linIntercept)
      val scored = Tables.lineitem(s, d).select(
        m.predictProba(linTermsCol).as("proba"), targetCol.as("target"))
      // Ratios of integer counts are pure scalar FP division — bit-identical
      // across engines, so no rounding (round() itself diverges at halves).
      Metrics.binaryReport(scored, col("proba"), col("target"))
        .select(col("tp"), col("tn"), col("fp"), col("fn"),
          col("accuracy"), col("precision"), col("recall"), col("f1"))
    }),

    // A8 — RMSLE aggregate.
    "a8_rmsle" -> ((s, d) => {
      val pred = col("l_quantity") * 25.0 + 100.0
      Metrics.rmsle(Tables.lineitem(s, d), pred, col("l_extendedprice"))
        .select(round(col("rmsle"), 6).as("rmsle"))
    }),

    // O5 — populate-paths: full bin-combination space EXCEPT observed.
    "o5_populate_paths" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val spark = s
      import spark.implicits._
      val ranges = keyFields.map { case (_, splits) => 0 to splits.length }
      val all = ranges(0).flatMap(a => ranges(1).flatMap(b => ranges(2).map(c => s"$a.$b.$c")))
        .toDF("key")
      val observed = li.filter(trainPred).select(keyCol.as("key")).distinct()
      all.except(observed)
    }),

    // O5b — populate-paths END-TO-END (transpiler.py:928-938): unfilled
    // key paths are SCORED and inserted into the kv relation, then a
    // probe over ALL rows (incl. ones whose key was never observed)
    // resolves them as exact hits — the fallback cascade never fires.
    // The path scorer here is a FIXED linear form over the bin indices
    // so the whole operator is SQL-expressible and hash-checked; the
    // trained-encoded-model variant (Config.populatePaths) is asserted
    // in PipelineSpec.
    "o5b_populated_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val train = li.filter(trainPred)
        .select(keyCol.as("key"), targetCol.cast("double").as("pred"))
      val spark = s
      import spark.implicits._
      val ranges = keyFields.map { case (_, splits) => 0 to splits.length }
      val all = ranges(0).flatMap(a => ranges(1).flatMap(b => ranges(2).map(c =>
        (a.toLong, b.toLong, c.toLong, s"$a.$b.$c"))))
        .toDF("b0", "b1", "b2", "key")
      val populated = all.join(train.select("key").distinct(), Seq("key"), "left_anti")
        .select(col("key"),
          least(lit(1.0), (col("b0") * 3 + col("b1") * 2 + col("b2")) * 0.05).as("pred"))
      val model = KvIndexBuilder.buildFromKeyed(
        train.unionByName(populated), keyLen = 3, Task.Classification)
      model.probe(li, keyCol, "prediction")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // T6 — filling degree: distinct observed paths / full key space.
    "t6_filling_degree" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val total = keyFields.map(_._2.length + 1).product
      li.filter(trainPred).agg(
        countDistinct(keyCol).as("distinct_paths"),
        lit(total.toLong).as("total_paths"),
        round(countDistinct(keyCol).cast("double") / total, 6).as("filling_degree"))
    }),

    // Generalization-on-dirty-data microbench (SURVEY §5): NULLs are
    // synthesized on the probe side; translate routes them to the
    // overflow bin -> unseen keys -> the fallback cascade answers them
    // (the reference's dirty-csv experiment, generalization.py).
    "x_dirty_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val train = li.filter(trainPred)
        .select(keyCol.as("key"), targetCol.as("pred"))
      val model = KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
      // dirty probe frame: ~10% of quantities and discounts nulled
      val dirty = li.select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
        when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
        col("l_tax"))
      model.probe(dirty, keyCol, "prediction")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // §3.3/§3.4 — the query-integration shape: featurize (datetime +
    // geo + grid bucket) + outlier imputation + route-frequency lookup
    // join + model score + selection predicate + aggregation, ALL in
    // one fused plan (the reference materializes three views for
    // this; Catalyst fuses it into scan -> project -> broadcast joins
    // -> partial/final agg).
    "x33_query_integration" -> ((s, d) => {
      import graft.featurize._
      val e = Tables.events(s, d)
      val lat = (col("user_id") % 180) - 90.0
      val lon = (col("user_id") % 360) - 180.0
      // composed featurizers (graft.featurize): geo + datetime + T9
      // imputation, all one fused projection
      val fz = GeoFeaturizer(lat, lon, 40.7, -74.0)
        .andThen(DateTimeFeaturizer(col("ts")))
        .andThen(OutlierImputer(col("value"), 0.0, 40.0, lit(10.0) + col("user_id") % 5))
      val featurized = fz(e)
      val freq = e.groupBy(col("event_type").as("ft"), Fns.pgDow(col("ts")).as("fd"))
        .agg(count(lit(1)).as("route_n"))
      val z = col("f_imputed") * 0.05 + col("f_dist_km") / 10000.0 + col("f_hour") * 0.01 - 1.2
      val scored = featurized
        .join(broadcast(freq),
          col("event_type") === col("ft") && col("f_dow") === col("fd"), "left")
        .select(col("value"), col("f_dow").as("dow"), col("f_grid").as("grid"),
          coalesce(col("route_n"), lit(0L)).as("route_n"),
          Fns.sigmoidRef(z).as("score"))
      scored.filter(col("score") > 0.5)
        .groupBy("dow", "grid")
        .agg(count(lit(1)).as("cnt"),
          (sum(round(col("value") * 1000).cast("long")) / 1000.0).as("sum_value"),
          max("route_n").as("max_route_n"))
    }),

    // F7 — spherical geo distance (serve-side SQL formula).
    "f7_geo_distance" -> ((s, d) => {
      val lat = col("c_acctbal") / 200.0
      val lon = (col("c_custkey") % 360) - 180.0
      Tables.customer(s, d).select(
        col("c_custkey"),
        round(Fns.sphericalDistanceKm(lat, lon, lit(40.7), lit(-74.0)), 4).as("dist_km"))
    })
  )

  // ----------------------- oracle SQL --------------------------------

  private val keySql = SqlGen.keyExpr(keyFields)
  private val prefix2Sql = "substr(key, 1, length(key) - position('.' IN reverse(key)))"

  private def ivSql(binExpr: String): String =
    s"""(SELECT sum(((ln(n - s + 0.5) - ln(tot_n - tot_s)) - (ln(s + 0.5) - ln(tot_s)))
       |            * ((n - s) / (tot_n - tot_s) - s / tot_s))
       | FROM (SELECT $binExpr AS b, count(*)::DOUBLE AS n, sum($targetSql) AS s
       |       FROM lineitem GROUP BY 1) bins
       | CROSS JOIN (SELECT count(*)::DOUBLE AS tot_n, sum($targetSql) AS tot_s
       |             FROM lineitem) t)""".stripMargin

  private val linearSql = SqlGen.linear(linTermsSql, linCoefs.toIndexedSeq, linIntercept)

  private val mlpSql: String = {
    val ins = Seq("l_quantity", "l_extendedprice / 1000.0", "l_discount", "l_tax")
    val hidden = (0 until 3).map { j =>
      SqlGen.relu(SqlGen.linear(ins, mlp.w0.map(_(j)).toIndexedSeq, mlp.b0(j)))
    }
    SqlGen.sigmoidRef(SqlGen.linear(hidden, mlp.w1.map(_(0)).toIndexedSeq, mlp.b1(0)))
  }

  /** The from-scratch index rebuild + probe over ALL train rows — ONE
    * definition serving as the oracle for x29_inferdb_probe (fresh
    * build), x_index_append (append ≡ rebuild) and x_index_lifecycle
    * (save → load → append ≡ rebuild): the three queries construct the
    * same index three different ways, so they share the one rebuild
    * truth and can never drift apart. */
  private val rebuildProbeSql: String =
    s"""WITH kv AS (
       |  SELECT $keySql AS key, avg($targetSql) AS value
       |  FROM lineitem WHERE $trainPredSql GROUP BY 1),
       |p2 AS (SELECT $prefix2Sql AS prefix, avg(value) AS value FROM kv GROUP BY 1),
       |p1 AS (SELECT split_part(key, '.', 1) AS prefix, avg(value) AS value FROM kv GROUP BY 1),
       |g AS (SELECT avg(value) AS value FROM kv),
       |probe AS (SELECT l_orderkey, l_linenumber, $keySql AS key FROM lineitem)
       |SELECT p.l_orderkey, p.l_linenumber,
       |  round(coalesce(kv.value, p2.value, p1.value, g.value), 6) AS prediction
       |FROM probe p
       |LEFT JOIN kv ON p.key = kv.key
       |LEFT JOIN p2 ON substr(p.key, 1, length(p.key) - position('.' IN reverse(p.key))) = p2.prefix
       |LEFT JOIN p1 ON split_part(p.key, '.', 1) = p1.prefix
       |CROSS JOIN g""".stripMargin

  val oracle: Map[String, String] = Map(
    "m_calibration" ->
      s"""WITH kv AS (
         |  SELECT $keySql AS key, avg($targetSql) AS value
         |  FROM lineitem WHERE $trainPredSql GROUP BY 1),
         |p2 AS (SELECT $prefix2Sql AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |p1 AS (SELECT split_part(key, '.', 1) AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |g AS (SELECT avg(value) AS value FROM kv),
         |probe AS (SELECT $keySql AS key, CAST($targetSql AS BIGINT) AS y FROM lineitem),
         |scored AS (
         |  SELECT round(coalesce(kv.value, p2.value, p1.value, g.value), 6) AS p, p.y
         |  FROM probe p
         |  LEFT JOIN kv ON p.key = kv.key
         |  LEFT JOIN p2 ON substr(p.key, 1, length(p.key) - position('.' IN reverse(p.key))) = p2.prefix
         |  LEFT JOIN p1 ON split_part(p.key, '.', 1) = p1.prefix
         |  CROSS JOIN g),
         |b AS (SELECT least(CAST(floor(p * 100) AS BIGINT), 99) AS bin,
         |        CAST(round(p * 1000000) AS BIGINT) AS p_micros, y FROM scored)
         |SELECT bin, count(*) AS n, sum(p_micros)::BIGINT AS sum_p_micros,
         |  sum(y)::BIGINT AS n_pos,
         |  sum(y)::DOUBLE / count(*)::DOUBLE AS observed_rate,
         |  (CAST(sum(p_micros)::BIGINT AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE) AS mean_predicted
         |FROM b GROUP BY bin""".stripMargin,
    "m_drift_bins" -> {
      val binSql = SqlGen.binCase("l_quantity", qtySplits)
      s"""WITH tr AS (SELECT $binSql AS bin, count(*) AS n_train
         |            FROM lineitem WHERE $trainPredSql GROUP BY 1),
         |sv AS (SELECT $binSql AS bin, count(*) AS n_serve FROM lineitem GROUP BY 1),
         |tt AS (SELECT sum(n_train)::BIGINT AS t_total FROM tr),
         |st AS (SELECT sum(n_serve)::BIGINT AS s_total FROM sv)
         |SELECT sv.bin, COALESCE(tr.n_train, 0)::BIGINT AS n_train, sv.n_serve::BIGINT AS n_serve,
         |  CAST(COALESCE(tr.n_train, 0) AS DOUBLE) / CAST(t_total AS DOUBLE) AS train_share,
         |  CAST(sv.n_serve AS DOUBLE) / CAST(s_total AS DOUBLE) AS serve_share,
         |  CASE WHEN COALESCE(tr.n_train, 0) = 0 THEN CAST('Infinity' AS DOUBLE)
         |       ELSE (CAST(sv.n_serve AS DOUBLE) / CAST(s_total AS DOUBLE)
         |             - CAST(COALESCE(tr.n_train, 0) AS DOUBLE) / CAST(t_total AS DOUBLE))
         |            * (CAST(sv.n_serve AS DOUBLE) / CAST(s_total AS DOUBLE)
         |               - CAST(COALESCE(tr.n_train, 0) AS DOUBLE) / CAST(t_total AS DOUBLE))
         |            / (CAST(COALESCE(tr.n_train, 0) AS DOUBLE) / CAST(t_total AS DOUBLE))
         |  END AS drift_contrib
         |FROM sv LEFT JOIN tr ON sv.bin = tr.bin CROSS JOIN tt CROSS JOIN st""".stripMargin
    },
    "x29_inferdb_probe" -> rebuildProbeSql,
    "x_index_append" -> rebuildProbeSql,
    "x_index_lifecycle" -> rebuildProbeSql,
    "t12_balance_probe" ->
      s"""WITH kv AS (
         |  SELECT $keySql AS key,
         |    least(avg($targetSql) * CAST(2.5 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS value
         |  FROM lineitem WHERE $trainPredSql GROUP BY 1),
         |p2 AS (SELECT $prefix2Sql AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |p1 AS (SELECT split_part(key, '.', 1) AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |g AS (SELECT avg(value) AS value FROM kv),
         |probe AS (SELECT l_orderkey, l_linenumber, $keySql AS key FROM lineitem)
         |SELECT p.l_orderkey, p.l_linenumber,
         |  round(coalesce(kv.value, p2.value, p1.value, g.value), 6) AS prediction
         |FROM probe p
         |LEFT JOIN kv ON p.key = kv.key
         |LEFT JOIN p2 ON substr(p.key, 1, length(p.key) - position('.' IN reverse(p.key))) = p2.prefix
         |LEFT JOIN p1 ON split_part(p.key, '.', 1) = p1.prefix
         |CROSS JOIN g""".stripMargin,
    "a9_prefix_agg" ->
      s"""WITH kv AS (
         |  SELECT $keySql AS key, avg($targetSql) AS value
         |  FROM lineitem WHERE $trainPredSql GROUP BY 1)
         |SELECT $prefix2Sql AS prefix, round(avg(value), 6) AS value FROM kv GROUP BY 1""".stripMargin,
    "a3_iv_classification" ->
      s"""SELECT 'b_qty' AS feature, round(${ivSql(SqlGen.binCase("l_quantity", qtySplits))}, 6) AS iv
         |UNION ALL
         |SELECT 'b_disc', round(${ivSql(SqlGen.binCase("l_discount", discSplits))}, 6)
         |UNION ALL
         |SELECT 'joint', round(${ivSql(SqlGen.binCase("l_quantity", qtySplits) + " || '.' || " + SqlGen.binCase("l_discount", discSplits))}, 6)""".stripMargin,
    "a4_iv_regression" ->
      s"""SELECT 'b_qty' AS feature, round((
         |  SELECT sum(abs(m - gm) * n / gn)
         |  FROM (SELECT ${SqlGen.binCase("l_quantity", qtySplits)} AS b,
         |               count(*)::DOUBLE AS n, avg(l_extendedprice) AS m
         |        FROM lineitem GROUP BY 1) bins
         |  CROSS JOIN (SELECT avg(l_extendedprice) AS gm, count(*)::DOUBLE AS gn
         |              FROM lineitem) t), 6) AS iv""".stripMargin,
    "m_linear_score" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  round(${SqlGen.sigmoidRef(linearSql)}, 6) AS proba
         |FROM lineitem""".stripMargin,
    "f8_crazy_exp" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  round(${SqlGen.crazyExp("l_quantity / 10.0 - 2.0")}, 6) AS cexp
         |FROM lineitem""".stripMargin,
    "m_mlp_score" ->
      s"""SELECT l_orderkey, l_linenumber, round($mlpSql, 6) AS proba
         |FROM lineitem""".stripMargin,
    "j3_coo_gemm" -> {
      val coefVals = (1 to 64).map(i => s"(${i - 1}, ${((i % 7) - 3) * 0.1})").mkString(", ")
      s"""WITH coef(col_id, w) AS (VALUES $coefVals),
         |coo AS (
         |  SELECT vec_id AS row_id, i - 1 AS col_id, embedding[i]::DOUBLE AS val
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  WHERE embedding[i] <> 0)
         |SELECT row_id AS vec_id,
         |  list_reduce(list_prepend(0.0, list(val * w ORDER BY col_id)), (a, b) -> a + b)
         |    + 0.25 AS z
         |FROM coo JOIN coef USING (col_id)
         |GROUP BY row_id""".stripMargin
    },
    "w3_kmeans_assign" -> {
      val cents = centroids.map { case (id, cx, cy) => s"($id, $cx, $cy)" }.mkString(", ")
      s"""WITH c(cid, cx, cy) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        (embedding[1]::DOUBLE - cx) * (embedding[1]::DOUBLE - cx)
         |      + (embedding[2]::DOUBLE - cy) * (embedding[2]::DOUBLE - cy) AS dist
         |      FROM embeddings CROSS JOIN c)
         |SELECT vec_id, cid AS cluster FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d) WHERE rn = 1""".stripMargin
    },
    "a7_confusion" ->
      s"""WITH scored AS (
         |  SELECT round(${SqlGen.sigmoidRef(linearSql)}) AS p, $targetSql AS t
         |  FROM lineitem)
         |SELECT
         |  -- ::BIGINT: DuckDB sum() yields HUGEINT, which pandas renders as
         |  -- float64 and the driver's hash then sees 4521.0 vs Spark's 4521.
         |  sum(CASE WHEN p = 1 AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         |  sum(CASE WHEN p = 0 AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
         |  sum(CASE WHEN p = 1 AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         |  sum(CASE WHEN p = 0 AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         |  (tp + tn)::DOUBLE / (tp + tn + fp + fn) AS accuracy,
         |  (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fp) END) AS precision,
         |  (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fn) END) AS recall,
         |  -- Single-division algebraic form: 2*p*r/(p+r) is multi-op FP and
         |  -- differs from Spark in the last ulp under full-precision hashing.
         |  (CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
         |        ELSE (2 * tp)::DOUBLE / (2 * tp + fp + fn) END) AS f1
         |FROM scored""".stripMargin,
    "a8_rmsle" ->
      """SELECT round(sqrt(sum(pow(ln(l_quantity * 25.0 + 100.0 + 1) - ln(l_extendedprice + 1), 2))
        |  / count(*)), 6) AS rmsle
        |FROM lineitem""".stripMargin,
    "o5_populate_paths" ->
      s"""WITH all_keys AS (
         |  SELECT a.i || '.' || b.i || '.' || c.i AS key
         |  FROM generate_series(0, ${discSplits.length}) a(i),
         |       generate_series(0, ${taxSplits.length}) b(i),
         |       generate_series(0, ${qtySplits.length}) c(i)),
         |observed AS (
         |  SELECT DISTINCT $keySql AS key FROM lineitem WHERE $trainPredSql)
         |SELECT key FROM all_keys EXCEPT SELECT key FROM observed""".stripMargin,
    "o5b_populated_probe" ->
      s"""WITH kv AS (
         |  SELECT $keySql AS key, avg($targetSql) AS value
         |  FROM lineitem WHERE $trainPredSql GROUP BY 1),
         |all_keys AS (
         |  SELECT a.i::BIGINT AS b0, b.i::BIGINT AS b1, c.i::BIGINT AS b2,
         |         a.i || '.' || b.i || '.' || c.i AS key
         |  FROM generate_series(0, ${discSplits.length}) a(i),
         |       generate_series(0, ${taxSplits.length}) b(i),
         |       generate_series(0, ${qtySplits.length}) c(i)),
         |pop AS (
         |  SELECT key, least(CAST(1.0 AS DOUBLE),
         |    (b0 * 3 + b1 * 2 + b2) * CAST(0.05 AS DOUBLE)) AS value
         |  FROM all_keys WHERE key NOT IN (SELECT key FROM kv)),
         |kva AS (SELECT key, value FROM kv UNION ALL SELECT key, value FROM pop),
         |probe AS (SELECT l_orderkey, l_linenumber, $keySql AS key FROM lineitem)
         |SELECT p.l_orderkey, p.l_linenumber, round(kva.value, 6) AS prediction
         |FROM probe p JOIN kva ON p.key = kva.key""".stripMargin,
    "t6_filling_degree" -> {
      val total = keyFields.map(_._2.length + 1).product
      s"""SELECT count(DISTINCT $keySql) AS distinct_paths,
         |  $total::BIGINT AS total_paths,
         |  round(count(DISTINCT $keySql)::DOUBLE / $total, 6) AS filling_degree
         |FROM lineitem WHERE $trainPredSql""".stripMargin
    },
    "x_dirty_probe" -> {
      val dirtyQty  = "(CASE WHEN l_orderkey % 10 = 0 THEN NULL ELSE l_quantity END)"
      val dirtyDisc = "(CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_discount END)"
      // NULL-aware bin: comparisons with NULL are false -> overflow bin,
      // mirrored explicitly for DuckDB (CASE on NULL falls to ELSE too).
      val dKey = Seq(
        SqlGen.binCase(dirtyDisc, discSplits),
        SqlGen.binCase("l_tax", taxSplits),
        SqlGen.binCase(dirtyQty, qtySplits)).mkString(" || '.' || ")
      s"""WITH kv AS (
         |  SELECT $keySql AS key, avg($targetSql) AS value
         |  FROM lineitem WHERE $trainPredSql GROUP BY 1),
         |p2 AS (SELECT $prefix2Sql AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |p1 AS (SELECT split_part(key, '.', 1) AS prefix, avg(value) AS value FROM kv GROUP BY 1),
         |g AS (SELECT avg(value) AS value FROM kv),
         |probe AS (SELECT l_orderkey, l_linenumber, $dKey AS key FROM lineitem)
         |SELECT p.l_orderkey, p.l_linenumber,
         |  round(coalesce(kv.value, p2.value, p1.value, g.value), 6) AS prediction
         |FROM probe p
         |LEFT JOIN kv ON p.key = kv.key
         |LEFT JOIN p2 ON substr(p.key, 1, length(p.key) - position('.' IN reverse(p.key))) = p2.prefix
         |LEFT JOIN p1 ON split_part(p.key, '.', 1) = p1.prefix
         |CROSS JOIN g""".stripMargin
    },
    "x33_query_integration" -> {
      val lat = "((user_id % 180) - 90.0)"
      val lon = "((user_id % 360) - 180.0)"
      val dist = s"""(acos(least(1.0, greatest(-1.0,
                   |  sin(radians($lat)) * sin(radians(40.7))
                   |  + cos(radians($lat)) * cos(radians(40.7))
                   |    * cos(radians(-74.0 - $lon))))) * 6371.0)""".stripMargin
      // mirror BOTH imputer bounds (value < 0 too) — testdata happens to
      // have no negative values, but the oracle must match the operator
      val vImp = "(CASE WHEN value < 0.0 OR value > 40.0 THEN 10.0 + user_id % 5 ELSE value END)"
      val grid = s"(CAST(floor(($lat + 90.0) / 45.0) * 10 + floor(($lon + 180.0) / 90.0) AS BIGINT))"
      val z = s"($vImp * 0.05 + $dist / 10000.0 + hour(ts) * 0.01 - 1.2)"
      s"""WITH freq AS (
         |  SELECT event_type AS ft, dayofweek(ts) AS fd, count(*) AS route_n
         |  FROM events GROUP BY 1, 2),
         |scored AS (
         |  SELECT dayofweek(e.ts) AS dow, $grid AS grid, e.value,
         |    coalesce(f.route_n, 0) AS route_n,
         |    ${SqlGen.sigmoidRef(z)} AS score
         |  FROM events e LEFT JOIN freq f
         |    ON e.event_type = f.ft AND dayofweek(e.ts) = f.fd)
         |SELECT dow, grid, count(*) AS cnt,
         |  sum(CAST(round(value * 1000) AS BIGINT)) / 1000.0 AS sum_value,
         |  max(route_n) AS max_route_n
         |FROM scored WHERE score > 0.5
         |GROUP BY dow, grid""".stripMargin
    },
    "f7_geo_distance" ->
      """SELECT c_custkey,
        |  round(acos(least(1.0, greatest(-1.0,
        |    sin(radians(c_acctbal / 200.0)) * sin(radians(40.7))
        |    + cos(radians(c_acctbal / 200.0)) * cos(radians(40.7))
        |      * cos(radians(-74.0 - ((c_custkey % 360) - 180.0)))))) * 6371.0, 4) AS dist_km
        |FROM customer""".stripMargin
  )
}
