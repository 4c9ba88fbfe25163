package graft.queries

import graft.Tables
import graft.core.{IV, Task}
import graft.models.{LinearModel, MultiClassLinearModel}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 operator coverage: multi-class IV (A5),
  * multi-aggregate featurizer fits (A10), categorical array-position
  * translate (F12), IQR outlier imputation (T9 serve side), multi-class
  * linear argmax (W2 model variant), and the MLlib featurizer fits
  * (T7 KMeans / T8 PCA — train-time, fitted-literal oracles).
  */
object ExtraQueries {
  type Q = (SparkSession, String) => DataFrame

  // 3-class linear model with fixed coefficients (shared with SQL).
  private val mcClasses = Array(0L, 1L, 2L)
  private val mcModels = Array(
    LinearModel(Array(0.02, -0.5), -0.3),
    LinearModel(Array(-0.01, 1.2), 0.1),
    LinearModel(Array(0.005, 0.4), -0.2))
  private val mcTermsSql = Seq("l_quantity", "l_discount")

  // T9: fixed IQR bounds + replacement regression (fitted literals).
  private val (qLo, qHi) = (5.0, 45.0) // quantity [q25-3IQR, q75+3IQR]-style bounds
  private val t9 = LinearModel(Array(0.0002), 10.0) // predict qty from extendedprice

  // 20 splits -> NumericBins routes through the codegen'd BinIndex
  // binary-search expression (constant code size; SURVEY §7.4 risk #8).
  private val wideSplits: Seq[Double] = (1 to 20).map(_ * 4500.0)

  /** Frequent-pairs basket cap: baskets above this size are truncated
    * to their cap lowest partkeys BEFORE the pair self-join, bounding
    * the per-basket fan-out at cap²/2 regardless of data. 32 never
    * binds on the synthetic lineitem (baskets ≤ 13) but kills the
    * pathological-basket hazard at 100 TB. */
  private[queries] val MaxBasket = 32

  /** The capped pair-support plan shared by t_frequent_pairs and
    * FrequentPairsSpec (which exercises a BINDING cap). `items` is
    * (l_orderkey, l_partkey) rows — duplicates allowed (the basket
    * pass dedupes, so callers never pay a separate DISTINCT shuffle).
    *
    * r13 rewrite (VERDICT r12 Next #1d — 20.5x/decade at the 100x
    * corpus): the r12 form paid a full-data range+sort window for the
    * cap and then a keyed SELF-JOIN (a second read of the capped
    * frame) before the pair fan-out. Now ONE hash exchange co-locates
    * each basket, an in-shard (l_orderkey, l_partkey) sort makes
    * baskets contiguous-ascending, and a streaming pass emits the i<j
    * pairs directly — distinct (duplicates are adjacent), the cap
    * (ascending arrival = the cap LOWEST partkeys, bit-identical to
    * the old row_number(ORDER BY l_partkey) <= cap), and the pair
    * fan-out all in O(cap) memory, no window, no join, no second
    * read. mapPartitions clears the §2.10 last-resort bar on
    * MEASUREMENT: the declarative twin (a bounded collect aggregate +
    * array pair expansion) runs on ObjectHashAggregate, whose 128-key
    * sort fallback re-sorts the corpus map-side and whose per-group
    * buffer serde churns — 39 s at the 100x corpus vs 31 s for the
    * r12 window form; raising the fallback threshold globally is
    * unsafe for the text-packing collect_list. Worst case per basket
    * stays cap²/2 pairs REGARDLESS of basket size, enforced in-plan;
    * one pathological million-item basket costs cap longs of memory,
    * not a basket-sized sort buffer. */
  private[queries] def frequentPairs(items: DataFrame, cap: Int): DataFrame = {
    val shard = items.select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_partkey")
    val outSchema = org.apache.spark.sql.types.StructType(Array(
      org.apache.spark.sql.types.StructField("part_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("part_b",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bufCap = math.min(cap, 1 << 20) // spec's Int.MaxValue "uncapped"
    val pairs = shard.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.Row] {
        private val buf = new Array[Long](bufCap)
        private var n = 0            // basket fill (<= cap)
        private var curKey = 0L      // current basket's orderkey
        private var started = false
        private var newVal = 0L      // value pairing against buf(0..pendN)
        private var pendI = 0        // next pair index to emit
        private var pendN = 0        // pairs pending for newVal
        def hasNext: Boolean = {
          while (pendI >= pendN && it.hasNext) {
            val r = it.next()
            val k = r.getLong(0); val p = r.getLong(1)
            if (!started || k != curKey) { started = true; curKey = k; n = 0 }
            // sorted basket: duplicates adjacent; cap keeps the
            // ascending (= lowest) first `cap` distinct partkeys
            // (bufCap bounds the "uncapped" Int.MaxValue twin too)
            if (n < bufCap && (n == 0 || buf(n - 1) != p)) {
              newVal = p; pendN = n; pendI = 0
              buf(n) = p; n += 1
            }
          }
          pendI < pendN
        }
        def next(): org.apache.spark.sql.Row = {
          val a = buf(pendI); pendI += 1
          org.apache.spark.sql.Row(a, newVal)
        }
      }
    }(enc)
    pairs.groupBy("part_a", "part_b").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  val defs: Map[String, Q] = Map(
    // T3 wide-binning via the custom BinIndex Catalyst expression.
    "t3_wide_bins" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.core.NumericBins(wideSplits.toArray)
          .toColumn(col("l_extendedprice")).as("price_bin"))),

    // A5 — multi-class IV via per-class one-vs-rest sum, one round.
    "a5_iv_multiclass" -> ((s, d) => {
      val li = Tables.events(s, d).select(
        (col("user_id") % 4).as("b"),
        (when(col("event_type") === "click", 0L)
          .when(col("event_type") === "view", 1L)
          .otherwise(2L)).as("y"))
      val iv = IV.jointIvs(li, Nil, Seq("b"), "y", Task.MultiClass)("b")
      import s.implicits._
      Seq(("user_mod4", math.rint(iv * 1e6) / 1e6)).toDF("feature", "iv")
    }),

    // A10 — featurizer-fit multi-aggregate dictionary per group.
    "a10_multi_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          (sum(round(col("value") * 1000).cast("long")) / 1000.0).as("sum_value"),
          min("value").as("min_value"),
          max("value").as("max_value"),
          countDistinct("user_id").as("n_users"))),

    // F12 — categorical -> embedding index via array position.
    "f12_array_position" -> ((s, d) => {
      val cats = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      Tables.orders(s, d).select(
        col("o_orderkey"),
        (array_position(lit(cats), col("o_orderpriority")) - 1).as("priority_idx"))
    }),

    // T9 — IQR outlier imputation: outliers replaced by a fitted
    // per-feature regression on the remaining features.
    "t9_outlier_impute" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < qLo || col("l_quantity") > qHi,
          t9.linearExpr(Seq(col("l_extendedprice"))))
          .otherwise(col("l_quantity")).as("qty_imputed"))),

    // W2 model variant — multi-class linear scores + first-max argmax.
    "m_multiclass_linear" -> ((s, d) => {
      val m = MultiClassLinearModel(mcClasses, mcModels)
      val terms = Seq(col("l_quantity"), col("l_discount"))
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        m.predictExpr(terms).as("pred_class"))
    }),

    // A7 macro variant — macro-averaged multi-class report over the
    // multi-class linear scorer vs a 3-class derived target.
    "m_macro_report" -> ((s, d) => {
      val m = MultiClassLinearModel(mcClasses, mcModels)
      val scored = Tables.lineitem(s, d).select(
        m.predictExpr(Seq(col("l_quantity"), col("l_discount"))).as("p"),
        when(col("l_returnflag") === "R", 0L)
          .when(col("l_returnflag") === "A", 1L).otherwise(2L).as("t"))
      graft.metrics.Metrics.macroReport(scored, col("p"), col("t"))
        .select(round(col("macro_precision"), 6).as("macro_precision"),
          round(col("macro_recall"), 6).as("macro_recall"),
          round(col("macro_f1"), 6).as("macro_f1"))
    }),

    // Beyond parity: single-pass column profiling — the ANALYZE /
    // table-statistics op every warehouse runs before planning (row
    // count, exact distincts, null counts, min/max) in ONE aggregation
    // with map-side partials. Exact count_distinct shuffles by value;
    // at 100 TB the sketch path is a12_approx_distinct — this is the
    // exact form the optimizer trusts for small dimensions.
    "a13_profile" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("l_orderkey")).as("orderkey_distinct"),
        count_distinct(col("l_returnflag")).as("rflag_distinct"),
        sum(col("l_quantity").isNull.cast("long")).as("qty_nulls"),
        min("l_quantity").as("qty_min"), max("l_quantity").as("qty_max"),
        min("l_shipdate").as("ship_min"), max("l_shipdate").as("ship_max"))),

    // Beyond parity: rollup aggregation (reporting cubes at scale).
    "a12_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))),

    // Beyond parity: HLL approximate distinct (the 100 TB cardinality
    // tool). The sketch's internals differ across engines, so the
    // RECORDED check (VERDICT r8 Next #2) is the error-bound invariant:
    // the row carries the exact cardinalities (DuckDB re-counts them)
    // plus a per-column boolean pinning the HLL estimate within 4×rsd
    // of exact — deterministic for this data+seed, and a sketch
    // regression flips the hashed boolean, failing the gate loudly.
    "a12_approx_distinct" -> ((s, d) => {
      // r16 (guide §2.3/§2.4): the old single agg mixed TWO exact
      // count_distincts with the HLL sketches, which plans as
      // Expand (3 rows per input row) -> partial agg keyed on
      // (gid, partkey, orderkey) -> two exchanges; 600 k rows became
      // 1.8 M expanded rows before the first partial. Split instead:
      // the HLL pass stays ONE map-side-combining agg over the raw
      // rows (no Expand), and the exact side dedups (tag, value) rows
      // map-side — ~167 k distinct rows reach its one exchange. Same
      // four values bit for bit (exact integer counts; HLL unchanged —
      // same column traversal order within each scan), so the declared
      // row and its oracle are untouched (r16 before/after in
      // OPTIMIZATION_r16.md).
      val li = Tables.lineitem(s, d)
      val r = li.agg(
        approx_count_distinct("l_partkey").as("ap"),
        approx_count_distinct("l_orderkey").as("ao")).head()
      val (ap, ao) = (r.getLong(0), r.getLong(1))
      val ex = li.select(lit(0).as("t"), col("l_partkey").as("v"))
        .unionAll(li.select(lit(1).as("t"), col("l_orderkey").as("v")))
        // count_distinct skips NULLs; the dedup form must too (no-op on
        // this data, kept so the forms are equivalent on ANY input)
        .where(col("v").isNotNull)
        .distinct().groupBy("t").agg(count(lit(1)).as("n"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
      // empty input yields no (tag, n) rows at all — count_distinct
      // would have returned 0, so the dedup form must too
      val (ep, eo) = (ex.getOrElse(0, 0L), ex.getOrElse(1, 0L))
      // default rsd 0.05 → 4×rsd = 20% relative slack (loose on purpose:
      // the check must hold at every SF, not just the tuned one)
      def ok(est: Long, exact: Long): Boolean =
        math.abs(est - exact) <= math.max(4L, math.ceil(0.2 * exact).toLong)
      require(ok(ap, ep), s"HLL partkey estimate $ap too far from exact $ep")
      require(ok(ao, eo), s"HLL orderkey estimate $ao too far from exact $eo")
      import s.implicits._
      Seq((ep, eo, ok(ap, ep), ok(ao, eo)))
        .toDF("exact_parts", "exact_orders", "approx_parts_ok", "approx_orders_ok")
    }),

    // Beyond parity: EXACT second moments at scale — mean/variance/
    // stddev of money without FP drift. A naive sum-of-doubles varies
    // with partial-aggregation order (a 1000-executor reduce tree
    // reorders millions of adds); here the sufficient statistics are
    // EXACT integers — cents as BIGINT (< 2^53, safe in the final
    // double conversions), squared cents as DECIMAL(38,0) (1.5e19 at
    // sf0.1 overflows BIGINT; decimal addition is associative-exact,
    // so the sums are partition-invariant) — and only the FINAL
    // moment arithmetic is floating point, in one fixed-order chain
    // both engines reproduce bitwise. The map-side-combined single
    // pass is the Welford-equivalent for distributed execution.
    "a16_exact_variance" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cents = round(col("l_extendedprice") * 100).cast("long")
      li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(cents).as("sum_cents"),
        sum(cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")).as("sumsq_dec"))
        .select(col("l_returnflag"), col("n"), col("sum_cents"),
          expr("""CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0""").as("mean"),
          expr("""(CAST(sumsq_dec AS DOUBLE)
                 | - CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE))
                 | / CAST(n - 1 AS DOUBLE) / 10000.0""".stripMargin).as("variance"))
    }),

    // Beyond parity: market-basket frequent pairs (the support-count
    // core of association mining, and the co-occurrence statistic
    // behind co-occurrence embeddings): top-100 part pairs by how many
    // orders contain both. Scale shape (r13 — see [[frequentPairs]],
    // whose doc carries the full design + the measurement that
    // rejected the aggregate twin): ONE hash exchange co-locates each
    // basket, an in-shard (l_orderkey, l_partkey) sort makes baskets
    // contiguous-ascending, and a streaming mapPartitions pass emits
    // the distinct i<j pairs directly — dedup (duplicates adjacent),
    // the MaxBasket cap (ascending arrival = the cap LOWEST partkeys),
    // and the pair fan-out fused in O(cap) memory, CAP ENFORCED
    // IN-PLAN (VERDICT r9 #3) — no window, no self-join. One
    // pathological million-item basket can never detonate a task:
    // worst case per basket is MaxBasket²/2 pairs.
    // Baskets here are ≤13, so at test SFs the cap never binds and the
    // result equals the uncapped query (FrequentPairsSpec pins both
    // halves: cap-not-binding equality AND binding-cap stability). The
    // pair groupBy partial-aggregates map-side; top-k = TakeOrdered.
    // Duplicate lineitems of one part count their basket once (the
    // streaming pass dedupes). (support desc, a, b) is a total order,
    // so LIMIT is deterministic.
    "t_frequent_pairs" -> ((s, d) => {
      // no .distinct(): the streaming basket pass dedupes inside the
      // same (and only) exchange — duplicate lineitems of one part
      // still count their basket once
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      frequentPairs(items, MaxBasket)
    }),

    // Beyond parity: ordered funnel analysis (click → error →
    // purchase, strictly in that time order per user) — the
    // sequential-pattern query cohorts and sessionization don't
    // answer. Each step is "first qualifying event AFTER the previous
    // step's time": a user-keyed min-aggregation chained through a
    // user-keyed join — per-step cost is one shuffle on user_id, never
    // a per-user sort or cross product, and the chain length (not the
    // data) bounds the number of passes. Integer epoch-µs comparisons
    // throughout; output is the one-row conversion summary, assembled
    // as one plan (three 1-row aggs cross-joined — the j6 scalar
    // shape), no driver loop.
    "t_funnel_steps" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      def firstAfter(evType: String, prev: DataFrame, prevCol: String): DataFrame =
        e.filter(col("event_type") === evType)
          .join(prev, Seq("user_id"))
          .filter(col("us") > col(prevCol))
          .groupBy("user_id").agg(min(col("us")).as(s"min_$evType"))
      val c = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("us")).as("min_click"))
      val er = firstAfter("error", c, "min_click")
      val p = firstAfter("purchase", er, "min_error")
      c.agg(count(lit(1)).as("users_click"))
        .crossJoin(er.agg(count(lit(1)).as("users_then_error")))
        .crossJoin(p.agg(count(lit(1)).as("users_then_purchase")))
    }),

    // Beyond parity: retention cohorts (the product-analytics staple):
    // users grouped by first-activity day, activity counted per
    // (cohort_day, day_offset). NO self-join: the cohort day is a
    // per-user min (one map-side-combined agg over |users| keys), the
    // offset is integer date arithmetic after a broadcast-sized join
    // back — two passes total at any scale. Days are integer
    // epoch-day buckets (µs div 86400e6) so retries and the oracle
    // agree exactly.
    "t_retention_cohorts" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"))
      val cohorts = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      e.join(cohorts, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("active_users"),
          count(lit(1)).as("events"))
    }),

    // Beyond parity: declarative data-quality constraints (the
    // Deequ-style expectations pass a production corpus runs before
    // training): completeness, uniqueness, a cross-column consistency
    // invariant, a domain check, and a range check — ALL evaluated in
    // ONE map-side-combined aggregation pass (conditional sums over a
    // single scan; |checks| is the row count, never the data), then
    // unpivoted to one row per check. At 100 TB the alternative —
    // one query per expectation — scans the corpus five times; this
    // shape scans it once. Integer counters throughout; the oracle is
    // the same checks in SQL, so the hash also re-proves the corpus
    // invariants the other queries rely on (unique doc_id, n_chars
    // consistency, known langs).
    "a15_constraints" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val agg = docs.agg(
        count(lit(1)).as("n"),
        sum(col("doc_id").isNull.cast("long")).as("null_id"),
        count_distinct(col("doc_id")).as("distinct_id"),
        sum((col("n_chars") =!= length(col("text"))).cast("long")).as("bad_len"),
        sum((!col("lang").isin("de", "en", "es", "fr", "zh")).cast("long")).as("bad_lang"),
        sum((col("n_chars") <= 0L).cast("long")).as("bad_range"))
      agg.select(explode(array(
        struct(lit("doc_id_complete").as("check"), col("n").as("n_checked"),
          col("null_id").as("n_violations")),
        struct(lit("doc_id_unique").as("check"), col("n").as("n_checked"),
          (col("n") - col("distinct_id")).as("n_violations")),
        struct(lit("n_chars_consistent").as("check"), col("n").as("n_checked"),
          col("bad_len").as("n_violations")),
        struct(lit("lang_in_domain").as("check"), col("n").as("n_checked"),
          col("bad_lang").as("n_violations")),
        struct(lit("n_chars_positive").as("check"), col("n").as("n_checked"),
          col("bad_range").as("n_violations")))).as("c"))
        .select("c.check", "c.n_checked", "c.n_violations")
    }),

    // Beyond parity: approximate quantiles — the fourth sketch of the
    // 100 TB kit (HLL cardinality / bloom membership / CMS frequency /
    // quantile sketch here). Exact percentiles (w5_percentile) need a
    // per-group sort; the Greenwald-Khanna sketch behind
    // approx_percentile is one mergeable pass with an eps rank
    // guarantee — the only viable form when the column has billions of
    // rows. Sketch values are engine-specific, but
    // the rank guarantee is asserted loudly in-query: each estimate
    // must sit within eps·n ranks of the requested quantile (checked
    // against the exact sorted positions, driver-bounded: 3 quantiles
    // × |groups|). Deterministic: GK is insertion-order-dependent in
    // general, but Spark's implementation merges per-partition
    // summaries with a fixed compression threshold and the audit
    // (compare_runs) pins partition-invariance empirically for this
    // data — a violation would fail the round's determinism gate, not
    // slip through.
    "w5b_approx_quantile" -> ((s, d) => {
      val eps = 0.01
      val li = Tables.lineitem(s, d)
      val res = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(l_quantity, array(0.25D, 0.5D, 0.9D), ${(1 / eps).toInt})")
          .as("approx"))
        .select(col("l_returnflag"), col("n"),
          col("approx").getItem(0).as("p25"),
          col("approx").getItem(1).as("p50"),
          col("approx").getItem(2).as("p90"))
      // rank-guarantee audit: for each group and quantile, the exact
      // rank of the estimate must be within eps*n of q*n. The audit
      // verdicts are the RECORDED check (VERDICT r8 Next #2): sketch
      // values differ across engines, so the declared row carries the
      // DuckDB-recountable group size plus one hashed boolean per
      // quantile — a guarantee violation flips the boolean (and throws).
      // All |groups|×|quantiles| rank checks run as ONE broadcast-joined
      // scan (the per-check filter/count form cost 18 driver jobs and
      // was the row's entire 1.3 s bench time).
      val rows = res.collect()
      import s.implicits._
      val checks = rows.flatMap { r =>
        Seq((r.getString(0), 0.25, r.getDouble(2)),
            (r.getString(0), 0.5, r.getDouble(3)),
            (r.getString(0), 0.9, r.getDouble(4)))
      }.toSeq.toDF("l_returnflag", "q", "est")
      val audit = li.select(col("l_returnflag"), col("l_quantity"))
        .join(broadcast(checks), Seq("l_returnflag"))
        .groupBy("l_returnflag", "q", "est")
        .agg(sum((col("l_quantity") <= col("est")).cast("long")).as("below"),
          // plateau correction: ties can push the <=-rank far right
          sum((col("l_quantity") === col("est")).cast("long")).as("ties"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> (r.getLong(3), r.getLong(4)))
        .toMap
      val out = rows.map { r =>
        val flag = r.getString(0); val n = r.getLong(1)
        val oks = Seq(0.25 -> r.getDouble(2), 0.5 -> r.getDouble(3), 0.9 -> r.getDouble(4))
          .map { case (q, est) =>
            val (below, ties) = audit((flag, q))
            val slack = (eps * n).ceil.toLong + 1
            val pass = math.abs(below - q * n) <= slack + ties
            require(pass,
              s"approx_percentile broke its rank guarantee: group $flag q=$q est=$est rank=$below of $n")
            pass
          }
        (flag, n, oks(0), oks(1), oks(2))
      }
      out.toSeq.toDF("l_returnflag", "n", "p25_ok", "p50_ok", "p90_ok")
    }),

    // Beyond parity: count-min-sketch heavy hitters — the third sketch
    // of the 100 TB trio (HLL = a12_approx_distinct for cardinality,
    // bloom = t_decontaminate_bloom for membership, CMS here for
    // frequency). The sketch aggregates distributed (mergeable counter
    // matrix, map-side combined; ~80 KB at eps=1e-3), bytes collect
    // once, and the driver probes it for the exact top-20 tokens —
    // at scale this is how per-token frequencies are served without
    // a second corpus pass. CMS with a pinned seed is DETERMINISTIC
    // and insertion-order-independent (counters add), so the output is
    // partition-invariant; no DuckDB CMS exists, but the two
    // one-sided guarantees are asserted loudly in-query: the estimate
    // never undercounts, and overcounts by at most eps·N here (the
    // probabilistic bound holds deterministically for this seed+data —
    // a violation fails the query, not just the check).
    "a14_countmin_topk" -> ((s, d) => {
      val eps = 0.001
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(20).collect()
      val bytes = toks
        .agg(expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)").as("s"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      val slack = (eps * cms.totalCount()).ceil.toLong
      // the one-sided guarantees are the RECORDED check (VERDICT r8
      // Next #2): the estimate itself is Spark-sketch-specific, so the
      // declared row carries the exact top-20 (DuckDB re-derives it)
      // plus the hashed bounds verdict — a sketch break flips it.
      val rows = exact.map { r =>
        val (tok, tf) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(tok)
        require(est >= tf, s"CMS undercounted '$tok': $est < $tf")
        require(est <= tf + slack,
          s"CMS overcounted '$tok' beyond eps*N: $est > $tf + $slack")
        (tok, tf, est >= tf && est <= tf + slack)
      }
      import s.implicits._
      rows.toSeq.toDF("token", "tf", "cms_bounds_ok")
    }),

    // T7 — KMeans featurizer fit (MLlib, fixed seed): per-cluster
    // assignment counts. ORACLE-CHECKED (VERDICT r8 Next #2): the fitted
    // 2-D centers are recorded for the dump, and DuckDB independently
    // RE-DERIVES every assignment from those literals (argmin L2, first
    // minimum) and re-counts — the same fitted-literal oracle mechanism
    // as w3b_kmeans_fitted_assign, so the fit row is no longer a bare
    // spark row count.
    "x_kmeans_fit" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(
        col("vec_id"),
        col("embedding").getItem(0).cast("double").as("x"),
        col("embedding").getItem(1).cast("double").as("y"))
      val fv = new VectorAssembler().setInputCols(Array("x", "y")).setOutputCol("fv")
        .transform(e)
      val km = new KMeans().setK(4).setSeed(42).setFeaturesCol("fv")
        .setPredictionCol("cluster")
      val model = km.fit(fv)
      val cs = model.clusterCenters.map(_.toArray)
      kmCentersSlot.put(d, cs)
      // DECLARED assignments use the exact-arithmetic argmin over the
      // fitted literals (the oracle's own formula) — MLlib's transform
      // goes through fastSquaredDistance (norm-bound shortcut, ~1e-6
      // relative error) and could flip a Voronoi-boundary point against
      // the exact oracle; its agreement is asserted below instead, with
      // a 1-in-10k tolerance for exactly such boundary ulps.
      val exact = fv.withColumn("cluster",
        array_min(array(cs.zipWithIndex.map { case (c, k) =>
          struct(((col("x") - lit(c(0))) * (col("x") - lit(c(0)))
            + (col("y") - lit(c(1))) * (col("y") - lit(c(1)))).as("dist"),
            lit(k).as("cluster"))
        }: _*)).getField("cluster"))
      // r16 (guide §1.2 — fewer driver actions): n and the disagreement
      // count come out of ONE aggregation job instead of a count() scan
      // plus a filtered count() over the same join (the inner join on
      // unique vec_id preserves all n rows, so count(*) == fv.count()).
      val chk = exact.select(col("vec_id"), col("cluster"))
        .join(model.transform(fv).select(col("vec_id"), col("cluster").as("mcl")), "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cluster") =!= col("mcl"), 1L).otherwise(0L)).as("dis"))
        .head()
      val (n, disagree) = (chk.getLong(0), chk.getLong(1))
      require(disagree <= math.max(1L, n / 10000),
        s"MLlib assignment diverged from the exact argmin on $disagree of $n points")
      exact.groupBy("cluster").agg(count(lit(1)).as("n"))
    }),

    // T8 — PCA featurizer fit: project embeddings to 2 components.
    // ORACLE-CHECKED (VERDICT r8 Next #2): the declared projection is
    // computed from the FITTED loadings through the codegen'd
    // sequential dot product (the serve-path arithmetic both engines
    // reproduce bitwise — MLlib's BLAS gemv is not guaranteed
    // order-identical), and an in-query assert pins the MLlib transform
    // to the served values within 1e-9 so the declared row still
    // certifies the fit itself.
    "x_pca_project" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(
        col("vec_id"),
        col("embedding").getItem(0).cast("double").as("x0"),
        col("embedding").getItem(1).cast("double").as("x1"),
        col("embedding").getItem(2).cast("double").as("x2"),
        col("embedding").getItem(3).cast("double").as("x3"))
      val fv = new VectorAssembler()
        .setInputCols(Array("x0", "x1", "x2", "x3")).setOutputCol("fv").transform(e)
      val pca = new PCA().setInputCol("fv").setOutputCol("pc").setK(2).fit(fv)
      val comps = Array.tabulate(2)(j => Array.tabulate(4)(i => pca.pc(i, j)))
      pcaCompsSlot.put(d, comps)
      val arr = array(col("x0"), col("x1"), col("x2"), col("x3"))
      val both = pca.transform(fv).select(col("vec_id"),
        graft.functions.Fns.dotProduct(arr, typedLit(comps(0))).as("pc1"),
        graft.functions.Fns.dotProduct(arr, typedLit(comps(1))).as("pc2"),
        element_at(vector_to_array(col("pc")), 1).as("mpc1"),
        element_at(vector_to_array(col("pc")), 2).as("mpc2"))
      val drift = both.agg(max(greatest(abs(col("pc1") - col("mpc1")),
        abs(col("pc2") - col("mpc2")))).as("m")).head().getDouble(0)
      require(drift < 1e-9,
        s"PCA serve projection drifted $drift from the MLlib transform")
      both.select("vec_id", "pc1", "pc2")
    })
  )

  private def mcScoreSql(m: LinearModel): String =
    SqlGen.sigmoidRef(SqlGen.linear(mcTermsSql, m.coefs.toIndexedSeq, m.intercept))

  // Fitted-literal slots for the dynamic oracles (same mechanism as
  // IvfQueries: the dump runs AFTER every query, so the slots hold the
  // exact doubles the parquet outputs were computed from).
  private val kmCentersSlot = new DynOracleSlot[Array[Array[Double]]]
  private val pcaCompsSlot = new DynOracleSlot[Array[Array[Double]]]

  // exact-bits DuckDB double literal — the one shared definition
  private def dlit(x: Double): String = SqlGen.dlit(x)

  def oracle: Map[String, String] = {
    val kmFit = kmCentersSlot.only.map { cs =>
      "x_kmeans_fit" ->
        s"""WITH e AS (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings),
           |cells AS (${cs.zipWithIndex.map { case (c, k) =>
               s"SELECT vec_id, $k AS cluster, (x - ${dlit(c(0))}) * (x - ${dlit(c(0))}) + (y - ${dlit(c(1))}) * (y - ${dlit(c(1))}) AS dist FROM e"
             }.mkString(" UNION ALL ")}),
           |assigned AS (SELECT vec_id, cluster FROM (
           |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           |  FROM cells) WHERE rn = 1)
           |SELECT cluster, count(*) AS n FROM assigned GROUP BY cluster""".stripMargin
    }
    val pcaProj = pcaCompsSlot.only.map { comps =>
      def dot(c: Array[Double]) =
        s"""list_reduce(list_prepend(0.0, [z[1]::DOUBLE * z[2] FOR z IN list_zip(
           |    [embedding[1]::DOUBLE, embedding[2]::DOUBLE, embedding[3]::DOUBLE, embedding[4]::DOUBLE],
           |    [${c.map(dlit).mkString(", ")}])]), (a, v) -> a + v)""".stripMargin
      "x_pca_project" ->
        s"SELECT vec_id, ${dot(comps(0))} AS pc1, ${dot(comps(1))} AS pc2 FROM embeddings"
    }
    staticOracle ++ kmFit ++ pcaProj
  }

  private val staticOracle: Map[String, String] = Map(
    "a12_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |  count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
        |  true AS approx_parts_ok, true AS approx_orders_ok
        |FROM lineitem""".stripMargin,
    "a14_countmin_topk" ->
      """SELECT token, count(*)::BIGINT AS tf, true AS cms_bounds_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin,
    "w5b_approx_quantile" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |  true AS p25_ok, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a16_exact_variance" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_cents,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) AS sumsq_dec
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, sum_cents,
        |  CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        |  (CAST(sumsq_dec AS DOUBLE)
        |   - CAST(sum_cents AS DOUBLE) * CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE))
        |  / CAST(n - 1 AS DOUBLE) / 10000.0 AS variance
        |FROM s""".stripMargin,
    "t_frequent_pairs" ->
      s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |items AS (SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |      row_number() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS bk
        |    FROM items0) WHERE bk <= $MaxBasket)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
        |FROM items a JOIN items b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY support DESC, part_a, part_b LIMIT 100""".stripMargin,
    "t_funnel_steps" ->
      """WITH c AS (SELECT user_id, min(epoch_us(ts)) AS mc FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |er AS (SELECT e.user_id, min(epoch_us(e.ts)) AS me
        |       FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.mc
        |       WHERE e.event_type = 'error' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS mp
        |      FROM events e JOIN er ON e.user_id = er.user_id AND epoch_us(e.ts) > er.me
        |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM c) AS users_click,
        |       (SELECT count(*) FROM er) AS users_then_error,
        |       (SELECT count(*) FROM p) AS users_then_purchase""".stripMargin,
    "t_retention_cohorts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |       count(DISTINCT e.user_id) AS active_users, count(*) AS events
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "a15_constraints" ->
      """WITH a AS (SELECT count(*) AS n,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_id,
        |  count(DISTINCT doc_id) AS distinct_id,
        |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT AS bad_len,
        |  sum(CASE WHEN lang NOT IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END)::BIGINT AS bad_lang,
        |  sum(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END)::BIGINT AS bad_range
        |  FROM documents)
        |SELECT 'doc_id_complete' AS "check", n AS n_checked, null_id AS n_violations FROM a
        |UNION ALL SELECT 'doc_id_unique', n, n - distinct_id FROM a
        |UNION ALL SELECT 'n_chars_consistent', n, bad_len FROM a
        |UNION ALL SELECT 'lang_in_domain', n, bad_lang FROM a
        |UNION ALL SELECT 'n_chars_positive', n, bad_range FROM a""".stripMargin,
    "a12_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "a13_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS orderkey_distinct,
        |  count(DISTINCT l_returnflag) AS rflag_distinct,
        |  sum((l_quantity IS NULL)::BIGINT)::BIGINT AS qty_nulls,
        |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        |  min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max
        |FROM lineitem""".stripMargin,
    "t3_wide_bins" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${SqlGen.binCase("l_extendedprice", wideSplits)} AS price_bin
         |FROM lineitem""".stripMargin,
    "a5_iv_multiclass" -> {
      def yc(c: Int) = c match {
        case 0 => "(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END)"
        case 1 => "(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END)"
        case _ => "(CASE WHEN event_type NOT IN ('click', 'view') THEN 1.0 ELSE 0.0 END)"
      }
      def ivc(c: Int) =
        s"""(SELECT sum(((ln(n - s + 0.5) - ln(tot_n - tot_s)) - (ln(s + 0.5) - ln(tot_s)))
           |            * ((n - s) / (tot_n - tot_s) - s / tot_s))
           | FROM (SELECT user_id % 4 AS b, count(*)::DOUBLE AS n, sum(${yc(c)}) AS s
           |       FROM events GROUP BY 1) bins
           | CROSS JOIN (SELECT count(*)::DOUBLE AS tot_n, sum(${yc(c)}) AS tot_s
           |             FROM events) t)""".stripMargin
      s"""SELECT 'user_mod4' AS feature,
         |  round(${ivc(0)} + ${ivc(1)} + ${ivc(2)}, 6) AS iv""".stripMargin
    },
    "a10_multi_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |  sum(CAST(round(value * 1000) AS BIGINT)) / 1000.0 AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "f12_array_position" ->
      """SELECT o_orderkey,
        |  list_position(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'],
        |                o_orderpriority) - 1 AS priority_idx
        |FROM orders""".stripMargin,
    "t9_outlier_impute" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN l_quantity < $qLo OR l_quantity > $qHi
         |       THEN (l_extendedprice) * ${t9.coefs(0)} + ${t9.intercept}
         |       ELSE l_quantity END AS qty_imputed
         |FROM lineitem""".stripMargin,
    "m_macro_report" -> {
      val Seq(s0, s1, s2) = mcModels.toSeq.map(mcScoreSql)
      val predC = s"""(CASE WHEN $s0 >= $s1 AND $s0 >= $s2 THEN 0
                    |       WHEN $s1 >= $s2 THEN 1 ELSE 2 END)""".stripMargin
      val trueC = "(CASE WHEN l_returnflag = 'R' THEN 0 WHEN l_returnflag = 'A' THEN 1 ELSE 2 END)"
      s"""WITH scored AS (SELECT $predC AS p, $trueC AS t FROM lineitem),
         |labels AS (SELECT DISTINCT p AS label FROM scored
         |           UNION SELECT DISTINCT t FROM scored),
         |stats AS (SELECT label,
         |    (SELECT count(*) FROM scored WHERE p = label AND t = label) AS tp,
         |    (SELECT count(*) FROM scored WHERE p = label) AS predcnt,
         |    (SELECT count(*) FROM scored WHERE t = label) AS truecnt
         |  FROM labels),
         |f AS (SELECT label,
         |    CASE WHEN predcnt = 0 THEN 0.0 ELSE tp::DOUBLE / predcnt END AS precision,
         |    CASE WHEN truecnt = 0 THEN 0.0 ELSE tp::DOUBLE / truecnt END AS recall,
         |    CASE WHEN predcnt + truecnt = 0 THEN 0.0
         |         ELSE (2 * tp)::DOUBLE / (predcnt + truecnt) END AS f1
         |  FROM stats)
         |SELECT round(avg(precision), 6) AS macro_precision,
         |       round(avg(recall), 6) AS macro_recall,
         |       round(avg(f1), 6) AS macro_f1
         |FROM f""".stripMargin
    },
    "m_multiclass_linear" -> {
      val Seq(s0, s1, s2) = mcModels.toSeq.map(mcScoreSql)
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN $s0 >= $s1 AND $s0 >= $s2 THEN 0
         |       WHEN $s1 >= $s2 THEN 1
         |       ELSE 2 END AS pred_class
         |FROM lineitem""".stripMargin
    }
  )
}
