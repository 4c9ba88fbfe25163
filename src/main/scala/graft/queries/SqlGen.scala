package graft.queries

import graft.core.{BinSpec, CategoricalBins, NumericBins}

/** DuckDB-oracle SQL generators kept in lockstep with the Spark-side
  * expression builders (graft.core.Binning / graft.models.*) — the
  * splits/coefficients/weights constants are shared, so both sides are
  * generated from ONE source of truth.
  */
object SqlGen {

  /** Double literal that reads back the EXACT bits of `d`: VARCHAR cast,
    * because a BARE decimal literal types DECIMAL first and that detour
    * mis-rounds ~10% of 17-digit doubles by one ulp (see
    * IvfQueries.litArr, where this was measured). */
  def dlit(d: Double): String = s"'$d'::DOUBLE"

  /** Escaped VARCHAR literal. */
  def slit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** CASE-chain bin index — mirrors NumericBins.toColumn exactly
    * (first split strictly greater wins; NULL/overflow -> len). */
  def binCase(c: String, splits: Seq[Double]): String =
    if (splits.isEmpty) "0"
    else splits.zipWithIndex.map { case (s, i) => s"WHEN $c < $s THEN $i" }
      .mkString("(CASE ", " ", s" ELSE ${splits.length} END)")

  /** Compound key: '.'-joined bin indices (Keys.keyColumn). */
  def keyExpr(colsAndSplits: Seq[(String, Seq[Double])]): String =
    colsAndSplits.map { case (c, s) => binCase(c, s) }
      .mkString(" || '.' || ")

  /** Linear combination Σ w_i·term_i + b — mirrors LinearModel.linearExpr
    * including zero-coefficient pruning. */
  def linear(terms: Seq[String], coefs: Seq[Double], intercept: Double): String = {
    val ts = terms.zip(coefs).collect { case (t, w) if w != 0.0 => s"($t) * $w" }
    (if (ts.isEmpty) "0.0" else ts.mkString(" + ")) + s" + $intercept"
  }

  /** Overflow-clamped exp — mirrors Fns.crazyExp. */
  def crazyExp(x: String): String =
    s"(CASE WHEN ($x) < 0 THEN 0.0 WHEN ($x) < 700 THEN exp($x) ELSE exp(700) END)"

  /** Reference sigmoid 1/(1+crazy_exp(-z)) — mirrors Fns.sigmoidRef. */
  def sigmoidRef(z: String): String =
    s"(1.0 / (1.0 + ${crazyExp(s"-($z)")}))"

  def relu(z: String): String = s"greatest(0.0, $z)"

  /** Linear combination with EXACT-BITS coefficient literals — for
    * FITTED coefficients (see [[dlit]]); same zero-pruning and
    * left-associated term order as the Column builders. */
  def linearExact(terms: Seq[String], coefs: Seq[Double], intercept: Double): String = {
    require(terms.length == coefs.length,
      s"linearExact: ${terms.length} terms vs ${coefs.length} coefs — recorded literals drifted from the model layout")
    val ts = terms.zip(coefs).collect { case (t, w) if w != 0.0 => s"($t) * ${dlit(w)}" }
    (if (ts.isEmpty) "0.0" else ts.mkString(" + ")) + s" + ${dlit(intercept)}"
  }

  /** CASE-chain bin index with exact-bits split literals — for FITTED
    * splits (approxQuantile outputs are data values, so boundary hits
    * are guaranteed and a 1-ulp literal detour would flip bins). Same
    * semantics as [[binCase]] / NumericBins.toColumn. */
  def binCaseExact(c: String, splits: Seq[Double]): String =
    if (splits.isEmpty) "0"
    else splits.zipWithIndex.map { case (s, i) => s"WHEN $c < ${dlit(s)} THEN $i" }
      .mkString("(CASE ", " ", s" ELSE ${splits.length} END)")

  /** Fitted-categorical bin index — mirrors CategoricalBins.toColumn
    * (map lookup; NULL/unseen -> its overflow bin). */
  def catCase(c: String, bins: CategoricalBins): String =
    if (bins.mapping.isEmpty) bins.overflow.toString
    else bins.mapping.toSeq.sortBy(_._1)
      .map { case (v, i) => s"WHEN ${slit(v)} THEN $i" }
      .mkString(s"(CASE $c ", " ", s" ELSE ${bins.overflow} END)")

  /** Bin expression for any fitted BinSpec over SQL expression `c`. */
  def binSql(spec: BinSpec, c: String): String = spec match {
    case NumericBins(splits)   => binCaseExact(c, splits.toSeq)
    case cat: CategoricalBins  => catCase(c, cat)
  }

  /** Spark's round(col, 6) semantics driver-side (RoundBase on
    * DoubleType: scala BigDecimal HALF_UP) — the fitted-probe oracle
    * embeds PRE-rounded value literals so DuckDB never rounds at all. */
  def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Oracle SQL for a FITTED fused-MLP class prediction
    * ([[graft.models.MlpModel.predictClass]]): hidden layer, output
    * units, then first-index argmax — generated from the same extracted
    * weights the Spark projection serves, each as an exact-bits double
    * literal, with the SAME term order/association and zero-weight
    * pruning as the Column builder. The only cross-engine FP risk is
    * exp() (1-ulp divergence could flip a near-exact argmax tie — not
    * observed on trained nets; m_mlp_score has the same exposure). */
  def mlpClassSql(
      m: graft.models.MlpModel,
      featSql: Seq[String],
      idCols: Seq[String],
      table: String,
      predName: String): String = {
    // one network construction — the lifecycle-row oracle composes the
    // same parts, so a future network-SQL change cannot diverge them
    val (ctes, classExpr) = mlpClassParts(m, featSql, table)
    val ids = idCols.mkString(", ")
    s"""WITH $ctes
       |SELECT $ids, $classExpr AS $predName
       |FROM mz""".stripMargin
  }

  /** Oracle SQL for a FITTED multiclass softmax-LR class prediction
    * ([[graft.queries.LearnedQueries.softmaxClassExpr]]): per-class raw
    * margin z_k = w_k·x + b_k from exact-bits literals with the SAME
    * term order / zero-weight pruning as the Column builder, then the
    * same first-index argmax. Comparison-only beyond the dot products
    * themselves — no exp/softmax in either engine (softmax is monotone,
    * so the raw argmax IS the class), which removes the 1-ulp
    * transcendental risk mlpClassSql carries. */
  def softmaxClassSql(
      coefs: Array[Array[Double]],
      intercepts: Array[Double],
      featSql: Seq[String],
      idCols: Seq[String],
      table: String,
      predName: String): String = {
    val zs = coefs.zip(intercepts).map { case (w, b) =>
      linearExact(featSql, w.toSeq, b)
    }
    val ids = idCols.mkString(", ")
    s"""WITH z AS (SELECT $ids, [${zs.mkString(", ")}] AS zs FROM $table)
       |SELECT $ids,
       |  (list_position(zs, list_aggregate(zs, 'max')) - 1)::BIGINT AS $predName
       |FROM z""".stripMargin
  }

  /** Oracle SQL for the FITTED sample-kNN binary class vote
    * ([[graft.plans.KnnRef]] semantics): per input row, the k nearest
    * sample points by (squared distance asc, label asc) — `list_sort`
    * over per-sample structs reproduces the insertion sort's top-k
    * exactly (the boundary duplicate-skip is multiset-equivalent) —
    * then a binary majority. Distances mirror the kernel's
    * left-associated Σ diff² fold with exact-bits literals. Only valid
    * for 0/1 labels and odd k (no vote ties); callers guard. */
  def knnClassSql(
      sample: Seq[(Seq[Double], Double)],
      k: Int,
      featSql: Seq[String],
      idCols: Seq[String],
      table: String,
      predName: String): String = {
    val structs = sample.map { case (f, l) =>
      val dist = featSql.zip(f).map { case (fx, sv) =>
        s"($fx - ${dlit(sv)}) * ($fx - ${dlit(sv)})"
      }.mkString(" + ")
      s"{'d': $dist, 'l': ${dlit(l)}}"
    }
    val ids = idCols.mkString(", ")
    s"""WITH t AS (
       |  SELECT $ids,
       |    list_sort([${structs.mkString(", ")}])[1:$k] AS top
       |  FROM $table)
       |SELECT $ids,
       |  (CASE WHEN len([x FOR x IN top IF x.l = 1.0]) * 2 > $k
       |        THEN 1 ELSE 0 END)::BIGINT AS $predName
       |FROM t""".stripMargin
  }

  /** Oracle SQL for the IVF-probed kNN vote
    * ([[graft.plans.IvfKnnRef]] semantics): the index STRUCTURE
    * (centroids + each sample point's cell) is fitted literals, so the
    * oracle replays only the SERVE — per row, rank the centroid
    * distances as (d asc, index asc) structs and keep the first
    * `nprobe` cell ids, filter the cell-tagged candidate structs to
    * those cells, then the same (d asc, label asc) sort + majority the
    * exact-kNN oracle uses. `len(top)` (not k) in the majority: probed
    * cells can hold fewer than k members, and the kernel votes over
    * the filled prefix. Same guards as [[knnClassSql]]: 0/1 labels,
    * odd k. */
  def ivfKnnClassSql(
      sample: Seq[(Seq[Double], Double)],
      k: Int,
      centroids: Array[Array[Double]],
      cellOf: Array[Int],
      nprobe: Int,
      featSql: Seq[String],
      idCols: Seq[String],
      table: String,
      predName: String): String = {
    def distSql(f: Seq[Double]): String =
      featSql.zip(f).map { case (fx, sv) =>
        s"($fx - ${dlit(sv)}) * ($fx - ${dlit(sv)})"
      }.mkString(" + ")
    val centStructs = centroids.zipWithIndex.map { case (cf, i) =>
      s"{'d': ${distSql(cf.toSeq)}, 'i': $i}"
    }
    val candStructs = sample.zipWithIndex.map { case ((f, l), n) =>
      s"{'d': ${distSql(f)}, 'l': ${dlit(l)}, 'c': ${cellOf(n)}}"
    }
    val ids = idCols.mkString(", ")
    s"""WITH p AS (
       |  SELECT $ids,
       |    [x.i FOR x IN list_sort([${centStructs.mkString(", ")}])[1:$nprobe]] AS probed,
       |    [${candStructs.mkString(", ")}] AS cand
       |  FROM $table),
       |t AS (
       |  SELECT $ids,
       |    list_sort([{'d': x.d, 'l': x.l} FOR x IN cand IF list_contains(probed, x.c)])[1:$k] AS top
       |  FROM p)
       |SELECT $ids,
       |  (CASE WHEN len([x FOR x IN top IF x.l = 1.0]) * 2 > len(top)
       |        THEN 1 ELSE 0 END)::BIGINT AS $predName
       |FROM t""".stripMargin
  }

  /** Sorted top-k neighbor list expression — the shared core of the
    * kNN serve forms: structs sort by (distance, label), matching
    * KnnRef's deterministic (d asc, l asc) ranking. */
  def knnTopSql(sample: Seq[(Seq[Double], Double)], k: Int, featSql: Seq[String]): String = {
    val structs = sample.map { case (f, l) =>
      val dist = featSql.zip(f).map { case (fx, sv) =>
        s"($fx - ${dlit(sv)}) * ($fx - ${dlit(sv)})"
      }.mkString(" + ")
      s"{'d': $dist, 'l': ${dlit(l)}}"
    }
    s"list_sort([${structs.mkString(", ")}])[1:$k]"
  }

  /** kNN majority-vote class as an EXPRESSION (0/1 labels, odd k —
    * [[knnClassSql]]'s guard set); ties to the smaller label via `>`. */
  def knnClassExpr(sample: Seq[(Seq[Double], Double)], k: Int, featSql: Seq[String]): String =
    s"(CASE WHEN len([x FOR x IN ${knnTopSql(sample, k, featSql)} IF x.l = 1.0]) * 2 > $k THEN 1 ELSE 0 END)"

  /** kNN regression vote as an EXPRESSION: mean of the k nearest labels
    * summed in (d, l) order — KnnRef.vote's exact fold. */
  def knnRegExpr(sample: Seq[(Seq[Double], Double)], k: Int, featSql: Seq[String]): String =
    s"(list_reduce(list_prepend(0.0, [x.l FOR x IN ${knnTopSql(sample, k, featSql)}]), (a, v) -> a + v) / $k)"

  /** Oracle SQL for the fitted KV-index serve path (`Fitted.transform`
    * + round to 6 decimals): translate raw columns through the FITTED
    * bin specs, probe VALUES-inlined kv/prefix tables, coalesce to the
    * global fallback — the exact relational plan the reference
    * transpiles a trained index into (src/transpiler.py:1101-1293),
    * generated here from the same fitted literals the Spark plan
    * serves. Returns None (driver degrades to rows-only) if nothing was
    * selected or the key space exceeds `maxEntries` — the VALUES list
    * must stay driver/parser-bounded.
    *
    * @param featSql feature name -> SQL expression over `table`
    *                (identity when absent).
    */
  /** The fitted-probe oracle split into composable pieces:
    * (cte block `probe AS (...), kv(...), pfx…`, final probe SELECT) —
    * so callers can either run the probe standalone
    * ([[fittedProbeSql]]) or embed it as one CTE of a larger
    * re-derivation (the learned-lifecycle report oracles). */
  def fittedProbeParts(
      f: graft.InferDbPipeline.Fitted,
      table: String,
      idCols: Seq[String],
      featSql: Map[String, String],
      predName: String,
      maxEntries: Int = 4096,
      ctePrefix: String = ""): Option[(String, String)] = {
    if (f.selected.isEmpty || f.kv.kvCount > maxEntries) return None
    // the index's own string keys: one collect of its (len, key, value) rows
    val byLen = f.kv.index.select("len", "key", "value").collect().toSeq.sortBy(_.getString(1))
      .groupMap(_.getInt(0))(r => r.getString(1) -> r.getDouble(2)).withDefaultValue(Seq.empty)
    val pfxRows = (f.kv.keyLen - 1 to 1 by -1).map(l => l -> byLen(l))
    def values(name: String, rows: Seq[(String, Double)]) =
      s"$name(k, v) AS (VALUES ${rows.map { case (k, v) =>
        s"(${slit(k)}, ${dlit(round6(v))})" }.mkString(", ")})"
    val comps = f.selected.zipWithIndex.map { case (feat, i) =>
      s"(${binSql(f.bins(feat), featSql.getOrElse(feat, feat))}) AS b$i"
    }
    def keyOf(n: Int) = (0 until n).map(i => s"p.b$i").mkString(" || '.' || ")
    val pfxCtes = pfxRows.map { case (l, rows) => values(s"${ctePrefix}pfx$l", rows) }
    val pfxJoins = pfxRows.map { case (l, _) =>
      s"LEFT JOIN ${ctePrefix}pfx$l ON ${keyOf(l)} = ${ctePrefix}pfx$l.k"
    }
    val fallbacks = s"${ctePrefix}kv.v" +: pfxRows.map { case (l, _) => s"${ctePrefix}pfx$l.v" }
    val ctes =
      s"""${ctePrefix}probe AS (
         |  SELECT ${(idCols ++ comps).mkString(", ")} FROM $table),
         |${(values(s"${ctePrefix}kv", byLen(f.kv.keyLen)) +: pfxCtes).mkString(",\n")}""".stripMargin
    val select =
      s"""SELECT ${idCols.map(c => s"p.$c").mkString(", ")},
         |  coalesce(${fallbacks.mkString(", ")}, ${dlit(round6(f.kv.globalValue))}) AS $predName
         |FROM ${ctePrefix}probe p
         |LEFT JOIN ${ctePrefix}kv ON ${keyOf(f.selected.length)} = ${ctePrefix}kv.k
         |${pfxJoins.mkString("\n")}""".stripMargin
    Some((ctes, select))
  }

  def fittedProbeSql(
      f: graft.InferDbPipeline.Fitted,
      table: String,
      idCols: Seq[String],
      featSql: Map[String, String],
      predName: String,
      maxEntries: Int = 4096): Option[String] =
    fittedProbeParts(f, table, idCols, featSql, predName, maxEntries)
      .map { case (ctes, select) => s"WITH $ctes\n$select" }

  /** [[linearExact]] as a list fold — same left-associated order and
    * the same bits, but O(1) parser depth (a flat 784-term `a + b + …`
    * chain exceeds DuckDB's binder recursion limit). Zero-weight terms
    * are KEPT: that matches the model's full dot product (x*0.0 adds
    * ±0.0, which is bitwise-neutral in the fold). */
  def linearExactList(terms: Seq[String], coefs: Seq[Double], intercept: Double): String = {
    require(terms.length == coefs.length,
      s"linearExactList: ${terms.length} terms vs ${coefs.length} coefs — recorded literals drifted from the model layout")
    val prods = terms.zip(coefs).map { case (t, w) => s"($t) * ${dlit(w)}" }
    s"(list_reduce(list_prepend(0.0, [${prods.mkString(", ")}]), (a, v) -> a + v) + ${dlit(intercept)})"
  }

  /** [[mlpClassSql]]'s network split into composable pieces: CTE block
    * (`mh` hidden layer, `mz` output margins — both carrying `src`'s
    * columns through) + the argmax class expression over `zs`, so the
    * MLP class can be one column of a larger re-derivation. */
  def mlpClassParts(m: graft.models.MlpModel, featSql: Seq[String], src: String): (String, String) = {
    val hExprs = m.b0.indices.map { j =>
      val terms = featSql.zipWithIndex.collect {
        case (f, i) if m.w0(i)(j) != 0.0 => s"$f * ${dlit(m.w0(i)(j))}"
      }
      val z = (if (terms.isEmpty) "0.0" else terms.mkString(" + ")) +
        s" + ${dlit(m.b0(j))}"
      if (m.hiddenActivation == "sigmoid") s"(1.0 / (1.0 + exp(-($z))))"
      else relu(z)
    }
    val outs = m.b1.indices.map { k =>
      val terms = m.b0.indices.collect {
        case j if m.w1(j)(k) != 0.0 => s"h$j * ${dlit(m.w1(j)(k))}"
      }
      (if (terms.isEmpty) "0.0" else terms.mkString(" + ")) + s" + ${dlit(m.b1(k))}"
    }
    val ctes =
      s"""mh AS (SELECT *, ${hExprs.zipWithIndex.map { case (e, j) => s"$e AS h$j" }.mkString(", ")}
         |  FROM $src),
         |mz AS (SELECT *, [${outs.mkString(", ")}] AS zs FROM mh)""".stripMargin
    (ctes, "(list_position(zs, list_aggregate(zs, 'max')) - 1)::BIGINT")
  }

  /** Binary-report F1 in the single-division algebraic form over
    * integer counter SQL — mirrors Metrics.binaryReport bit for bit. */
  def f1Sql(tp: String, fp: String, fn: String): String =
    s"(CASE WHEN 2 * $tp + $fp + $fn = 0 THEN 0.0 ELSE (2 * $tp)::DOUBLE / (2 * $tp + $fp + $fn) END)"

  /** floor(x·1e6 + 0.5)/1e6 — the metric-rounding form both engines
    * reproduce on identical input bits. */
  def floorRound6(x: String): String = s"floor(($x) * 1000000 + 0.5) / 1000000"
  def floorRound4(x: String): String = s"floor(($x) * 10000 + 0.5) / 10000"
}
