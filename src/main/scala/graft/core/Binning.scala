package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Supervised discretization — the train-time "encoder" of the reference
  * (src/encoder.py:22-97), re-expressed as deterministic Spark jobs.
  *
  * Bin semantics (must match src/encoder.py:113-128 exactly):
  *  - numeric: bin(v) = index of the FIRST split strictly greater than v;
  *    v >= last split  -> splits.length (overflow bin); NULL -> splits.length.
  *  - categorical: fitted map lookup; unseen or NULL -> numBins - 1.
  *
  * The fit itself (optbinning's OptimalBinning) is replaced by a
  * deterministic quantile-prebin + greedy adjacent-merge driver loop
  * (SURVEY §7.4 risk #1: reproduce the *shape* — sorted splits +
  * overflow bin — not optbinning's exact split values).
  */
sealed trait BinSpec {
  /** Number of bins including the overflow bin. */
  def numBins: Int
  /** Driver-side encode of ONE raw value — the single-row serve path
    * ([[graft.InferDbPipeline.Fitted.toLocalScorer]]). Must agree with
    * [[toColumn]] on every input incl. null/NaN. */
  def binValue(v: Any): Long
  /** Encode a raw column into its bin index (LongType). Pure Column
    * expression -> stays in whole-stage codegen; the CASE chain also
    * handles NULL via the ELSE branch exactly like the generated SQL
    * in the reference (src/transpiler.py:1122-1166).
    */
  def toColumn(c: Column): Column
}

final case class NumericBins(splits: Array[Double]) extends BinSpec {
  require(splits.sameElements(splits.sorted), "splits must be sorted ascending")
  override def numBins: Int = splits.length + 1
  override def toColumn(c: Column): Column =
    if (splits.isEmpty) lit(0L)
    else if (splits.length > NumericBins.CaseChainMax)
      // wide split arrays: O(log n) codegen'd binary search with
      // constant generated-code size (graft.plans.BinIndex) instead of
      // an O(n) when-chain that bloats codegen at MNIST scale
      // (SURVEY §7.4 risk #8). Identical semantics incl. NULL/NaN.
      graft.plans.BinIndex.column(c.cast("double"), splits)
    else {
      val chain = splits.zipWithIndex.tail.foldLeft(
        when(c < splits.head, 0L)
      ) { case (w, (s, i)) => w.when(c < s, i.toLong) }
      // NULL comparisons are never true -> ELSE, i.e. the overflow bin,
      // matching encoder.py's TypeError path.
      chain.otherwise(splits.length.toLong)
    }

  override def binValue(v: Any): Long =
    if (splits.isEmpty) 0L
    else v match {
      case null => splits.length.toLong
      case n: java.lang.Number => graft.plans.BinIndex.lookup(splits, n.doubleValue())
      // Mirror toColumn's implicit string->double cast so the driver-local
      // scorer agrees with the distributed probe on stringly-typed inputs;
      // unparseable strings fall through to the overflow (TypeError) bin.
      case other => other.toString.toDoubleOption match {
        case Some(dv) => graft.plans.BinIndex.lookup(splits, dv)
        case None => splits.length.toLong
      }
    }
}

object NumericBins {
  /** Above this many splits the when-chain gives way to BinIndex. The
    * two forms are not one mechanism twice: at few splits the chain is
    * the faster (3 features x 7 splits over 2M cached rows through the
    * dense probe, local[4] on 4 cores, 30 interleaved pairs: 83.9 vs
    * 96.7 ms median, BinIndex faster in 8), while BinIndex is the only
    * form whose generated code stays bounded at wide split arrays. The
    * value 12 itself was not measured. */
  val CaseChainMax = 12
}

final case class CategoricalBins(mapping: Map[String, Int]) extends BinSpec {
  override def numBins: Int = mapping.values.toSet.size + 1
  /** The bin of NULL and unseen values: the last of `numBins`, also when
    * more categories than bins share the tail bin. */
  val overflow: Long = numBins - 1L
  override def toColumn(c: Column): Column = {
    // O(1) hash lookup inside codegen via a literal map — scales to
    // thousands of categories where a when-chain would blow up codegen.
    if (mapping.isEmpty) lit(overflow)
    else {
      val m = map(mapping.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(lit(k), lit(v.toLong))
      }: _*)
      coalesce(element_at(m, c.cast("string")), lit(overflow))
    }
  }

  override def binValue(v: Any): Long =
    if (v == null) overflow
    else mapping.get(v.toString).map(_.toLong).getOrElse(overflow)
}

object Binning {
  /** [[fit]] over numeric features only. */
  def fitNumericBatch(
      df: DataFrame,
      features: Seq[String],
      target: String,
      maxBins: Int = 8,
      preBins: Int = 32,
      relativeError: Double = 1e-4
  ): Map[String, NumericBins] =
    fit(df, features, Set.empty, target, maxBins, preBins, relativeError)
      .collect { case (f, b: NumericBins) => f -> b }

  /** [[fit]] of one categorical feature: one aggregate, no quantile pass. */
  def fitCategorical(
      df: DataFrame,
      feature: String,
      target: String,
      maxBins: Int = 32
  ): CategoricalBins =
    fit(df, Seq(feature), Set(feature), target, maxBins)
      .collectFirst { case (_, b: CategoricalBins) => b }.get

  /** Fit EVERY feature in two passes regardless of feature count: one
    * multi-column approxQuantile pass over the numeric features (skipped
    * when there are none), then ONE posexploded aggregate of count and
    * avg(target) per (feature, numeric pre-bin or category string),
    * then a cheap driver step per feature — the adjacent merge for a
    * numeric, the frequency order for a categorical. O(1) passes
    * instead of O(#features), the difference between seconds and hours
    * at MNIST width on 100 TB.
    */
  def fit(
      df: DataFrame,
      features: Seq[String],
      categorical: Set[String],
      target: String,
      maxBins: Int,
      preBins: Int = 32,
      relativeError: Double = 1e-4
  ): Map[String, BinSpec] = {
    if (features.isEmpty) return Map.empty
    val numeric = features.filterNot(categorical)
    // relativeError > 0: Greenwald-Khanna sketch with bounded memory —
    // exact quantiles (0.0) would buffer entire partitions at 100 TB.
    val probs = (1 until preBins).map(_.toDouble / preBins).toArray
    val candidates: Map[String, Array[Double]] =
      if (numeric.isEmpty) Map.empty
      else numeric.zip(df.stat.approxQuantile(numeric.toArray, probs, relativeError)
        .map(_.distinct.sorted)).toMap

    // one pass for every feature: a numeric feature groups by its
    // pre-bin `b`, a categorical by its value `v` (its NULLs form a
    // group the driver drops)
    val keys = features.map { f =>
      if (categorical(f)) struct(lit(null).cast("long").as("b"), col(f).cast("string").as("v"))
      else struct(NumericBins(candidates(f)).toColumn(col(f)).as("b"), lit(null).cast("string").as("v"))
    }
    val stats = df
      .select(posexplode(array(keys: _*)).as(Seq("fi", "k")),
        col(target).cast("double").as("y"))
      .groupBy(col("fi"), col("k.b"), col("k.v"))
      .agg(count(lit(1)).as("n"), avg("y").as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .withDefaultValue(Array.empty)

    features.zipWithIndex.map { case (f, fi) =>
      val rows = stats(fi).toSeq
      f -> (if (categorical(f))
        categoricalBins(rows.collect { case r if !r.isNullAt(2) => (r.getString(2), r.getLong(3)) }, maxBins)
      else
        mergeBins(candidates(f), rows.map(r => (r.getLong(1), r.getLong(3), r.getDouble(4))), maxBins))
    }.toMap
  }

  /** Greedy adjacent-merge of prebins down to maxBins (driver-side;
    * deterministic — ties break to the lowest index).
    */
  private def mergeBins(
      candidates: Array[Double],
      aggs: Seq[(Long, Long, Double)],
      maxBins: Int): NumericBins = {
    if (candidates.isEmpty) return NumericBins(Array.empty)
    // stats per current bin: (count, mean); bins delimited by `splits`
    var bins: Vector[(Long, Double)] = {
      val byId = aggs.map(t => t._1 -> (t._2, t._3)).toMap
      (0L to candidates.length.toLong).map(i => byId.getOrElse(i, (0L, 0.0))).toVector
    }
    var splits = candidates.toVector

    while (bins.length > maxBins && splits.nonEmpty) {
      // cost of merging bin i and i+1: |m_i - m_{i+1}| scaled by the
      // smaller side's weight; empty bins merge for free.
      var best = 0; var bestCost = Double.MaxValue
      var i = 0
      while (i < bins.length - 1) {
        val (n1, m1) = bins(i); val (n2, m2) = bins(i + 1)
        val cost =
          if (n1 == 0 || n2 == 0) -1.0
          else math.abs(m1 - m2) * math.min(n1.toDouble, n2.toDouble)
        if (cost < bestCost) { bestCost = cost; best = i }
        i += 1
      }
      val (n1, m1) = bins(best); val (n2, m2) = bins(best + 1)
      val n = n1 + n2
      val m = if (n == 0) 0.0 else (m1 * n1 + m2 * n2) / n
      bins = (bins.take(best) :+ ((n, m))) ++ bins.drop(best + 2)
      splits = splits.take(best) ++ splits.drop(best + 1)
    }
    NumericBins(splits.toArray)
  }

  /** Categorical binning: distinct values ordered by frequency then
    * value (deterministic), each value its own bin up to `maxBins`;
    * beyond that, low-frequency values share the tail bin — mirrors
    * the reference's cat_cutoff fallback to ordinal codes
    * (src/encoder.py:69-76).
    */
  private def categoricalBins(counts: Seq[(String, Long)], maxBins: Int): CategoricalBins = {
    val ordered = counts.sortBy { case (v, n) => (-n, v) } // frequent first, then lexicographic
    CategoricalBins(ordered.zipWithIndex.map { case ((v, _), i) => v -> math.min(i, maxBins - 1) }.toMap)
  }
}
