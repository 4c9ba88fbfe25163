package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Information-Value aggregates (ref: src/optimizer.py:41-102,153-172).
  *
  * Two forms. The Column forms ([[classification]], [[regression]],
  * [[multiclass]]) score one grouping with a totals aggregate plus a
  * per-bin aggregate summed in Spark; the queries and their oracle SQL
  * use them. The greedy selector uses the round form ([[roundStats]],
  * [[jointIvs]]): one shuffle scores every candidate, and the driver
  * sums the collected bins. (Under adaptive execution each shuffle
  * aggregate runs as two Spark jobs: its map stage, then the collect.)
  */
object IV {

  /** Binary-classification IV of the grouping defined by `keyCols`.
    * WoE formula per bin (optimizer.py:79-82):
    *   ((ln(n-s+0.5)-ln(N_nonev)) - (ln(s+0.5)-ln(N_ev)))
    *     * ((n-s)/N_nonev - s/N_ev)
    * summed over bins; n = bin size, s = sum(y) in bin.
    */
  def classification(df: DataFrame, keyCols: Seq[Column], target: Column): Double = {
    val tot = df.agg(
      sum(target.cast("double")).as("ev"),
      count(lit(1)).cast("double").as("n")
    ).head()
    classification(df, keyCols, target, tot.getDouble(0),
      tot.getDouble(1) - tot.getDouble(0))
  }

  /** [[classification]] with the global totals precomputed — callers
    * scoring SEVERAL groupings of the same (df, target) share ONE
    * totals job instead of re-running it per call (r16, guide §1.2:
    * a3_iv_classification paid 3 identical totals aggregations). The
    * per-call IV aggregation is unchanged bit for bit. */
  def classification(df: DataFrame, keyCols: Seq[Column], target: Column,
      nEv: Double, nNonEv: Double): Double = {
    if (nEv == 0 || nNonEv == 0) return 0.0
    val perBin = df
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).cast("double").as("n"), sum(target.cast("double")).as("s"))
    val ivCol = classificationIvTerm(col("n"), col("s"), nEv, nNonEv)
    perBin.agg(sum(ivCol)).head().getDouble(0)
  }

  /** The per-bin WoE*distribution-difference term as a Column, shared
    * with the oracle-SQL generator so both sides use one formula. */
  def classificationIvTerm(n: Column, s: Column, nEv: Double, nNonEv: Double): Column =
    ((log(n - s + 0.5) - log(lit(nNonEv))) - (log(s + 0.5) - log(lit(nEv)))) *
      ((n - s) / nNonEv - s / nEv)

  /** Regression IV variant (optimizer.py:99-102):
    * sum over bins of |mean(y)_bin - mean(y)| * n_bin / N.
    */
  def regression(df: DataFrame, keyCols: Seq[Column], target: Column): Double = {
    val tot = df.agg(avg(target.cast("double")), count(lit(1)).cast("double")).head()
    val gMean = tot.getDouble(0)
    val nTot  = tot.getDouble(1)
    val perBin = df
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).cast("double").as("n"), avg(target.cast("double")).as("m"))
    perBin.agg(sum(abs(col("m") - gMean) * col("n") / nTot)).head().getDouble(0)
  }

  /** Multi-class IV (optimizer.py:83-98): per-class one-vs-rest
    * classification IV, summed across classes.
    *
    * r16 (guide §1.2/§2.3): TWO aggregations — one class-count
    * aggregation (which also discovers the classes, replacing the old
    * standalone distinct+collect), then one per-bin aggregation
    * carrying a conditional sum per class, with the per-class IV terms
    * summed in the same pass. The old form paid 1 + 2·|classes| jobs
    * (a distinct scan, then a totals job and a per-bin job PER CLASS)
    * over the same cached frame. Term SET is identical (same per-bin
    * n/s_c, same classificationIvTerm); only the summation order moves
    * (bins-then-classes vs classes-then-bins), which every consumer
    * already absorbs by rounding to 6 decimals — the same tolerance
    * the cross-engine oracle needs anyway.
    */
  def multiclass(df: DataFrame, keyCols: Seq[Column], target: Column): Double = {
    val counts = df.groupBy(target.cast("long").as("c"))
      .agg(count(lit(1)).cast("double").as("n"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nTot = counts.values.sum
    val classes = counts.keys.toSeq.sorted
    val aggs = count(lit(1)).cast("double").as("n") +: classes.map(c =>
      sum((target.cast("long") === c).cast("double")).as(s"s_$c"))
    val terms = classes.flatMap { c =>
      val nEv = counts(c); val nNonEv = nTot - nEv
      if (nEv == 0 || nNonEv == 0) None
      else Some(classificationIvTerm(col("n"), col(s"s_$c"), nEv, nNonEv))
    }
    if (terms.isEmpty) return 0.0
    df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      .agg(sum(terms.reduce(_ + _))).head().getDouble(0)
  }

  /** Walk-invariant global target statistics, read ONCE per selection
    * from round 0's bins and reused by every later [[jointIvs]] round
    * (they cannot change between rounds). */
  sealed trait Totals
  final case class ClsTotals(nEv: Double, nNonEv: Double) extends Totals
  final case class RegTotals(gMean: Double, nTot: Double) extends Totals
  final case class McTotals(counts: Map[Long, Double]) extends Totals

  /** One bin of a candidate's joint grouping (kept bins + its own bin):
    * its row count `n` and target sum `s` (Classification, Regression),
    * or its row count per class, keyed by the truncated label
    * (MultiClass; `s` is unused). */
  final case class BinStats(n: Double, s: Double, classes: Map[Long, Double])

  /** One greedy round in ONE shuffle: explode (candidateIdx, bin) pairs
    * alongside the kept-bin tuple, aggregate per (candidate, kept-bins,
    * bin) — and per class for MultiClass — and collect. Returns each
    * candidate index's bins. The rows are bounded by candidates × the
    * joint key space (× classes), the same bound as the index itself.
    */
  def roundStats(
      df: DataFrame,
      kept: Seq[String],
      candidates: Seq[String],
      target: String,
      task: Task): Map[Int, Seq[BinStats]] = {
    val keptKey: Column =
      if (kept.isEmpty) lit(0L) else struct(kept.map(col): _*)
    val pairs = df.select(
      posexplode(array(candidates.map(c => col(c).cast("long")): _*)).as(Seq("fi", "bin")),
      keptKey.as("kk"), col(target).cast("double").as("y"))
    val bins: Seq[(Int, BinStats)] = task match {
      case Task.MultiClass =>
        // truncating class match (y.cast(long)), so a non-integral
        // label counts in the class it truncates to
        pairs.groupBy(col("fi"), col("kk"), col("bin"), col("y").cast("long").as("c"))
          .agg(count(lit(1)).cast("double").as("n"))
          .collect().toSeq
          .groupBy(r => (r.getInt(0), r.get(1), r.get(2))).toSeq
          .map { case ((fi, _, _), rs) =>
            val classes = rs.map(r => r.getLong(3) -> r.getDouble(4)).toMap
            fi -> BinStats(classes.values.sum, 0.0, classes)
          }
      case _ =>
        pairs.groupBy("fi", "kk", "bin")
          .agg(count(lit(1)).cast("double").as("n"), sum("y").as("s"))
          .collect().toSeq
          .map(r => r.getInt(0) -> BinStats(r.getDouble(3), r.getDouble(4), Map.empty))
    }
    bins.groupBy(_._1).view.mapValues(_.map(_._2)).toMap.withDefaultValue(Seq.empty)
  }

  /** The global totals, read from ONE candidate's bins: every row falls
    * in exactly one bin of each candidate, so its bins cover the data. */
  def totalsOf(bins: Seq[BinStats], task: Task): Totals = {
    val n = fixedSum(bins.map(_.n))
    task match {
      case Task.Regression => RegTotals(fixedSum(bins.map(_.s)) / n, n)
      case Task.Classification =>
        val ev = fixedSum(bins.map(_.s))
        ClsTotals(ev, n - ev)
      case Task.MultiClass =>
        McTotals(bins.flatMap(_.classes).groupMapReduce(_._1)(_._2)(_ + _))
    }
  }

  /** One candidate's IV from its collected bins, summed on the driver
    * in a fixed order. Each bin's term is the same double expression
    * the Column forms above evaluate (Spark's `log` is StrictMath.log,
    * NULL at or below 0, and such a term is skipped like `sum` skips a
    * NULL); only the order the terms are added in differs. */
  def ivOf(bins: Seq[BinStats], totals: Totals): Double = totals match {
    case RegTotals(gMean, nTot) =>
      fixedSum(bins.map(b => math.abs(b.s / b.n - gMean) * b.n / nTot))
    case ClsTotals(nEv, nNonEv) =>
      if (nEv == 0 || nNonEv == 0) 0.0
      else fixedSum(bins.flatMap(b => classificationTerm(b.n, b.s, nEv, nNonEv)))
    case McTotals(counts) =>
      // one-vs-rest per class, summed per bin over the classes in order
      val nTot = counts.values.sum
      val classes = counts.keys.toSeq.sorted.filter(c => counts(c) != 0 && counts(c) != nTot)
      if (classes.isEmpty) 0.0
      else fixedSum(bins.map(b => classes.flatMap(c =>
        classificationTerm(b.n, b.classes.getOrElse(c, 0.0), counts(c), nTot - counts(c))).sum))
  }

  private def classificationTerm(n: Double, s: Double, nEv: Double, nNonEv: Double): Option[Double] = {
    def ln(x: Double) = if (x <= 0) None else Some(StrictMath.log(x))
    for (a <- ln(n - s + 0.5); b <- ln(nNonEv); c <- ln(s + 0.5); d <- ln(nEv))
      yield ((a - b) - (c - d)) * ((n - s) / nNonEv - s / nEv)
  }

  /** Ascending order: the sum does not depend on the order the rows
    * were collected in. */
  private def fixedSum(xs: Seq[Double]): Double = xs.sorted(Ordering.Double.TotalOrdering).sum

  /** Joint IV of (kept ++ candidate) for EVERY candidate in one round
    * ([[roundStats]]: one shuffle, one collect), with the global totals
    * of a previous round — or, when none are given, of this round's own
    * bins, so a lone call needs no separate totals job. This is what
    * makes the greedy WALK (not just the ranking) O(jobs per accept)
    * instead of O(jobs per candidate).
    */
  def jointIvs(
      df: DataFrame,
      kept: Seq[String],
      candidates: Seq[String],
      target: String,
      task: Task,
      totals: Option[Totals] = None): Map[String, Double] = {
    val bins = roundStats(df, kept, candidates, target, task)
    val t = totals.getOrElse(totalsOf(bins(0), task))
    candidates.indices.map(i => candidates(i) -> ivOf(bins(i), t)).toMap.withDefaultValue(0.0)
  }
}
