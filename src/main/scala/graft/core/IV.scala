package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Information Value (ref: src/optimizer.py:41-102,153-172), in one
  * form: a round ([[roundStats]], [[jointIvs]]) scores every candidate
  * grouping in ONE shuffle, and the driver sums each candidate's
  * collected bins in a fixed order ([[ivOf]]). The greedy selector and
  * the IV queries (a3, a4, a5) both score through it. (Under adaptive
  * execution each shuffle aggregate runs as two Spark jobs: its map
  * stage, then the collect.)
  *
  * Per-bin terms, summed over the bins of a grouping (n = bin size,
  * s = sum(y) in the bin):
  *  - classification (optimizer.py:79-82):
  *    ((ln(n-s+0.5)-ln(N_nonev)) - (ln(s+0.5)-ln(N_ev))) * ((n-s)/N_nonev - s/N_ev);
  *  - multi-class (optimizer.py:83-98): the classification term one
  *    class against the rest, summed over the classes;
  *  - regression (optimizer.py:99-102): |s/n - mean(y)| * n / N.
  */
object IV {

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
    * in a fixed order. A term whose logarithm has an argument at or
    * below 0 is skipped, as Spark's `log` (StrictMath.log, NULL there)
    * and `sum` would skip it. */
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
