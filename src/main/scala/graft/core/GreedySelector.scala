package graft.core

import org.apache.spark.sql.DataFrame

sealed trait Task
object Task {
  case object Regression extends Task
  case object Classification extends Task
  case object MultiClass extends Task
}

/** Greedy Information-Value feature selection
  * (ref: src/optimizer.py:175-231).
  *
  * Driver loop; every round is one shuffle over the cached encoded
  * DataFrame ([[IV.roundStats]]: two Spark jobs under adaptive
  * execution, the map stage and the collect). Candidates are ranked
  * by single-feature IV descending (ties: candidate order — np.argsort
  * stability, SURVEY §7.4 risk #3); a candidate joins the index if
  * joint IV improves by more than `tolerance` (1.002x,
  * optimizer.py:195-198); the final ordering sorts the kept set by bin
  * count ascending to shrink the key space (optimizer.py:210-211).
  */
object GreedySelector {
  final case class Result(features: Seq[String], iv: Double, singleIvs: Map[String, Double])

  def select(
      encoded: DataFrame,
      candidates: Seq[String],
      numBins: Map[String, Int],
      target: String,
      task: Task,
      tolerance: Double = 1.002,
      maxFeatures: Int = Int.MaxValue,
      maxCandidates: Int = Int.MaxValue
  ): Result = {
    // round 0: single-feature IVs of every candidate in ONE shuffle,
    // and the walk-invariant global totals read from its bins (every
    // row falls in exactly one bin of candidate 0), so no totals job
    val round0 = IV.roundStats(encoded, Nil, candidates, target, task)
    val totals = IV.totalsOf(round0(0), task)
    val single: Seq[(String, Double)] =
      candidates.indices.map(i => candidates(i) -> IV.ivOf(round0(i), totals))
    val singleMap = single.toMap
    // stable sort: descending IV, ties keep candidate order; at MNIST
    // width the ranked list is capped to the `maxCandidates` best.
    val ranked = single.sortBy { case (_, iv) => -iv }.map(_._1).take(maxCandidates)

    // The walk, batched: ONE joint-IV round per ACCEPT evaluates every
    // remaining candidate against the current kept set, then the rank
    // order is walked over the precomputed joints, accepting the FIRST
    // improver — decision-for-decision identical to evaluating
    // candidates one at a time (rejected candidates were judged
    // against the same kept set either way), but the job count is
    // O(accepts) = O(maxFeatures), not O(candidates).
    var kept      = Vector.empty[String]
    var current   = 0.0
    var remaining = ranked
    while (kept.size < maxFeatures && remaining.nonEmpty) {
      val joint =
        if (kept.isEmpty) singleMap // round 0's joints ARE the single IVs
        else IV.jointIvs(encoded, kept, remaining, target, task, Some(totals))
      val idx = remaining.indexWhere(f =>
        kept.isEmpty || joint(f) > tolerance * current)
      if (idx < 0) remaining = Nil // nothing improves: the walk is done
      else {
        val f = remaining(idx)
        kept = kept :+ f
        current = joint(f)
        remaining = remaining.drop(idx + 1)
      }
    }
    // re-order by bin count asc (stable: ties keep greedy order)
    val ordered = kept.sortBy(f => numBins.getOrElse(f, Int.MaxValue))
    Result(ordered, current, singleMap)
  }
}
