package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-group mode as Spark aggregates: the chain the index build ran
  * before [[KvIndexState.toModel]] became one sorted pass, kept for the
  * specs as the reference that pass is checked against. */
object Aggregates {
  /** Per-group mode with pinned tie-break (highest count, then lowest
    * value — deterministic under Spark shuffles; the reference's pandas
    * idxmax / Counter.most_common tie-breaks are insertion-order
    * dependent: src/transpiler.py:986-992, inference_trie.py:96-98 —
    * SURVEY §7.4 risk #3 says pin it explicitly).
    *
    * Two shuffle-free-after-partial aggregations, no window: counts per
    * (group, value), then min_by(value, (-count, value)) per group.
    */
  def mode(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    modeFromCounts(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("cnt")),
      groupCols, valueCol, "cnt")

  /** The pinned tie-break applied to PRE-COUNTED (group, value, cnt)
    * rows. min over (-cnt, value) == highest count, then lowest value —
    * works for numeric AND string value columns (no negation of the
    * value). */
  def modeFromCounts(
      counted: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      cntCol: String): DataFrame =
    counted
      .groupBy(groupCols.map(col): _*)
      .agg(
        min_by(col(valueCol), struct(-col(cntCol), col(valueCol))).as(valueCol)
      )
}
