package graft.report

import graft.InferDbPipeline.Fitted
import graft.metrics.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's report harness re-expressed (SURVEY §6;
  * src/transpiler.py:3295-3320 standalone columns, :1434-1441 PG
  * columns): one-row DataFrame with solution name, index size,
  * effectiveness metrics, and per-stage latencies, where end-to-end is
  * the SUM of stage latencies exactly like the reference's report.
  *
  * Timing protocol matches the reference's repeated-measurement loop
  * (transpiler.py:1424-1446, `iterations=5`): each stage is run
  * `iterations` times and the MEDIAN is reported, plus the max-min
  * spread so flaky rows are visible.
  */
object Report {

  /** Run `iterations` timed evaluations of EVERY column of `df` and
    * return (median seconds, max-min spread, rows). Evaluation is a
    * hash-checksum aggregate, not `count()` — a count lets Catalyst's
    * ColumnPruning delete the projected expressions, so the stage
    * would time only the scan.
    */
  private def timedEval(df: DataFrame, iterations: Int): (Double, Double, Long) = {
    val runs = (1 to iterations).map { _ =>
      val t0 = System.nanoTime()
      val (rows, _) = graft.core.ForceEval.checksum(df)
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val times = runs.map(_._1).sorted
    (times(times.length / 2), times.last - times.head, runs.head._2)
  }

  /** The impute/featurize stage (the reference's first report column,
    * transpiler.py:1434-1441): null-impute every feature — numerics to
    * 0.0, categoricals to a missing marker — as one projection over the
    * test frame. The serve path proper routes NULLs to the overflow bin,
    * so this stage exists to time the reference's report shape, not to
    * change predictions.
    */
  private def featurizeFrame(fitted: Fitted, test: DataFrame): DataFrame =
    test.select(fitted.config.features.map { f =>
      if (fitted.config.categorical(f)) coalesce(col(f), lit("__missing__")).as(f)
      else coalesce(col(f).cast("double"), lit(0.0)).as(f)
    }: _*)

  /** Classification report for a fitted index over a test frame:
    * (solution, size_entries, accuracy, precision, recall, f1,
    * featurize_s, translate_s, score_s, end_to_end_s, spread_s,
    * n_iterations, batch_size) — the reference's PG report row shape
    * (impute / encode / score latencies with end-to-end = their sum,
    * transpiler.py:1434-1441) with the same repeated-measurement
    * protocol.
    */
  def classificationReport(
      spark: SparkSession,
      fitted: Fitted,
      test: DataFrame,
      target: String,
      solution: String = "graft-kv-index",
      iterations: Int = 5): DataFrame = {
    val (featurizeS, featurizeSpread, batch) =
      timedEval(featurizeFrame(fitted, test), iterations)
    val (translateS, translateSpread, _) =
      timedEval(test.select(fitted.keyColumn.as("key")), iterations)
    val scored = fitted.transform(test, "__p")
    val (scoreS, scoreSpread, _) = timedEval(scored, iterations)
    val m = Metrics.binaryReport(scored, col("__p"), col(target)).head()
    import spark.implicits._
    Seq((
      solution,
      fitted.indexEntries,
      m.getAs[Double]("accuracy"), m.getAs[Double]("precision"),
      m.getAs[Double]("recall"), m.getAs[Double]("f1"),
      featurizeS, translateS, scoreS, featurizeS + translateS + scoreS,
      featurizeSpread + translateSpread + scoreSpread, iterations, batch
    )).toDF("solution", "size_entries", "accuracy", "precision", "recall",
      "f1", "featurize_s", "translate_s", "score_s", "end_to_end_s",
      "spread_s", "n_iterations", "batch_size")
  }
}
