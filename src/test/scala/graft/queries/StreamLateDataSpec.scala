package graft.queries

import graft.TestSpark
import graft.streaming.{StreamOps, StreamTestOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Late-data proof for the sliding-window stream family (VERDICT r8
  * Next #6): a deliberately late event in a replayed stream must be
  * DROPPED by the watermark on the stream side, and the batch
  * recomputation that excludes it by the same rule must equal the
  * stream's output exactly. The declared x_stream_sliding query
  * (complete mode, no late data by construction) keeps its oracle
  * unchanged — this spec pins the watermark semantics that query
  * relies on at scale.
  *
  * Spark's two-watermark rule (late events filter against the PREVIOUS
  * batch's watermark, eviction against the current one) means the late
  * event must arrive two micro-batches after the batch that advanced
  * the watermark past its windows — the replay below stages exactly
  * that, with file modification times pinning the batch order.
  */
class StreamLateDataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sliding windows drop a late event at the watermark; output matches the batch rule") {
    import spark.implicits._
    val dir = graft.core.TmpDirs.scratch("late_data_spec", "spec")
    // b0 pushes the watermark to 10700-900 = 9800 s once it completes;
    // b1 is on-time filler (late filtering for b1 still uses b(-1)'s
    // watermark = 0); b2 carries ONE event at 0:30 whose member windows
    // (ends 3600 and 7200) are both far below b2's late-event watermark
    // (= watermark after b0 = 9800) — it must be dropped; b3's sentinel
    // advances the watermark past every real window.
    val b0 = Seq((1L, 3600L), (2L, 7200L), (3L, 10700L)).toDF("id", "t")
    val b1 = Seq((4L, 14400L), (5L, 15000L)).toDF("id", "t")
    val b2 = Seq((6L, 16000L), (99L, 1800L)).toDF("id", "t")
    val b3 = Seq((100L, 30000L)).toDF("id", "t")
    StreamTestOps.stageOrderedFiles(Seq(b0, b1, b2, b3), dir)
    val stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = stream
      .withColumn("ts", timestamp_seconds(col("t")))
      .withWatermark("ts", "15 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("n"))
    val q = StreamOps.toMemorySink(agg, "graft_late_data_spec", OutputMode.Update())
    q.processAllAvailable()
    val progress = q.recentProgress.flatMap(_.stateOperators)
    val lateDropped = progress.map(_.numRowsDroppedByWatermark).sum
    val removed = progress.map(_.numRowsRemoved).sum
    q.stop()
    // the one late source row expands into its 2 member windows before
    // the filter — accept either accounting, but never zero
    assert(lateDropped >= 1L && lateDropped <= 2L,
      s"the late event must be watermark-dropped (1 row or its 2 window instances), saw $lateDropped")
    assert(removed > 0L, "watermark must evict closed-window state")
    // update-mode sink re-emits a window per update; the final value per
    // window is the largest count emitted
    val out = spark.table("graft_late_data_spec")
      .filter(col("wstart") < 20000L)
      .groupBy("wstart").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the batch rule with the late event EXCLUDED: each on-time event
    // lands in exactly two 2h/1h-slide windows
    val expected = Map(0L -> 1L, 3600L -> 3L, 7200L -> 2L, 10800L -> 3L, 14400L -> 3L)
    assert(out == expected,
      s"stream output $out != batch-minus-late $expected — the late event leaked in (windows -3600/0 would gain it)")
    assert(!out.contains(-3600L), "the late event's private window must not exist")
  }

  test("stageOrderedFiles: replay order follows staging order, not content") {
    import spark.implicits._
    val dir = graft.core.TmpDirs.scratch("stage_order_spec", "spec")
    // stage DESCENDING content so any content- or size-based ordering
    // would disagree with the staged order
    val parts = Seq(Seq(30L), Seq(20L, 21L), Seq(10L)).map(_.toDF("v"))
    StreamTestOps.stageOrderedFiles(parts, dir)
    val stream = spark.readStream.schema(parts.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.synchronized { batches += b.collect().map(_.getLong(0)).toSeq.sorted }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batches.filter(_.nonEmpty).toSeq == Seq(Seq(30L), Seq(20L, 21L), Seq(10L)),
      s"replay order diverged from staging order: $batches")
  }
}
