package graft.queries

import graft.TestSpark
import graft.streaming.{StreamOps, StreamTestOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 input-sized state-partition knob (VERDICT r16 Next #2,
  * guide §2): stateful streaming queries size spark.sql.shuffle.partitions
  * (= the state-store partition count at checkpoint creation) from the
  * staged replay bytes instead of riding the session's flat |cores|.
  * Three contracts: (a) the conf is set inside the block and RESTORED
  * after (success and failure paths); (b) the sizing clamps to
  * [4, max(4, defaultParallelism)] with ~1 MB/partition density; (c) the
  * streamed result is bitwise partition-count INDEPENDENT — the whole
  * reason the knob is free to vary per eval.
  */
class StatePartitionSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("conf is input-sized inside the block and restored after, even on failure") {
    val dir = graft.core.TmpDirs.scratch("state_sizing_spec", "spec")
    import spark.implicits._
    // ~tiny staged input -> the 4-partition floor
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    var inside = ""
    StreamOps.withInputSizedStatePartitions(spark, dir) {
      inside = spark.conf.get(key)
    }
    assert(inside == "4", s"tiny staged input must floor at 4, got $inside")
    assert(spark.conf.get(key) == before, "conf must be restored after the block")
    intercept[RuntimeException] {
      StreamOps.withInputSizedStatePartitions(spark, dir) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == before, "conf must be restored on failure too")
  }

  test("sizing grows with bytes and caps at defaultParallelism") {
    // 1 MB/partition density probed through the public entry point: a
    // multi-MB staged dir must land between the floor and the CORES
    // cap (state-commit overhead beats parallelism above cores — the
    // sf10 A/B in OPTIMIZATION_r17.md).
    val dir = graft.core.TmpDirs.scratch("state_sizing_big_spec", "spec")
    import spark.implicits._
    (1L to 400000L).toDF("v").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val key = "spark.sql.shuffle.partitions"
    var inside = 0
    StreamOps.withInputSizedStatePartitions(spark, dir) {
      inside = spark.conf.get(key).toInt
    }
    val cap = math.max(4, spark.sparkContext.defaultParallelism)
    assert(inside >= 4 && inside <= cap,
      s"sized partitions $inside must stay in [4, $cap]")
  }

  test("streamed stateful aggregation is partition-count independent") {
    import spark.implicits._
    def runAt(nParts: Int): Map[(Long, String), Long] = {
      val dir = graft.core.TmpDirs.scratch(s"state_sizing_eq_$nParts", "spec")
      val rows = (0L until 500L).map(i =>
        (i * 37L % 7200L, if (i % 3 == 0) "a" else "b"))
      val df = rows.toDF("t", "k")
      df.repartition(2).write.mode("overwrite").parquet(dir)
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, nParts.toString)
      try {
        val stream = spark.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir)
        val agg = stream
          .withColumn("ts", timestamp_seconds(col("t")))
          .groupBy(window(col("ts"), "1 hour").as("w"), col("k"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp(col("w.start")).as("ws"), col("k"), col("n"))
        val sink = s"graft_state_sizing_eq_$nParts"
        val q = StreamOps.toMemorySink(agg, sink)
        q.processAllAvailable(); q.stop()
        spark.table(sink).collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      } finally spark.conf.set(key, prev)
    }
    val at4 = runAt(4)
    val at13 = runAt(13)
    assert(at4 == at13,
      "stateful window counts must be identical at any state partition count")
    assert(at4.nonEmpty, "the equivalence check must compare real rows")
  }

  test("stageOrderedFilesTagged stages the same replay as stageOrderedFiles") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, s"u${i % 7}"))
    val df = rows.toDF("id", "u")
    val parts = (0 until 3).map(i => df.filter(pmod(col("id"), lit(3L)) === i))
    val seqDir = graft.core.TmpDirs.scratch("stage_tagged_seq", "spec")
    val tagDir = graft.core.TmpDirs.scratch("stage_tagged_one", "spec")
    StreamTestOps.stageOrderedFiles(parts, seqDir)
    StreamOps.stageOrderedFilesTagged(
      df.withColumn("__b", pmod(col("id"), lit(3L)).cast("int")), "__b", 3, tagDir)
    def fileRows(dir: String, i: Int): Set[(Long, String)] =
      spark.read.parquet(f"$dir/b$i%02d.parquet")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    (0 until 3).foreach { i =>
      assert(fileRows(seqDir, i) == fileRows(tagDir, i),
        s"staged batch $i differs between the one-job and per-part forms")
      val seqF = new java.io.File(seqDir, f"b$i%02d.parquet")
      val tagF = new java.io.File(tagDir, f"b$i%02d.parquet")
      assert(seqF.lastModified == tagF.lastModified,
        s"batch $i modification times must pin the same replay order")
    }
    // schema must be the untagged one (partitionBy drops the tag column);
    // compare file-to-file — parquet read-back relaxes nullability on
    // both forms identically
    assert(spark.read.parquet(s"$tagDir/b00.parquet").schema
      == spark.read.parquet(s"$seqDir/b00.parquet").schema)
    // no temp droppings left behind
    assert(!new java.io.File(tagDir, "_stage_tagged").exists)
  }

  test("stageOrderedFilesTagged rejects tags outside 0 until n instead of dropping rows") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"u${i % 7}")).toDF("id", "u")
    val dir = graft.core.TmpDirs.scratch("stage_tagged_stray", "spec")
    val err = intercept[IllegalArgumentException] {
      StreamOps.stageOrderedFilesTagged(
        df.withColumn("__b", pmod(col("id"), lit(5L)).cast("int")), "__b", 3, dir)
    }
    assert(err.getMessage.contains("3, 4"), err.getMessage)
    assert(!new java.io.File(dir, "b00.parquet").exists, "nothing may be staged")
    assert(!new java.io.File(dir, "_stage_tagged").exists)
  }
}
