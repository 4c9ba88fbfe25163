package graft.streaming

import org.apache.spark.sql.DataFrame

/** Replay staging kept for specs: the per-batch form of
  * [[StreamOps.stageOrderedFilesTagged]], one write job per batch.
  * No query stages with it; specs use it to build small replays and as
  * the reference the one-job tagged form must reproduce. */
object StreamTestOps {

  /** Stage `parts` as one parquet FILE each (b00.parquet, b01.parquet…)
    * with strictly increasing modification times, so a file-stream
    * replay with maxFilesPerTrigger=1 processes them in EXACTLY this
    * order (FileStreamSource orders unseen files by modification time).
    * Watermark-sensitive replays need this: event time must advance
    * with the batch sequence, or late-drop behavior becomes
    * nondeterministic across runs.
    */
  def stageOrderedFiles(parts: Seq[DataFrame], dir: String): Unit =
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = new java.io.File(dir, s"_stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")) match {
        case Array(one) => one
        case other => throw new IllegalStateException(
          s"expected exactly one staged part file, found ${other.length}")
      }
      val dst = new java.io.File(dir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // distinct, increasing, second-granularity-safe mod times
      require(dst.setLastModified(1700000000000L + i * 60000L),
        s"could not pin modification time of $dst")
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
}
