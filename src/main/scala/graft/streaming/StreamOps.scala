package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY §7.3: the reference is strictly
  * batch; this is the designed extension — the KvModel probe is a
  * stateless projection (plus broadcast joins for an over-cap index), so
  * `fitted.transform(readStreamDf)` works unchanged; what needs
  * streaming-specific code is only stateful aggregation, provided here).
  */
object StreamOps {

  /** Median per-trigger processing time (ms) per declared streaming
    * row, recorded by [[recordBatchMillis]] just before each query
    * stops. The declared rows' wall-clocks are dominated by file-replay
    * scaffolding (staging, trigger setup, checkpointing); Bench reads
    * this map to publish `<name>_per_batch_ms` companions so the
    * steady-state per-trigger operator cost is separable from the
    * replay harness (VERDICT r10 Next #6). */
  val batchMillis = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Record the median triggerExecution duration over the query's
    * data-carrying triggers (empty triggers are idle polls, not
    * operator cost). Call after processAllAvailable(), before stop(). */
  def recordBatchMillis(name: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ds = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.durationMs != null
        && p.durationMs.containsKey("triggerExecution"))
      .map(_.durationMs.get("triggerExecution").toDouble)
    if (ds.nonEmpty) {
      // true median: mean of the two middles on an even trigger count
      // (the old upper-middle form biased even-count runs pessimistic)
      val s = ds.sorted
      val mid = s.length / 2
      val med = if (s.length % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2.0
      batchMillis.put(name, med)
    }
  }

  /** Watermarked tumbling-window aggregate over an event stream:
    * (window_start, event_type) -> count + value sum. Works identically
    * on batch DataFrames (window() is not streaming-specific).
    */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours",
      exactSums: Boolean = false): DataFrame = {
    val wm = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    // exactSums: 3-decimal values summed as integer thousandths so the
    // result is bit-identical regardless of partial-aggregation order
    // (used by the oracle-checked batch query).
    val sumCol =
      if (exactSums) (sum(round(col("value") * 1000).cast("long")) / 1000.0).as("sum_value")
      else sum("value").as("sum_value")
    wm.groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumCol)
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(count: Long, sum: Double, lastTs: Long)
  final case class Session(user_id: Long, n_events: Long, sum_value: Double)

  /** Session aggregation with a gap timeout via mapGroupsWithState —
    * the custom-state escape hatch (emits closed sessions).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, Session](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val init = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
          val fin = sorted.foldLeft(init) { (st, e) =>
            val t = e.ts.getTime
            if (st.lastTs != Long.MinValue && t - st.lastTs > gapMs)
              SessionState(1L, e.value, t) // gap: start a new session
            else SessionState(st.count + 1, st.sum + e.value, t)
          }
          state.update(fin)
          Session(uid, fin.count, fin.sum)
      }
  }

  final case class TypedEvent(user_id: Long, us: Long, event_type: String)
  final case class FunnelState(stage: Int, lastAdvanceUs: Long)
  final case class FunnelRow(user_id: Long, stage: Int)

  /** Ordered-pattern matching (CEP-lite) via mapGroupsWithState: per
    * user, advance through `steps` strictly in event-time order — an
    * event only fires the NEXT step, and only if it lands strictly
    * after the previous advance. State is one (stage, ts) pair per
    * user regardless of stream length — the bounded-state requirement.
    * On a batch frame each group arrives as one call (sorted here, so
    * the result is deterministic given unique (user, us) — callers
    * guard); on a stream the same code advances incrementally per
    * micro-batch. Greedy earliest-advance ≡ the first-qualifying-
    * event-after-previous-step min-chain (t_funnel_steps), which is
    * what the SQL oracle recomputes.
    */
  def funnel(events: Dataset[TypedEvent], steps: Seq[String]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          val init = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val fin = rows.toSeq.sortBy(e => (e.us, e.event_type)).foldLeft(init) { (st, e) =>
            if (st.stage < steps.length && e.event_type == steps(st.stage) &&
                e.us > st.lastAdvanceUs)
              FunnelState(st.stage + 1, e.us)
            else st
          }
          state.update(fin)
          FunnelRow(uid, fin.stage)
      }
  }

  /** Streaming dedup for ingestion pipelines: exact-dup drop on a
    * fingerprint column within the watermark horizon —
    * `dropDuplicates` keeps state only for keys younger than the
    * watermark, so state is bounded (the 100 TB requirement). Works on
    * batch frames too (plain dropDuplicates).
    */
  def dedupStream(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    wm.dropDuplicates(keyCols :+ tsCol)
  }

  /** Stream-stream inner join: left events joined to right events of
    * the same user within `windowSec` AFTER the left event. Both sides
    * watermarked so join state is bounded — the canonical
    * click-to-purchase attribution shape.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      key: String = "user_id",
      windowSec: Long = 3600,
      watermark: String = "2 hours"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark("ts", watermark) else left)
      .select(col(key), col("ts").as("l_ts"), col("value").as("l_value"))
    val r = (if (right.isStreaming) right.withWatermark("ts", watermark) else right)
      .select(col(key).as("__rk"), col("ts").as("r_ts"), col("value").as("r_value"))
    l.join(r,
      col(key) === col("__rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .drop("__rk")
  }

  /** Convenience writer for tests/demos: complete-mode in-memory sink. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete()) =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Run `body` (a stateful streaming query: stage → start →
    * processAllAvailable → stop) with `spark.sql.shuffle.partitions`
    * sized from the staged replay input instead of the session's flat
    * |cores| (guide §2 — scale-adaptive partitioning, the w6_ntile
    * technique applied to streams). Stateful operators pin their
    * STATE-STORE partition count to this conf at checkpoint creation,
    * and every state partition pays a per-trigger commit (delta file
    * write + maintenance) regardless of how few rows it holds — at
    * gate SF that fixed commit cost across 32 partitions dominates the
    * operator compute (the r16 driver's own 8-core run beat the
    * 32-core run 2.5x on x_stream_topk_update, 2x on topk/window —
    * VERDICT r16 Next #2). n = ceil(stagedBytes / 1 MB) clamped to
    * [4, defaultParallelism]: gate lands on the 4-partition floor,
    * sf1 at ~6-21, sf10+ at the cores cap. The cap is CORES, not the
    * 4x-cores value batch exchanges use: a state partition pays a
    * per-trigger commit while useful parallelism cannot exceed the
    * machine's cores, and the sf10 A/B (OPTIMIZATION_r17.md) found no
    * reproducible win above cores — the first sweep read the
    * explode-heavy rows 27-38% WORSE at a byte-sized 60/128 than at
    * 32, repeats put the differences inside this box's ±30%
    * single-shot noise, and capping at cores makes the sf10+ plans
    * IDENTICAL to the committed r16 behavior (32 partitions on
    * local[32]) by construction, so only the small-input side changes
    * at all. On a real cluster defaultParallelism is the
    * executor-core total, so a 100 TB stream sizes to its cluster,
    * not to this box. AQE does not apply to stateful streaming
    * exchanges, so this conf is the only partition knob these
    * operators have.
    *
    * Correctness: partition count only affects row PLACEMENT — hash
    * aggregation, session-window merge and watermark eviction are
    * partition-count independent (the r16 c8 driver run executed every
    * streaming row at 8 partitions with green hashes), and the
    * checkpoint is scratch-per-eval so the pinned count never outlives
    * the query. The session conf is restored after `body`; the
    * declared result frames are read back AFTER the stream stops, so
    * their batch plans ride the restored conf + AQE like every other
    * query. */
  def withInputSizedStatePartitions[T](
      spark: org.apache.spark.sql.SparkSession, stagedDir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val bytes = graft.Sessions.dirBytes(stagedDir)
    val cap = math.max(4L, spark.sparkContext.defaultParallelism.toLong)
    val n = math.min(cap, math.max(4L, (bytes + (1L << 20) - 1) / (1L << 20)))
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Stage a replay as one parquet FILE per batch (b00.parquet,
    * b01.parquet…) with strictly increasing modification times, so a
    * file-stream replay with maxFilesPerTrigger=1 processes them in
    * EXACTLY batch order (FileStreamSource orders unseen files by
    * modification time). Watermark-sensitive replays need this: event
    * time must advance with the batch sequence, or late-drop behavior
    * becomes nondeterministic across runs.
    *
    * ONE-JOB form (r17, guide §1.2/§2.4 — fewer passes, fewer driver
    * jobs): `tagged` carries an integer batch column `bCol` with values
    * 0 until n, and the whole replay stages in a single shuffle+write
    * job — where the per-batch Seq form (`StreamTestOps.stageOrderedFiles`
    * under src/test, the specs' reference for this form) runs one
    * coalesce(1) write JOB per batch, each rescanning its input. The
    * hash repartition on `bCol` puts every batch's rows in exactly one
    * task, so each `bCol=i` directory holds exactly one part file
    * (asserted), which is then renamed to the same b<ii>.parquet layout
    * with the same pinned, strictly increasing modification times — the
    * replay a FileStreamSource sees is IDENTICAL to the Seq form's
    * (same files, same order, same rows; only intra-file row order may
    * differ, which no windowed/sessionized aggregate can observe).
    * `partitionBy` drops `bCol` from the file schema, matching the
    * untagged frames the Seq form stages. A `bCol` value outside
    * 0 until n (or NULL) fails with an IllegalArgumentException naming
    * it, before any batch is staged. */
  def stageOrderedFilesTagged(tagged: DataFrame, bCol: String, n: Int, dir: String): Unit = {
    val tmp = new java.io.File(dir, "_stage_tagged")
    // clean the temp tree (dir-per-value + _SUCCESS)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    tagged.repartition(n, col(bCol))
      .write.mode("overwrite").partitionBy(bCol).parquet(tmp.toString)
    // a tag outside 0 until n (NULL included) would land in a directory
    // no batch reads: fail before staging anything instead of dropping it
    val expected = (0 until n).map(i => s"$bCol=$i").toSet
    val stray = Option(tmp.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(s"$bCol=")).filterNot(expected).sorted
    if (stray.nonEmpty) {
      rm(tmp)
      throw new IllegalArgumentException(
        s"$bCol values outside 0 until $n would be dropped from the replay: " +
          stray.map(_.stripPrefix(s"$bCol=")).mkString(", "))
    }
    (0 until n).foreach { i =>
      val sub = new java.io.File(tmp, s"$bCol=$i")
      val part = Option(sub.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")) match {
        case Array(one) => one
        case other => throw new IllegalStateException(
          s"expected exactly one staged part file for $bCol=$i, found ${other.length}")
      }
      val dst = new java.io.File(dir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      require(dst.setLastModified(1700000000000L + i * 60000L),
        s"could not pin modification time of $dst")
    }
    rm(tmp)
  }

  /** foreachBatch sink: per-micro-batch the batch DataFrame is handed to
    * an arbitrary BATCH transform (e.g. `fitted.transform(_, "p")` — the
    * learned-index probe is stateless (a projection, plus broadcast joins
    * for an over-cap index), so the same plan
    * serves batch and stream) and then to a writer. This is the S4/MV
    * maintenance shape: incremental scoring + upsert into a sink that
    * has no native streaming writer.
    */
  def foreachBatchSink(
      df: DataFrame,
      transform: DataFrame => DataFrame,
      write: (DataFrame, Long) => Unit,
      mode: OutputMode = OutputMode.Append()) =
    df.writeStream
      .outputMode(mode)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        write(transform(batch), id))
      .start()
}
