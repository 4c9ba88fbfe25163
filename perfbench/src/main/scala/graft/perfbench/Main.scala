package graft.perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Benchmark JVM: one workload, one seed, one timed window.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <dir> --out <file.json> [--corpus <dir>]
  *
  * (`--corpus` is the query corpus a traced serve_cascade run measures
  * the query layers on, see [[MixLayers]].)
  *
  * It reads the workload's seeded inputs from `--data`, sets up
  * (several times, each from a fresh session), runs operations in a
  * closed loop with one client until `--seconds` have passed, checks
  * every operation's output, and writes the raw record (samples, spans,
  * checks, measured properties) to `--out`. Statistics are computed from
  * that record by `perfbench/stats.py`. */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, corpus: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), m.get("corpus"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = new Run(args)
    val workload: Workload = args.workload match {
      case "serve_compiled" => new ServeWorkload(run, cascade = false)
      case "serve_cascade" => new ServeWorkload(run, cascade = true)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.execute(workload)
    val out = java.nio.file.Paths.get(args.out)
    java.nio.file.Files.write(out, Json.render(run.record()).getBytes("UTF-8"))
  }
}

/** What one workload plugs into [[Run]]. `setup` runs on a fresh
  * session and is repeated; only the last repetition's state is used by
  * `verify` (untimed checks and property gates) and `operation`. */
trait Workload {
  /** Directory whose size sizes the session knobs (Sessions.local). */
  def dataDir: String
  def setup(spark: SparkSession, tracer: Tracer): Unit
  def verify(spark: SparkSession, tracer: Tracer): Unit
  /** One timed operation: returns its timed wall seconds (checks
    * excluded) and whether every check on its output passed. */
  def operation(spark: SparkSession, tracer: Tracer, i: Int): (Double, Boolean)
  /** Input rows one operation processes (for rows_per_s). */
  def rowsPerOp: Long
  /** Set-up repetitions, each on a fresh session; the reported setup_s
    * is their median, so the cold-JVM first pass alone does not set it. */
  def setupRepeats: Int = 3
}

object Run {
  /** Operations run before the timed window (see [[Run.execute]]). */
  val WarmupOps = 1
}

final class Run(val args: Main.Args) {
  private val setupS = ArrayBuffer.empty[Double]
  private val sessionStartS = ArrayBuffer.empty[Double]
  private val opWall = ArrayBuffer.empty[Double]
  private val opOk = ArrayBuffer.empty[Boolean]
  private val opTraced = ArrayBuffer.empty[Boolean]
  private val checks = ArrayBuffer.empty[Json.Obj]
  private val props = mutable.LinkedHashMap.empty[String, Any]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var traceRecord = Json.obj()
  private var cacheMb = 0.0
  private var rowsPerOp = 0L
  private var timedWindowS = 0.0
  /** Index of the running timed operation; -1 during set-up and verify. */
  private var currentOp = -1

  /** A named output check; the result is recorded, never skipped. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += Json.obj("name" -> name, "op" -> currentOp, "ok" -> ok,
      "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  /** A workload property gate: a workload that misses its target
    * measures the wrong layer, so the run stops here. */
  def property(name: String, value: Any, ok: Boolean, target: String): Unit = {
    props(name) = Json.obj("value" -> value, "target" -> target, "ok" -> ok)
    if (!ok) throw new IllegalStateException(
      s"workload property $name = $value misses its target $target")
  }

  def value(name: String, v: Any): Unit = values(name) = v
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  private def startSession(dataDir: String): SparkSession = {
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench", dataDir = Some(dataDir))
    sessionStartS += (System.nanoTime() - t0) / 1e9
    spark
  }

  def execute(w: Workload): Unit = {
    var spark: SparkSession = null
    var tracer: Tracer = null
    for (rep <- 0 until w.setupRepeats) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(w.dataDir)
      // tracing is attached only for the kept (last) repetition, so the
      // spans describe the state the timed loop uses
      tracer = new Tracer(spark.sparkContext, args.trace && rep == w.setupRepeats - 1)
      tracer.beginOp()
      w.setup(spark, tracer)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val (verifyS, _) = Common.seconds(w.verify(spark, tracer))
    value("verify_s", verifyS)
    rowsPerOp = w.rowsPerOp
    def op(i: Int): Unit = {
      tracer.beginOp()
      currentOp = i
      // traced runs alternate untraced and traced operations, so the
      // tracing overhead is measured inside one run
      val traced = args.trace && i % 2 == 1
      val (wall, ok) =
        if (traced || !args.trace) w.operation(spark, tracer, i)
        else tracer.suspended(w.operation(spark, tracer, i))
      opWall += wall; opOk += ok; opTraced += traced
    }
    // warm-up operations run before the timed window: checked like every
    // operation, left out of the operation-time statistics (the first
    // serve after the verify queries still pays JIT and cache warm-up)
    (0 until Run.WarmupOps).foreach(op)
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val loopStart = System.nanoTime()
    // a traced run needs a traced operation and an untraced one, so that
    // trace.overhead_s is defined
    val minOps = Run.WarmupOps + (if (args.trace) 2 else 1)
    var i = Run.WarmupOps
    while (i < minOps || System.nanoTime() < deadline) {
      op(i)
      i += 1
    }
    timedWindowS = (System.nanoTime() - loopStart) / 1e9
    currentOp = -1
    traceRecord = tracer.finish()
    cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    spark.stop()
  }

  def record(): Json.Obj = Json.obj(
    "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
    "setup_s" -> setupS.toList, "session_start_s" -> sessionStartS.toList,
    "op_wall_s" -> opWall.toList, "op_ok" -> opOk.toList, "op_traced" -> opTraced.toList,
    "warmup_ops" -> Run.WarmupOps,
    "timed_window_s" -> timedWindowS, "rows_per_op" -> rowsPerOp,
    "cache_mb" -> cacheMb, "checks" -> checks.toList, "properties" -> props.toMap,
    "values" -> Json.Obj(values.toSeq),
    "samples" -> Json.Obj(samples.toSeq.map { case (k, v) => k -> v.toList })) ++ traceRecord
}
