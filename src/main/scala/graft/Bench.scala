package graft

import graft.core.{Keys, KvIndexBuilder, NumericBins, Task}
import graft.functions.Fns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line with per-query
  * timings plus the reference's stage decomposition
  * (featurize / translate / score / end_to_end — BASELINE.md report
  * shape, src/transpiler.py:1434-1441) over lineitem at the target SF.
  *
  * Stage queries mirror the reference's query-integration benchmark
  * (SURVEY §3.3 note): featurize = expression-only feature projection;
  * translate = key construction; score = KV probe (the compiled answer
  * table, plus broadcast joins + coalesce for the levels above it in an
  * over-cap index); end_to_end = featurize+translate+probe+selection folded
  * into ONE fused plan — the capability PG needs three materialized
  * views for.
  */
object Bench {
  /** Quarantine file for a canary-rejected sweep: `<base>.rejected.json`,
    * never clobbering an earlier quarantined sweep (VERDICT r14 Next #5
    * self-review: Files.write truncates, so back-to-back rejections on
    * the same output name silently destroyed the first rejection's
    * evidence) — when the name is taken, count up `.rejected.2.json`,
    * `.rejected.3.json`, … (bounded scan; exists-check injected for
    * tests). */
  private[graft] def quarantinePath(base: String, exists: String => Boolean): String = {
    val first = base + ".rejected.json"
    if (!exists(first)) first
    else Iterator.from(2).map(i => base + s".rejected.$i.json")
      .dropWhile(exists).next()
  }

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Per-query protocol: best-of-`iters` for sub-second rows, but any
    * row whose best run is ≥ 1 s gets a third shot and reports the
    * MEDIAN — the ≥1 s rows are the ones where a single contended run
    * skews best-of-2 (x33 flapped 1.8× round-over-round on unchanged
    * code, VERDICT r8 "What's wrong" #1), and one extra multi-second
    * run costs little relative to the row itself. A spot run
    * (`spot`, a restricted sweep) skips the re-shoot: its multi-second
    * big-corpus rows are read as growth ratios, and one extra shot per
    * row would double its wall-clock. */
  private def robustQueryTime(iters: Int, spot: Boolean = false)(f: => Long): Double = {
    val ts = scala.collection.mutable.ArrayBuffer.tabulate(iters)(_ => time(f)._1)
    if (ts.min < 1.0 || spot) ts.min
    else {
      while (ts.length < 3) ts += time(f)._1
      ts.sorted.apply(ts.length / 2)
    }
  }

  /** median of `iters` timed runs — the GRADED stage_* rows use this:
    * they are sub-second, so 5 runs are cheap, and the median survives a
    * contended driver machine where best-of-2 flapped 5× round-over-
    * round on UNCHANGED code (VERDICT r7 "What's wrong" #3). Per-query
    * rows stay best-of-2 for wall-clock budget. */
  private def medianOf(iters: Int)(f: => Long): Double = {
    val ts = (1 to iters).map(_ => time(f)._1).sorted
    ts(ts.length / 2)
  }

  /** Evaluate EVERY column — see [[graft.core.ForceEval]]. */
  private def evalAll(df: DataFrame): Long = graft.core.ForceEval.checksum(df)._1

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query rows are best-of-2 (round-4 noise protocol); the graded
    // stage rows are median-of-5: sub-second each, so the extra runs
    // cost ~seconds total and the headline stops flapping with
    // driver-machine contention.
    val iters = 2
    val stageIters = 5
    // SPARK_GRAFT_BENCH_ONLY=sub1,sub2 restricts the per-query sweep to
    // matching names (local iteration / scale triage); full run default.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    // A restricted sweep is a SPOT run: the sweep rows only — the
    // stage decomposition, skew stress, point-lookup and ANN recall
    // harnesses are skipped and report -1, no canary, no ≥1 s re-shoot.
    // Spot runs are big-corpus triage where the harness overhead dwarfs
    // the measured rows — the sf100 spot paid ~90 min of unrestricted
    // kmeans/SQ8/PQ fits for a 5-row measurement (and the fits' shuffle
    // spill was what exhausted the disk mid-sweep); the graded
    // stage_*/skew/recall numbers come from full sf0.1 sweeps, never
    // from spot runs.
    val spotOnly = only.nonEmpty
    val spark = Sessions.local("graft-bench", defaultCpus = "32", dataDir = Some(sfDir))

    // ---- stage decomposition on lineitem ----
    val li = Tables.lineitem(spark, sfDir)
    val rows = li.count() // warm file listing/footer caches

    val qtyBins  = NumericBins(Array(10.0, 25.0, 40.0))
    val discBins = NumericBins(Array(0.03, 0.07))
    val taxBins  = NumericBins(Array(0.04))
    def keyCol = Keys.keyColumn(Seq(
      discBins.toColumn(col("l_discount")),
      taxBins.toColumn(col("l_tax")),
      qtyBins.toColumn(col("l_quantity"))))
    def featurized(df: DataFrame): DataFrame = df.select(
      col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"),
      col("l_extendedprice"),
      hour(col("l_shipdate")).as("ship_hour"),
      month(col("l_shipdate")).as("ship_month"),
      Fns.isWeekend(col("l_shipdate")).as("ship_weekend"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"))

    val train = li.select(keyCol.as("key"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pred"))
    val kvOpt = if (spotOnly) None
      else Some(KvIndexBuilder.buildFromKeyed(train, 3, Task.Classification))

    val featurize = if (spotOnly) -1.0
      else medianOf(stageIters)(evalAll(featurized(li)))
    val translate = if (spotOnly) -1.0
      else medianOf(stageIters)(evalAll(li.select(col("l_orderkey"), keyCol.as("key"))))
    val score     = if (spotOnly) -1.0
      else medianOf(stageIters)(evalAll(kvOpt.get.probe(li, keyCol, "prediction")))
    // query-integration shape: featurize + translate + probe + predicate
    // + aggregate, one fused plan end to end (also the ladder body).
    def e2e(sel: Double): Long =
      evalAll(kvOpt.get.probe(featurized(li), keyCol, "prediction")
        .filter(col("prediction") > sel)
        .groupBy("ship_month")
        .agg(count(lit(1)).as("cnt"), sum("charge").as("rev")))
    // selectivity ladder (reference protocol: predicate on the
    // prediction at 5 cut-offs like BASELINE.md's "Selectivity ladder");
    // the 0.3 point doubles as the headline stage_end_to_end — timing
    // the identical fused plan twice bought nothing
    val ladder = if (spotOnly) Seq.empty[(Double, Double)]
      else Seq(0.1, 0.3, 0.5, 0.7, 0.9).map { sel =>
        sel -> medianOf(stageIters)(e2e(sel))
      }
    val endToEnd = ladder.collectFirst { case (0.3, t) => t }.getOrElse(-1.0)

    // ---- skew stress (VERDICT r9 Next #4): one key = 50% of rows ----
    // Measured EARLY (before the 200-query sweep fills the JVM) and
    // INTERLEAVED (unsalted/salted alternating per iteration) so slow
    // memory/GC drift hits both forms equally — a trailing back-to-back
    // measurement inverted the comparison under late-run pressure.
    // A deliberately zipfian shuffle join, measured both ways so the
    // skew remedy is a NUMBER, not an assertion: 32M rows where key 0
    // holds HALF the table, dim side shuffle-hash-hinted (the "too big
    // to broadcast" scenario). Unsalted, one task drags 16M rows (AQE's
    // skew split does NOT fire for this SHJ plan — verified on the
    // executed plan); salted (hash-of-row salt, SkewJoin.saltedJoin),
    // the hot key spreads over 32 salt buckets — the straggler goes,
    // a small balanced overhead (salt column + 32x dim replication)
    // stays; at cluster scale the straggler grows with data while the
    // overhead does not. Independent of SF by design.
    // Per-task MAX and P99 runtimes are recorded alongside wall-clock
    // (SparkListener over the measured jobs): the straggler task is the
    // quantity salting actually eliminates — on a 32-thread local box
    // the other 31 threads hide most of the wall-clock damage that a
    // 1000-executor stage would eat in full.
    val skewN = 32000000L
    def skewBig = spark.range(skewN).select(col("id"),
      when(pmod(col("id"), lit(2L)) === 0L, 0L)
        .otherwise(pmod(col("id"), lit(996L)) + 1L).as("k"),
      (col("id") % 97).cast("double").as("v"))
    def skewSmall = spark.range(997L).select(col("id").as("k"),
      (col("id") * 2L).as("w"))
    def skewAgg(joined: DataFrame): Long = evalAll(
      joined.groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
        .agg(count(lit(1)).as("n_groups"), sum("n").as("n_rows"), sum("s").as("sum_s")))
    def timeOf(f: => Long): Double = time(f)._1
    // task-duration listener, scoped to the measured action's JOB
    // GROUP (ADVICE r10: a fixed sleep + global clear let task-end
    // events from a lagging bus or another job leak into the next
    // measurement): onJobStart records the stage ids of jobs carrying
    // our group id, onTaskEnd keeps only those stages' tasks, and the
    // read waits until the listener bus has delivered every event.
    val skewGroupId = "graft-bench-skew"
    val taskDurs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val skewListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null
            && skewGroupId == js.properties.getProperty("spark.jobGroup.id"))
          js.stageInfos.foreach(si => groupStages.add(si.stageId))
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && groupStages.contains(te.stageId))
          taskDurs.add(te.taskInfo.duration)
    }
    spark.sparkContext.addSparkListener(skewListener)
    def withTaskStats(f: => Long): (Double, Double, Double) = {
      taskDurs.clear(); groupStages.clear()
      spark.sparkContext.setJobGroup(skewGroupId, "skew task stats", false)
      val t = try timeOf(f) finally spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val ds = taskDurs.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      if (ds.isEmpty) (t, 0.0, 0.0)
      else (t, ds.last / 1e3, ds(math.min(ds.length - 1, (ds.length * 99) / 100)) / 1e3)
    }
    val skewRuns = (if (spotOnly) Seq.empty[Int] else 1 to stageIters).map { _ =>
      (withTaskStats(skewAgg(skewBig.join(skewSmall.hint("shuffle_hash"), Seq("k")))),
       withTaskStats(skewAgg(graft.core.SkewJoin.saltedJoin(
         skewBig, skewSmall.hint("shuffle_hash"), "k", "id", saltFactor = 32))))
    }
    spark.sparkContext.removeSparkListener(skewListener)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.length / 2)
    val skewUnsalted = med(skewRuns.map(_._1._1))
    val skewSalted = med(skewRuns.map(_._2._1))
    val skewUnsaltedTaskMax = med(skewRuns.map(_._1._2))
    val skewSaltedTaskMax = med(skewRuns.map(_._2._2))
    val skewUnsaltedTaskP99 = med(skewRuns.map(_._1._3))
    val skewSaltedTaskP99 = med(skewRuns.map(_._2._3))

    // ---- every declared query, best-of-2 (evalAll, not count():
    // projection-only queries would otherwise time a bare scan).
    // Best-of-2 on EVERY row: the driver benches hot on a machine that
    // just ran Verify, and run-1 JIT/page-cache noise showed phantom
    // 2-40x "regressions" on sub-second rows in rounds 2-3. The min of
    // two invocations is reproducible within ±20% run-over-run. For
    // memoized families (x_learned_*, clusterMemo consumers,
    // x_ann_ivf_kmeans) the min is the serve/marginal path by
    // construction — fit wall-clock stays out of every row, which is
    // the comparable quantity round-over-round. Queries re-invoke
    // cleanly: scratch dirs clear on entry (TmpDirs.scratch).
    val sweepList = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }

    // Contention canary, DE-BIASED since r14 (VERDICT r11 Next #3 gave
    // the gate; r14 fixed its false trips): the r13 form compared the
    // canary row's IN-SWEEP time — its very first evaluations in a JVM
    // still C2-compiling the row's generated code — against an
    // end-of-sweep re-shoot, which is structurally warmer; on a
    // provably IDLE box it read 0.46-0.73 and tripped the [0.67, 1.5]
    // gate on JIT warm-up, not contention (2 of the first 3 r14
    // re-shoots rejected this way; a symmetric before/after probe at
    // min-of-6 still read 0.62 — a small row descends several compile
    // rungs: 0.36 → 0.22 → 0.16 across eval batches on an idle box).
    // The fix: WARM the canary row until its cost CONVERGES before the
    // sweep (untimed eval, then min-of-3 batches until the improvement
    // falls under 15%), so the row's in-sweep best-of-2 is its
    // steady-state cost; drift = end-re-shoot / in-sweep then isolates
    // what the gate actually targets — the machine getting busier (>1)
    // or quieter (<1) across the sweep window. The probe walks the
    // sweep list until a row's CONVERGED cost is >= 0.2 s (timer noise
    // below that), giving canary -1 (gate skipped) only when nothing
    // qualifies. Termination is bounded by construction: ≤ 5 candidate
    // rows × (1 untimed eval + ≤ 6 convergence batches of
    // robustQueryTime(3)) — no data-dependent loop.
    // The warmed rows (the canary and any candidates probed before it)
    // enter the sweep structurally warmer than every other row; the
    // artifact records which row that was ("canary_row") so its
    // in-sweep timing is interpretable (ADVICE r14 #4).
    def canaryProbe(): String = {
      val it = sweepList.iterator
      var tries = 0
      while (it.hasNext && tries < 5) {
        val (name, fn) = it.next(); tries += 1
        try {
          evalAll(fn(spark, sfDir)) // untimed: warm codegen + memos
          var prev = robustQueryTime(3)(evalAll(fn(spark, sfDir)))
          var cur = prev
          var batches = 1
          do {
            prev = cur
            cur = robustQueryTime(3)(evalAll(fn(spark, sfDir)))
            batches += 1
          } while (cur < 0.85 * prev && batches < 6)
          if (math.min(cur, prev) >= 0.2) return name
        } catch {
          // NonFatal only (ADVICE r14 #4): an OOM/fatal JVM error must
          // abort the sweep, not silently advance the probe; a plain
          // query failure is logged so the skipped candidate is
          // diagnosable.
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] canary candidate $name failed, skipping: $e")
        }
      }
      ""
    }
    // Spot runs skip the canary entirely: with the sweep restricted to
    // a handful of multi-minute big-corpus rows, the warm-up
    // convergence loop alone costs ~10 untimed evals of a ~170 s query
    // before anything is measured, and spot numbers are never committed
    // as graded artifacts — the canary gate exists to protect FULL
    // sweeps (drift reports -1, gate skipped).
    val canaryName = if (spotOnly) "" else canaryProbe()

    // Spot-mode infra warm-up (VERDICT r15 Next #6): spot rows are
    // cold-JVM single shots, so the alphabetically-first row used to
    // absorb the whole JVM's codegen/shuffle warm-up (Janino + codegen
    // classloading, shuffle + ObjectHashAggregate machinery) — the r15
    // spot's lead row (a1_groupby_agg) was only readable as an upper
    // bound. One untimed SYNTHETIC eval — a shuffled hash aggregate
    // over spark.range, sharing no sweep row's data or generated code
    // — warms that shared infrastructure symmetrically: no sweep row
    // gets its own plan pre-compiled or its input pre-cached.
    if (spotOnly)
      evalAll(spark.range(1000000L)
        .groupBy(pmod(col("id"), lit(1000L)).as("g"))
        .agg(count(lit(1)).as("n"), sum("id").as("s"), avg("id").as("a")))

    val queryTimes = sweepList
      .map { case (name, fn) =>
      val t = try robustQueryTime(iters, spotOnly)(evalAll(fn(spark, sfDir))) catch {
        case e: Throwable =>
          // a swallowed exception reads as a timing row (-1) and is
          // undiagnosable unless it is logged
          System.err.println(s"[bench] $name FAILED: $e")
          e.getStackTrace.take(8).foreach(f => System.err.println(s"  at $f"))
          -1.0
      }
      name -> t
    }

    // canary AFTER-side vs the pre-warmed row's in-sweep value (see
    // the de-biased canary doc above the sweep). SYMMETRIC since r15
    // (ADVICE r14 #1): both sides are robustQueryTime(iters) — the r14
    // form re-shot the after-side at best-of-max(iters,6), and a min
    // over more samples is systematically lower, biasing drift below 1
    // on a quiet box (eroding the 0.67 false-reject margin) while a
    // best-of-6 after-side absorbed exactly the contention spikes the
    // >1.5 got-busier gate exists to catch.
    val canaryBefore = if (canaryName.isEmpty) -1.0
      else queryTimes.toMap.getOrElse(canaryName, -1.0)
    val canaryDrift =
      if (canaryBefore <= 0) -1.0
      else {
        val after = try robustQueryTime(iters)(
          evalAll(SparkEntry.queries(canaryName)(spark, sfDir))) catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] canary after-side failed: $e"); -1.0
        }
        if (after > 0) after / canaryBefore else -1.0
      }

    val ladderRows = ladder.map { case (sel, t) => s"stage_e2e_sel_$sel" -> t }

    // single-row serve path: collect-once local scorer, µs per lookup
    // (the reference's standalone-trie point-query mode)
    val pointLookupUs = if (spotOnly) -1.0 else {
      val localScorer = kvOpt.get.toLocalScorer
      val probeKeys = li.select(keyCol.as("key")).limit(10000)
        .collect().map(_.getString(0))
      var sink = 0.0
      val reps = 10
      val tl0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        var j = 0
        while (j < probeKeys.length) { sink += localScorer.scoreKey(probeKeys(j)); j += 1 }
        r += 1
      }
      if (sink.isNaN) println("unreachable") // keep the loop observable
      if (probeKeys.isEmpty) 0.0 // avoid NaN breaking the JSON line
      else (System.nanoTime() - tl0) / 1e3 / (reps.toLong * probeKeys.length)
    }

    // fitted-quantizer ANN quality next to the timings (the query's
    // one-row result is collect-once memoized, so this read is free)
    val ivfRecall = if (spotOnly) -1.0
      else try SparkEntry.queries("x_ann_ivf_kmeans")(spark, sfDir)
      .head().getAs[Double]("recall_at_1") catch { case _: Throwable => -1.0 }
    // SQ8 twin: what the 3.2x memory compression costs in recall
    val sq8Recall = if (spotOnly) -1.0
      else try SparkEntry.queries("x_ann_ivf_sq8")(spark, sfDir)
      .head().getAs[Double]("recall_at_1") catch { case _: Throwable => -1.0 }
    // SQ8 ambiguity companion (VERDICT r11 Next #4): exact-cosine gap
    // between SQ8's winner and the true winner — gap ~ 0 with
    // recall < 1 means the misses are ambiguity-band neighbors
    // (candidates closer together than one int8 step, the near-dup-
    // dense-corpus regime), not quantization collapse.
    val (_, sq8GapMean, sq8GapMax) = if (spotOnly) (-1.0, -1.0, -1.0)
      else try graft.queries.IvfQueries.sq8WinnerGap(spark, sfDir)
      catch { case _: Throwable => (-1.0, -1.0, -1.0) }
    // PQ+re-rank: recall at 16x compression with a 64-item shortlist
    val pqRecall = if (spotOnly) -1.0
      else try SparkEntry.queries("x_ann_pq")(spark, sfDir)
      .head().getAs[Double]("recall_at_1") catch { case _: Throwable => -1.0 }
    // composed IVFADC (PQ inside the on-disk inverted file)
    val ivfPqRecall = if (spotOnly) -1.0
      else try SparkEntry.queries("x_ann_ivf_pq")(spark, sfDir)
      .head().getAs[Double]("recall_at_1") catch { case _: Throwable => -1.0 }
    // pre-filtered search vs the filtered brute-force truth
    val filteredRecall = if (spotOnly) -1.0
      else try SparkEntry.queries("x_ann_ivf_filtered")(spark, sfDir)
      .head().getAs[Double]("recall_at_1") catch { case _: Throwable => -1.0 }

    val stages = Seq(
      "skew_join_unsalted" -> skewUnsalted,
      "skew_join_salted" -> skewSalted,
      "skew_unsalted_task_max_s" -> skewUnsaltedTaskMax,
      "skew_salted_task_max_s" -> skewSaltedTaskMax,
      "skew_unsalted_task_p99_s" -> skewUnsaltedTaskP99,
      "skew_salted_task_p99_s" -> skewSaltedTaskP99,
      "stage_featurize" -> featurize,
      "stage_translate" -> translate,
      "stage_score" -> score,
      "stage_end_to_end" -> endToEnd,
      "stage_point_lookup_us" -> pointLookupUs,
      "ivf_kmeans_recall_at_1" -> ivfRecall,
      "ivf_sq8_recall_at_1" -> sq8Recall,
      "ivf_sq8_winner_cos_gap_mean" -> sq8GapMean,
      "ivf_sq8_winner_cos_gap_max" -> sq8GapMax,
      "pq_rerank_recall_at_1" -> pqRecall,
      "ivfadc_recall_at_1" -> ivfPqRecall,
      "filtered_recall_at_1" -> filteredRecall,
      "canary_drift" -> canaryDrift) ++ ladderRows
    // Key order is load-bearing: the driver archives only the TAIL of
    // this line (~2.2 KB), so the big per-query map goes FIRST and the
    // stage decomposition + headline keys go LAST — truncation then
    // drops individual query rows, never the graded stage_* numbers
    // (rounds 3-4 lost them the other way around).
    // steady-state streaming cost next to the wall rows: median
    // per-trigger ms recorded by each streaming query at stop() time —
    // the wall rows time replay scaffolding, these time the operator
    import scala.jdk.CollectionConverters._
    val perBatch = graft.streaming.StreamOps.batchMillis.asScala.toSeq.sortBy(_._1)
      .map { case (n, ms) => s"${n}_per_batch_ms" -> ms }
    // Canary gate (VERDICT r12 Next #3, hardened per ADVICE r13): a
    // drift outside [0.67, 1.5] means the sweep started or became
    // contended — the r12 driver sweep carried a 0.64 canary and a 24%
    // phantom headline. The verdict is evaluated BEFORE the artifact
    // is written: a rejected sweep (a) carries "rejected":true IN the
    // JSON line itself, so the file is self-describing even when
    // stderr is lost, and (b) is QUARANTINED to <out>.rejected.json
    // instead of overwriting the real artifact with phantom numbers —
    // the exact silent-commit failure mode the gate targets. Scripted
    // re-shoot loops read "rejected":true from the summary line.
    // Skipped when no canary was timed (drift = -1).
    val rejected = canaryDrift > 0 && (canaryDrift < 0.67 || canaryDrift > 1.5)
    val qs = (queryTimes ++ perBatch ++ stages)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val total = queryTimes.filter(_._2 >= 0).map(_._2).sum
    val rejectedField = if (rejected) "\"rejected\":true," else ""
    val canaryField =
      if (canaryName.isEmpty) "" else s""""canary_row":"$canaryName","""
    val line =
      f"""{"queries":$qs,$rejectedField$canaryField"sf":"$sfDir","rows":$rows,"total_query_sec":$total%.2f,"metric":"inferdb_serve_end_to_end","unit":"sec","value":$endToEnd%.4f}"""
    println(line)
    // The driver archives only the TAIL of stdout (~2.2 KB) — r8 lost
    // 123 of 196 per-query timings to truncation. Persist the complete
    // line where the round artifacts live so every timing is gradable.
    // Default is the PROTOCOL-DISTINCT sweep name (VERDICT r14 What's
    // wrong #2): BENCH_FULL.json is reserved for merge_bench.py's
    // min-merge output, and two end-of-round driver sweeps in a row
    // overwrote the committed min-merge with a single-sweep median
    // because this default used to be BENCH_FULL.json. BENCH_SWEEP.json
    // is gitignored — a raw sweep never lands in git by accident.
    val outBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SWEEP.json")
    val outFile = if (rejected)
      quarantinePath(outBase, p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    else outBase
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // Compact machine line LAST (VERDICT r15 What's wrong #3): the
    // driver archives only the TAIL of stdout (~2 KB) and the full
    // per-query line above overflows it, leaving BENCH_rN.json with
    // "parsed": null. This line is ~300 bytes — small enough for any
    // tail window — and carries the graded contract keys (metric/
    // value/unit/sf) plus the stage headline and the on-disk path of
    // the complete line, so the graded artifact always holds parsed
    // numbers even when the big line is truncated.
    val summary =
      f"""{"summary":true,$rejectedField"metric":"inferdb_serve_end_to_end","value":$endToEnd%.4f,"unit":"sec","sf":"$sfDir","rows":$rows,"total_query_sec":$total%.2f,"stage_featurize":$featurize%.4f,"stage_translate":$translate%.4f,"stage_score":$score%.4f,"canary_drift":$canaryDrift%.4f,"out_path":"$outFile"}"""
    println(summary)
    spark.stop()
    if (rejected) {
      System.err.println(
        f"[bench] REJECTED: canary_drift $canaryDrift%.3f outside [0.67, 1.5] — " +
          s"contended sweep quarantined to $outFile; re-shoot on a quiet " +
          "machine before committing")
    }
  }
}
