package graft

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The index fit in few passes: one stats aggregate bins every feature,
  * one shuffle scores each greedy round, and the fit neither counts its
  * encoded frame nor touches a cache the caller owns. Each pass-cutting
  * form is checked against the form it replaced. */
class FitPassesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import FitPassesSpec._

  /** Four binned candidates, a 0/1 label, a non-integral regression
    * target and a fractional multi-class label (truncates to 0..2). */
  private lazy val encoded: DataFrame = {
    val rnd = new scala.util.Random(17)
    (1 to 3000).map { _ =>
      val (a, b, c, d) = (rnd.nextInt(4), rnd.nextInt(3), rnd.nextInt(5), rnd.nextInt(2))
      (a.toLong, b.toLong, c.toLong, d.toLong,
        if (a + b + rnd.nextInt(3) > 4) 1.0 else 0.0,
        a + b * 1.5 + c * 0.3 + rnd.nextGaussian() * 0.1,
        ((a + b * c) % 3) + 0.25 * rnd.nextInt(4))
    }.toDF("b_a", "b_b", "b_c", "b_d", "y_cls", "y_reg", "y_mc").cache()
  }
  private val candidates = Seq("b_a", "b_b", "b_c", "b_d")
  private val numBins = Map("b_a" -> 4, "b_b" -> 3, "b_c" -> 5, "b_d" -> 2)
  private val tasks = Seq("y_cls" -> Task.Classification, "y_reg" -> Task.Regression,
    "y_mc" -> Task.MultiClass)

  test("one-shuffle select matches the two-shuffle form on all three tasks") {
    tasks.foreach { case (y, task) =>
      val got = GreedySelector.select(encoded, candidates, numBins, y, task)
      val ref = TwoShuffle.select(encoded, candidates, numBins, y, task)
      assert(ref.features.size >= 2, s"$task: the walk must pass round 0 to compare rounds")
      assert(got.features == ref.features, s"$task: ${got.features} vs ${ref.features}")
      assert(math.abs(got.iv - ref.iv) < 1e-9, s"$task: IV ${got.iv} vs ${ref.iv}")
      candidates.foreach { f =>
        assert(math.abs(got.singleIvs(f) - ref.singleIvs(f)) < 1e-9, s"$task $f")
      }
      // a lone jointIvs call reads its totals from its own round
      val joint = IV.jointIvs(encoded, Seq("b_a"), Seq("b_b", "b_c"), y, task)
      val refJoint = TwoShuffle.jointIvs(encoded, Seq("b_a"), Seq("b_b", "b_c"), y, task,
        TwoShuffle.totalsOf(encoded, y, task))
      Seq("b_b", "b_c").foreach(f => assert(math.abs(joint(f) - refJoint(f)) < 1e-9, s"$task $f"))
    }
  }

  test("GreedySelector.select runs two jobs per round and no totals job") {
    // every candidate improves on its predecessor here, so the walk
    // runs rounds 0..2 for three candidates
    val three = Seq("b_a", "b_b", "b_c")
    encoded.count()
    val run = GroupJobs(GreedySelector.select(encoded, three, numBins, "y_reg", Task.Regression,
      tolerance = 1.0))
    assert(run.result.features.size == 3, run.result.features)
    assert(run.started.size == 6, s"jobs ${run.started}")
    assert(run.outside.isEmpty, s"jobs outside the group ${run.outside}")
  }

  test("the IV queries score in greedy rounds and run no totals job") {
    val sf = "/root/testdata/sf0.001"
    // each reads its parquet schema (1 job), then a3 fills its cache
    // (1) and runs two rounds (2 each: both single IVs, then b_qty kept
    // for the joint IV); a4 and a5 run one round, uncached
    val expected = Seq(
      ("a3_iv_classification", graft.queries.InferDbQueries.defs, 1 + 1 + 2 * 2),
      ("a4_iv_regression", graft.queries.InferDbQueries.defs, 1 + 2),
      ("a5_iv_multiclass", graft.queries.ExtraQueries.defs, 1 + 2))
    expected.foreach { case (q, defs, jobs) =>
      val run = GroupJobs(defs(q)(spark, sf).collect())
      assert(run.started.size == jobs, s"$q jobs ${run.started}")
      assert(run.outside.isEmpty, s"$q jobs outside the group ${run.outside}")
    }
  }

  /** Numeric with NULLs, an all-NULL numeric, a categorical with NULLs
    * and more values than bins, an all-NULL categorical. */
  private lazy val raw: DataFrame = {
    val rnd = new scala.util.Random(5)
    (1 to 2000).map { i =>
      val x = if (i % 17 == 0) None else Some(rnd.nextDouble() * 10)
      val c = if (i % 13 == 0) None else Some(s"c${rnd.nextInt(7)}")
      (x, Option.empty[Double], c, Option.empty[String],
        if (x.exists(_ > 5) ^ c.contains("c1")) 1.0 else 0.0)
    }.toDF("x", "x_null", "c", "c_null", "y").cache()
  }

  test("one-pass bins equal per-feature fits for NULL, all-NULL and unseen categories") {
    val all = Binning.fit(raw, Seq("x", "x_null", "c", "c_null"), Set("c", "c_null"), "y",
      maxBins = 4)
    val perFeature = Map[String, BinSpec](
      "x" -> Binning.fit(raw, Seq("x"), Set.empty, "y", maxBins = 4)("x"),
      "x_null" -> Binning.fit(raw, Seq("x_null"), Set.empty, "y", maxBins = 4)("x_null"),
      "c" -> Binning.fitCategorical(raw, "c", "y", maxBins = 4),
      "c_null" -> Binning.fitCategorical(raw, "c_null", "y", maxBins = 4))
    assert(canon(all) == canon(perFeature))
    // and the categoricals equal the per-feature groupBy form they replaced
    Seq("c", "c_null").foreach(f => assert(all(f) == groupByCategorical(raw, f, "y", 4), f))
    val c = all("c").asInstanceOf[CategoricalBins]
    assert(c.mapping.size == 7 && c.numBins == 5, c.mapping)
    assert(all("c_null") == CategoricalBins(Map.empty) && canon(all)("x_null") == Seq.empty)
    // NULL and an unseen value land in the overflow bin on both
    val probe = Seq(Option.empty[String], Some("zz"), Some("c1")).toDF("c")
    def served(b: BinSpec) = probe.select(b.toColumn(col("c"))).as[Long].collect().toSeq
    assert(served(all("c")) == served(perFeature("c")))
    assert(served(all("c")).take(2) == Seq(c.overflow, c.overflow))
  }

  test("one-pass binning is approxQuantile plus one aggregate") {
    raw.count()
    val quantiles = GroupJobs(raw.stat.approxQuantile(Array("x", "x_null"),
      Array(0.25, 0.5), 1e-4)).started.size
    val fit = GroupJobs(Binning.fit(raw, Seq("x", "x_null", "c", "c_null"),
      Set("c", "c_null"), "y", maxBins = 4))
    // the aggregate is two jobs: its shuffle's map stage and the collect
    assert(fit.started.size == quantiles + 2, s"jobs ${fit.started}, quantiles $quantiles")
    val cat = GroupJobs(Binning.fitCategorical(raw, "c", "y", maxBins = 4))
    assert(cat.started.size == 2, s"jobs ${cat.started}")
    assert(fit.outside.isEmpty && cat.outside.isEmpty)
  }

  test("InferDbPipeline.fit with one categorical runs no count or totals job") {
    val df = raw.where(col("x").isNotNull).withColumn("pred", col("y"))
    val cfg = InferDbPipeline.Config(Seq("x", "c"), categorical = Set("c"), target = "y",
      task = Task.Classification, maxBins = 4)
    raw.count()
    val quantiles = GroupJobs(df.stat.approxQuantile(Array("x"), Array(0.5), 1e-4)).started.size
    val fit = GroupJobs(InferDbPipeline.fit(df, cfg, "pred"))
    assert(fit.result.selected.toSet == Set("x", "c"), fit.result.selected)
    val build = GroupJobs(KvIndexBuilder.buildFromKeyed(
      df.select(fit.result.keyColumn.as("key"), col("pred")), 2, Task.Classification)).started.size
    // filling the two caches the fit makes (its input, the encoded
    // frame: one job each under adaptive execution) + quantiles + one
    // stats aggregate (2 jobs) + two greedy rounds of 2 jobs (round 0,
    // then the round that accepts the second feature and leaves nothing
    // to score) + the index build
    assert(fit.started.size == 2 + quantiles + 2 + 2 * 2 + build,
      s"jobs ${fit.started}, quantiles $quantiles, build $build")
    assert(fit.outside.isEmpty)
  }

  test("fit leaves the caller's cache as it found it") {
    val df = raw.where(col("x").isNotNull).withColumn("pred", col("y"))
    val cfg = InferDbPipeline.Config(Seq("x", "c"), categorical = Set("c"), target = "y",
      task = Task.Classification, maxBins = 4)
    val owned = df.select("x", "c", "y", "pred").cache()
    InferDbPipeline.fit(owned, cfg, "pred")
    assert(owned.storageLevel == StorageLevel.MEMORY_AND_DISK, owned.storageLevel)
    owned.unpersist()
    // a frame the caller did not cache is released again
    val bare = df.select("x", "c", "y", "pred")
    InferDbPipeline.fit(bare, cfg, "pred")
    assert(bare.storageLevel == StorageLevel.NONE, bare.storageLevel)
    // and fitLifecycle returns its predictions frame uncached
    val t = InferDbPipeline.fitLifecycle(df.select("x", "c", "y"), cfg)
    assert(t.withPred.storageLevel == StorageLevel.NONE, t.withPred.storageLevel)
  }
}

object FitPassesSpec {
  def canon(b: Map[String, BinSpec]): Map[String, Any] = b.map {
    case (f, NumericBins(splits)) => f -> splits.toSeq
    case other => other
  }

  /** The per-feature categorical fit the one-pass binning replaced. */
  def groupByCategorical(df: DataFrame, f: String, target: String, maxBins: Int): CategoricalBins = {
    val rows = df.select(col(f).cast("string").as("v"), col(target).cast("double").as("y"))
      .where(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (v, n) => (-n, v) }
    CategoricalBins(rows.zipWithIndex.map { case ((v, _), i) => v -> math.min(i, maxBins - 1) }.toMap)
  }

  /** The greedy selection this replaced: a totals job, then per round a
    * per-(candidate, kept-bins, bin) aggregate whose IV terms are summed
    * per candidate by a second shuffle. It is the specs' Spark-side
    * reference for [[IV]]'s terms on all three tasks. */
  object TwoShuffle {
    import IV.{ClsTotals, McTotals, RegTotals, Totals}

    /** The per-bin classification IV term as a Column. */
    def classificationIvTerm(n: Column, s: Column, nEv: Double, nNonEv: Double): Column =
      ((log(n - s + 0.5) - log(lit(nNonEv))) - (log(s + 0.5) - log(lit(nEv)))) *
        ((n - s) / nNonEv - s / nEv)

    def totalsOf(df: DataFrame, target: String, task: Task): Totals = {
      val y = col(target).cast("double")
      task match {
        case Task.Regression =>
          val t = df.agg(avg(y), count(lit(1)).cast("double")).head()
          RegTotals(t.getDouble(0), t.getDouble(1))
        case Task.Classification =>
          val t = df.agg(sum(y).as("s"), count(lit(1)).cast("double").as("n")).head()
          ClsTotals(t.getDouble(0), t.getDouble(1) - t.getDouble(0))
        case Task.MultiClass =>
          McTotals(df.groupBy(col(target).cast("long").as("c"))
            .agg(count(lit(1)).cast("double").as("n")).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      }
    }

    def jointIvs(df: DataFrame, kept: Seq[String], candidates: Seq[String], target: String,
        task: Task, totals: Totals): Map[String, Double] = {
      val keptKey: Column = if (kept.isEmpty) lit(0L) else struct(kept.map(col): _*)
      val pairs = df.select(
        posexplode(array(candidates.map(c => col(c).cast("long")): _*)).as(Seq("fi", "bin")),
        keptKey.as("kk"), col(target).cast("double").as("y"))
      val zero = candidates.map(_ -> 0.0).toMap.withDefaultValue(0.0)
      val (perBinAggs: Seq[Column], ivSum: Column) = totals match {
        case RegTotals(gMean, nTot) =>
          (Seq(count(lit(1)).cast("double").as("n"), avg("y").as("m")),
            abs(col("m") - gMean) * col("n") / nTot)
        case ClsTotals(nEv, nNonEv) =>
          if (nEv == 0 || nNonEv == 0) return zero
          (Seq(count(lit(1)).cast("double").as("n"), sum("y").as("s")),
            classificationIvTerm(col("n"), col("s"), nEv, nNonEv))
        case McTotals(counts) =>
          val classes = counts.keys.toSeq.sorted
          val nTot = counts.values.sum
          val terms = classes.flatMap { c =>
            val nEv = counts(c); val nNonEv = nTot - nEv
            if (nEv == 0 || nNonEv == 0) None
            else Some(classificationIvTerm(col("n"), col(s"s_$c"), nEv, nNonEv))
          }
          if (terms.isEmpty) return zero
          (count(lit(1)).cast("double").as("n") +: classes.map(c =>
            sum(when(col("y").cast("long") === c, 1.0).otherwise(0.0)).as(s"s_$c")),
            terms.reduce(_ + _))
      }
      pairs.groupBy("fi", "kk", "bin")
        .agg(perBinAggs.head, perBinAggs.tail: _*)
        .groupBy("fi").agg(sum(ivSum).as("iv"))
        .collect()
        .map(r => candidates(r.getInt(0)) -> r.getDouble(1))
        .toMap.withDefaultValue(0.0)
    }

    def select(encoded: DataFrame, candidates: Seq[String], numBins: Map[String, Int],
        target: String, task: Task, tolerance: Double = 1.002): GreedySelector.Result = {
      val totals = totalsOf(encoded, target, task)
      val singleMap = jointIvs(encoded, Nil, candidates, target, task, totals)
      val ranked = candidates.map(f => f -> singleMap(f)).sortBy(-_._2).map(_._1)
      var kept = Vector.empty[String]
      var current = 0.0
      var remaining = ranked
      while (remaining.nonEmpty) {
        val joint = if (kept.isEmpty) singleMap else jointIvs(encoded, kept, remaining, target, task, totals)
        val idx = remaining.indexWhere(f => kept.isEmpty || joint(f) > tolerance * current)
        if (idx < 0) remaining = Nil
        else {
          kept = kept :+ remaining(idx)
          current = joint(remaining(idx))
          remaining = remaining.drop(idx + 1)
        }
      }
      GreedySelector.Result(kept.sortBy(f => numBins.getOrElse(f, Int.MaxValue)), current, singleMap)
    }
  }
}
