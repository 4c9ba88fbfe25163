package graft

import graft.TestSpark.bits
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binning / key / IV / selector unit tests (SURVEY §5 "ours": binning
  * edge cases, mode tie-break, prefix-fallback semantics).
  */
class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("NumericBins: first-greater-split semantics, overflow + NULL bin") {
    val bins = NumericBins(Array(10.0, 20.0))
    val df = Seq[Option[Double]](Some(5), Some(10), Some(15), Some(20), Some(99), None)
      .toDF("v").select(bins.toColumn(col("v")).as("b"))
    // v<10 -> 0; 10<=v<20 -> 1; v>=20 -> overflow 2; NULL -> 2 (encoder.py:113-128)
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 1L, 2L, 2L, 2L))
    assert(bins.numBins == 3)
  }

  test("NumericBins: empty splits put everything in bin 0") {
    val df = Seq(1.0, 99.0).toDF("v")
      .select(NumericBins(Array.empty).toColumn(col("v")).as("b"))
    assert(df.as[Long].collect().toSeq == Seq(0L, 0L))
  }

  test("CategoricalBins: fitted mapping, unseen and NULL -> overflow bin") {
    val bins = CategoricalBins(Map("a" -> 0, "b" -> 1))
    val df = Seq(Some("a"), Some("b"), Some("zz"), None)
      .toDF("v").select(bins.toColumn(col("v")).as("b"))
    assert(df.as[Long].collect().toSeq == Seq(0L, 1L, 2L, 2L))
  }

  test("CategoricalBins: more categories than bins keep NULL and unseen in [0, numBins)") {
    // six categories, most frequent first; maxBins = 4 folds c3..c5 into bin 3
    val rows = (0 until 6).flatMap(i => Seq.fill(10 - i)((s"c$i", (i % 2).toDouble)))
    val bins = Binning.fitCategorical(rows.toDF("v", "y"), "v", "y", maxBins = 4)
    assert(bins.mapping.size == 6 && bins.numBins == 4 + 1)
    val served = Seq(None, Some("zz"), Some("c5")).toDF("v")
      .select(bins.toColumn(col("v"))).as[Long].collect().toSeq
    val sql = spark.sql(s"SELECT ${graft.queries.SqlGen.catCase("v", bins)} AS b " +
      "FROM VALUES (CAST(NULL AS STRING)), ('zz'), ('c5') AS t(v)").as[Long].collect().toSeq
    val driver = Seq(null, "zz", "c5").map(bins.binValue)
    assert(served == Seq(4L, 4L, 3L) && sql == served && driver == served,
      s"column $served, SQL $sql, driver $driver")
    assert(served.forall(b => b >= 0 && b < bins.numBins))
  }

  test("fitNumeric produces sorted splits bounded by maxBins") {
    val df = (1 to 1000).map(i => (i.toDouble, if (i > 500) 1.0 else 0.0)).toDF("f", "y")
    val bins = Binning.fit(df, Seq("f"), Set.empty, "y", maxBins = 4)("f").asInstanceOf[NumericBins]
    assert(bins.splits.sameElements(bins.splits.sorted))
    assert(bins.numBins <= 4 + 1) // merge loop targets maxBins bins
    // the supervised merge must keep a split near the label flip at 500
    assert(bins.splits.exists(s => math.abs(s - 500) < 80), bins.splits.mkString(","))
  }

  test("Keys: compound key and field-wise prefix") {
    val df = Seq((2L, 0L, 11L)).toDF("a", "b", "c")
      .select(Keys.keyColumn(Seq(col("a"), col("b"), col("c"))).as("k"))
    assert(df.as[String].head() == "2.0.11")
    val p = df.select(Keys.prefix(col("k"), 2).as("p")).as[String].head()
    assert(p == "2.0") // field-wise, NOT char-wise (SURVEY §2.9 divergence)
  }

  test("Aggregates.mode: highest count wins, ties break to lowest value") {
    val df = Seq(("g", 3L), ("g", 3L), ("g", 1L), ("g", 1L), ("g", 9L)).toDF("k", "v")
    val m = Aggregates.mode(df, Seq("k"), "v").as[(String, Long)].head()
    assert(m == ("g", 1L)) // 3 and 1 both count 2 -> lowest value 1
  }

  test("Aggregates.mode works for string values") {
    val df = Seq(("g", "b"), ("g", "a"), ("g", "b"), ("g", "a")).toDF("k", "v")
    assert(Aggregates.mode(df, Seq("k"), "v").as[(String, String)].head() == ("g", "a"))
  }

  test("KvModel probe: exact hit, field-wise prefix fallback, global fallback") {
    val train = Seq(("0.0", 1.0), ("0.1", 0.0), ("1.0", 1.0))
      .toDF("key", "pred")
    val model = KvIndexBuilder.buildFromKeyed(train, keyLen = 2, Task.Classification)
    val probe = Seq(("r1", 0L, 0L), ("r2", 0L, 7L), ("r3", 9L, 9L)).toDF("id", "a", "b")
    val out = model.probe(probe, Keys.keyColumn(Seq(col("a"), col("b"))), "p")
      .select("id", "p").as[(String, Double)].collect().toMap
    assert(out("r1") == 1.0)          // exact
    assert(out("r2") == 0.5)          // prefix "0" -> avg(1.0, 0.0) over kv leaves
    assert(out("r3") == 2.0 / 3)      // global avg over kv values
    // the global value is the index's one len = 0 row: avg over the kv rows
    val avgKv = model.kv.agg(avg("value")).head().getDouble(0)
    val root = model.index.where(col("len") === 0).select("value").as[Double].collect().toSeq
    assert(root.map(bits) == Seq(bits(avgKv)) && bits(model.globalValue) == bits(avgKv))
  }

  test("multi-class KV uses per-key mode with pinned tie-break") {
    val train = Seq(("0.1", 2.0), ("0.1", 2.0), ("0.1", 5.0), ("2.2", 1.0))
      .toDF("key", "pred")
    val model = KvIndexBuilder.buildFromKeyed(train, 2, Task.MultiClass)
    val kv = model.kv.as[(String, Double)].collect().toMap
    assert(kv("0.1") == 2.0)
    // the global value is the mode over the kv rows, where classes 1.0
    // and 2.0 tie: the pinned tie-break picks 1.0, and so does len = 0
    val modeKv = Aggregates.mode(model.kv.select("value"), Seq.empty, "value").head().getDouble(0)
    val root = model.index.where(col("len") === 0).select("value").as[Double].collect().toSeq
    assert(modeKv == 1.0 && root == Seq(modeKv) && model.globalValue == modeKv)
  }

  test("typed Dataset accessors: Coef / NNWeight; the kv rows") {
    val train = Seq(("0.0", 1.0), ("0.1", 0.0)).toDF("key", "pred")
    val model = KvIndexBuilder.buildFromKeyed(train, 2, Task.Classification)
    assert(model.kv.as[(String, Double)].collect().sorted.toSeq == Seq("0.0" -> 1.0, "0.1" -> 0.0))
    val lm = graft.models.LinearModel(Array(0.5, -1.0), 0.1)
    val cs = lm.coefEntries(spark).collect().sortBy(_.colId)
    assert(cs.toSeq == Seq(Types.Coef(0L, 0, 0.5, 0.1), Types.Coef(0L, 1, -1.0, 0.1)))
    val mlp = graft.models.MlpModel(
      Array(Array(1.0)), Array(0.5), Array(Array(2.0)), Array(-0.5))
    val ws = mlp.weightEntries(spark).collect().sortBy(w => (w.layer, w.row, w.col))
    assert(ws.toSeq == Seq(
      Types.NNWeight(0, 0, 0, 1.0, 0.5), Types.NNWeight(1, 0, 0, 2.0, -0.5)))
  }

  /** The IV of the grouping (kept ++ f) from the spec-local two-shuffle
    * form ([[FitPassesSpec.TwoShuffle]]), the reference the one-shuffle
    * rounds are checked against. */
  private def refIv(df: DataFrame, kept: Seq[String], f: String, y: String, task: Task): Double =
    FitPassesSpec.TwoShuffle.jointIvs(df, kept, Seq(f), y, task,
      FitPassesSpec.TwoShuffle.totalsOf(df, y, task))(f)

  test("IV: informative grouping scores higher than uninformative") {
    val df = (1 to 400).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      (y, y, (i % 3).toDouble) // f_good == y, f_noise independent
    }.toDF("y", "f_good", "f_noise")
    val ivs = IV.jointIvs(df, Nil, Seq("f_good", "f_noise"), "y", Task.Classification)
    val (good, noise) = (ivs("f_good"), ivs("f_noise"))
    assert(good > noise)
    assert(good > 1.0)
  }

  test("batched single-feature ranking (jointIvs, empty kept) equals per-feature IV jobs") {
    val df = (1 to 500).map { i =>
      ((i % 4).toDouble, (i % 7).toDouble, if (i % 2 == 0) 1.0 else 0.0)
    }.toDF("b_a", "b_b", "y").cache()
    val batched = IV.jointIvs(df, Nil, Seq("b_a", "b_b"), "y", Task.Classification)
    val perA = refIv(df, Nil, "b_a", "y", Task.Classification)
    val perB = refIv(df, Nil, "b_b", "y", Task.Classification)
    assert(math.abs(batched("b_a") - perA) < 1e-9)
    assert(math.abs(batched("b_b") - perB) < 1e-9)
    val reg = IV.jointIvs(df, Nil, Seq("b_a"), "y", Task.Regression)
    val perReg = refIv(df, Nil, "b_a", "y", Task.Regression)
    assert(math.abs(reg("b_a") - perReg) < 1e-9)
  }

  test("batched jointIvs equals sequential joint IV for all three tasks") {
    val df = (1 to 600).map { i =>
      ((i % 4).toDouble, (i % 3).toDouble, (i % 5).toDouble,
       if ((i % 4) + (i % 3) > 3) 1.0 else 0.0,
       (i % 4 + 0.1 * (i % 7)).toDouble,
       (i % 3).toDouble)
    }.toDF("b_a", "b_b", "b_c", "y_cls", "y_reg", "y_multi").cache()
    // empty kept = single IVs
    val s = IV.jointIvs(df, Nil, Seq("b_a", "b_b"), "y_cls", Task.Classification)
    assert(math.abs(s("b_a") - refIv(df, Nil, "b_a", "y_cls", Task.Classification)) < 1e-9)
    // joint against a kept set, every candidate in one job
    val j = IV.jointIvs(df, Seq("b_a"), Seq("b_b", "b_c"), "y_cls", Task.Classification)
    assert(math.abs(j("b_b") - refIv(df, Seq("b_a"), "b_b", "y_cls", Task.Classification)) < 1e-9)
    assert(math.abs(j("b_c") - refIv(df, Seq("b_a"), "b_c", "y_cls", Task.Classification)) < 1e-9)
    val r = IV.jointIvs(df, Seq("b_a"), Seq("b_b"), "y_reg", Task.Regression)
    assert(math.abs(r("b_b") - refIv(df, Seq("b_a"), "b_b", "y_reg", Task.Regression)) < 1e-9)
    val m = IV.jointIvs(df, Seq("b_a"), Seq("b_b"), "y_multi", Task.MultiClass)
    assert(math.abs(m("b_b") - refIv(df, Seq("b_a"), "b_b", "y_multi", Task.MultiClass)) < 1e-9)
    // non-integral labels: both paths must TRUNCATE consistently (an
    // exact-double class match would drop 2.25 from class 2's bin sums
    // while the class counts still include it)
    val frac = df.withColumn("y_frac", col("y_multi") + lit(0.25))
    val mf = IV.jointIvs(frac, Seq("b_a"), Seq("b_b"), "y_frac", Task.MultiClass)
    assert(math.abs(mf("b_b") - refIv(frac, Seq("b_a"), "b_b", "y_frac", Task.MultiClass)) < 1e-9)
  }

  test("GreedySelector keeps the informative feature and orders by bin count") {
    val df = (1 to 600).map { i =>
      val y = if (i % 2 == 0) 1.0 else 0.0
      (y, y, (i % 5).toDouble)
    }.toDF("y", "b_sig", "b_noise")
    val r = GreedySelector.select(df, Seq("b_sig", "b_noise"),
      Map("b_sig" -> 2, "b_noise" -> 5), "y", Task.Classification)
    assert(r.features.contains("b_sig"))
    assert(r.features.head == "b_sig") // bin-count asc puts 2-bin feature first
  }
}
