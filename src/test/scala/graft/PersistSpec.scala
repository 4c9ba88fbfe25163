package graft

import graft.TestSpark.bits
import graft.core.{KvIndexBuilder, KvModel, NumericBins, Persist, Task, TmpDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fitted-artifact persistence (S5): save → load must reproduce every
  * serve-time constant bit for bit, and the reloaded index must probe
  * identically to the in-memory one — including the prefix-fallback and
  * global-fallback paths, which only fire on keys unseen at fit time.
  */
class PersistSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val trained = {
    val df = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"), col("l_discount"), col("l_returnflag"),
      (col("l_extendedprice") > 30000.0).cast("double").as("target"))
    InferDbPipeline.fitWithModel(df, InferDbPipeline.Config(
      features = Seq("l_quantity", "l_discount", "l_returnflag"),
      categorical = Set("l_returnflag"),
      target = "target", task = Task.Classification, maxBins = 5,
      // non-default fit-time fields: the round-trip must carry them too
      // (a reloaded config falling back to defaults would re-fit a
      // different model on refresh)
      tolerance = 1.01, maxFeatures = 2, maxCandidates = 7,
      balanceRatio = Some(1.5), maxOneHot = 16))._1
  }

  private lazy val reloaded = {
    val dir = TmpDirs.scratch("persist_spec", sf)
    trained.save(dir)
    InferDbPipeline.load(spark, dir)
  }

  test("fitted constants round-trip exactly") {
    assert(reloaded.selected == trained.selected)
    // the ENTIRE config, including fit-time-only fields
    assert(reloaded.config == trained.config)
    assert(bits(reloaded.kv.globalValue) == bits(trained.kv.globalValue))
    assert(reloaded.bins == trained.bins ||
      // NumericBins holds an Array — compare content, not reference
      trained.bins.forall { case (f, spec) => (spec, reloaded.bins(f)) match {
        case (NumericBins(a), NumericBins(b)) => a.sameElements(b)
        case (x, y) => x == y
      }})
    def kvBits(m: KvModel) = m.kv.select("key", "value").collect()
      .map(r => r.getString(0) -> bits(r.getDouble(1))).toMap
    // the whole index relation: kv, every prefix level and len = 0
    def indexBits(m: KvModel) = m.index.select("len", "key", "value").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> bits(r.getDouble(2))).toMap
    assert(kvBits(trained.kv) == kvBits(reloaded.kv))
    assert(indexBits(trained.kv).keys.exists { case (l, _) => l > 0 && l < trained.kv.keyLen })
    assert(indexBits(trained.kv) == indexBits(reloaded.kv))
    assert(reloaded.kv.kvCount == trained.kv.kvCount)
  }

  test("a saved index is three relations; older layouts are rejected by name") {
    val dir = TmpDirs.scratch("persist_spec_layout", sf)
    trained.save(dir)
    val rels = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(rels == Set("meta", "bins", "index"))
    // the index is saved as exactly (len, key, value), the rows of the
    // model's index view: its key codes never reach the directory
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
    assert(spark.read.parquet(s"$dir/index").schema.map(f => f.name -> f.dataType) ==
      Seq("len" -> IntegerType, "key" -> StringType, "value" -> DoubleType))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("len", "key", "value").collect()
      .map(r => (r.getInt(0), r.getString(1), bits(r.getDouble(2)))).toSet
    assert(rows(spark.read.parquet(s"$dir/index")) == rows(trained.kv.index))
    assert(spark.read.parquet(s"$dir/meta").head().getAs[String]("layout") == "index/3")
    val meta = spark.read.parquet(s"$dir/meta")
    // the per-length layout: meta without `layout`, kv/ and prefix_<l>/
    val perLength = TmpDirs.scratch("persist_spec_old_layout", sf)
    meta.drop("layout").write.mode("overwrite").parquet(s"$perLength/meta")
    trained.kv.kv.write.mode("overwrite").parquet(s"$perLength/kv")
    trained.kv.prefixes.foreach { case (l, t) =>
      t.write.mode("overwrite").parquet(s"$perLength/prefix_$l")
    }
    // the two-relation layout: meta tagged kv+prefixes/2, kv/ and prefixes/
    val twoRel = TmpDirs.scratch("persist_spec_kv_prefixes_layout", sf)
    meta.withColumn("layout", lit("kv+prefixes/2")).write.mode("overwrite").parquet(s"$twoRel/meta")
    trained.kv.kv.write.mode("overwrite").parquet(s"$twoRel/kv")
    trained.kv.index.where(col("len") > 0 && col("len") < trained.kv.keyLen)
      .withColumnRenamed("key", "prefix").write.mode("overwrite").parquet(s"$twoRel/prefixes")
    for ((old, layout) <- Seq(perLength -> "<none>", twoRel -> "kv+prefixes/2")) {
      spark.read.parquet(s"$dir/bins").write.mode("overwrite").parquet(s"$old/bins")
      val e = intercept[IllegalArgumentException](InferDbPipeline.load(spark, old))
      assert(e.getMessage.contains(s"'$layout'") && e.getMessage.contains(s"'${Persist.Layout}'"),
        e.getMessage)
    }
    // an index without its len = 0 row is rejected naming the directory
    val noRoot = TmpDirs.scratch("persist_spec_no_root", sf)
    meta.write.mode("overwrite").parquet(s"$noRoot/meta")
    spark.read.parquet(s"$dir/bins").write.mode("overwrite").parquet(s"$noRoot/bins")
    trained.kv.index.where(col("len") > 0).write.mode("overwrite").parquet(s"$noRoot/index")
    val e = intercept[IllegalArgumentException](InferDbPipeline.load(spark, noRoot))
    assert(e.getMessage.contains(noRoot) && e.getMessage.contains("no len = 0"), e.getMessage)
    // and one whose key does not pack (a leading zero), naming the key too
    val unpacked = TmpDirs.scratch("persist_spec_unpacked", sf)
    meta.write.mode("overwrite").parquet(s"$unpacked/meta")
    spark.read.parquet(s"$dir/bins").write.mode("overwrite").parquet(s"$unpacked/bins")
    val bad = Seq.fill(trained.kv.keyLen)("01").mkString(".")
    import spark.implicits._
    trained.kv.index.select("len", "key", "value").unionByName(Seq((trained.kv.keyLen, bad, 0.5)).toDF("len", "key", "value"))
      .write.mode("overwrite").parquet(s"$unpacked/index")
    val u = intercept[IllegalArgumentException](InferDbPipeline.load(spark, unpacked))
    assert(u.getMessage.contains(s"$unpacked/index") && u.getMessage.contains(s"'$bad'"), u.getMessage)
  }

  test("load rejects a NULL key and a second len = 0 row, naming the directory") {
    import spark.implicits._
    val dir = TmpDirs.scratch("persist_spec_null_key", sf)
    trained.save(dir)
    val saved = trained.kv.index.select("len", "key", "value")
    val n = trained.kv.keyLen
    val (unseen, exact) = (Seq.fill(n)("99").mkString("."), saved.where(col("len") === n).head().getString(1))
    val prefix = saved.where(col("len") === n - 1).head().getString(1)
    for ((what, extra, expected) <- Seq[(String, (Int, String, java.lang.Double), String)](
        ("a NULL key", (n, null, 0.5), "has a NULL key"),
        ("a NULL prefix", (n - 1, null, 0.5), "has a NULL key"),
        ("a second root", (0, null, 1.0), "has 2 len = 0 (global value) rows"),
        ("a NULL value", (n, unseen, null), s"has a NULL value at key '$unseen'"),
        ("a NULL root value", (0, "", null), "has a NULL value at the len = 0 (global value) row"),
        ("a second exact row", (n, exact, 0.5), s"has key '$exact' twice"),
        ("a second prefix row", (n - 1, prefix, 0.5), s"has key '$prefix' twice"))) {
      val bad = TmpDirs.scratch("persist_spec_null_key_bad", sf)
      Seq("meta", "bins").foreach(r => spark.read.parquet(s"$dir/$r").write.mode("overwrite").parquet(s"$bad/$r"))
      saved.unionByName(Seq(extra).toDF("len", "key", "value")).coalesce(1)
        .write.mode("overwrite").parquet(s"$bad/index")
      val e = intercept[IllegalArgumentException](InferDbPipeline.load(spark, bad))
      assert(e.getMessage.contains(s"$bad/index") && e.getMessage.contains(expected), s"$what: ${e.getMessage}")
    }
  }

  test("load runs pinned job counts under the caller's job group: no schema inference") {
    val dir = TmpDirs.scratch("persist_spec_load_jobs", sf)
    trained.save(dir)
    // the meta row, the bins, then ONE job that collects the index's rows
    // to the driver, where the model's kv count, global value and key
    // checks come from — each relation read with the schema save wrote,
    // never inferred
    val load = GroupJobs(InferDbPipeline.load(spark, dir))
    assert(load.started.size == 3 && load.outside.isEmpty, s"load $load")
    assert(load.result.kv.kvCount == trained.kv.kvCount)
    // the fitted-probe oracle reads the index view of the model's driver
    // copy: a local relation, so no job
    val oracle = GroupJobs(graft.queries.SqlGen.fittedProbeSql(load.result, "lineitem", Seq("l_orderkey"), Map.empty, "p"))
    assert(oracle.started.isEmpty && oracle.outside.isEmpty && oracle.result.nonEmpty, s"fittedProbeSql $oracle")
  }

  test("a reloaded over-cap index keeps the split form and serves bit-identically") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    // 400 kv keys i.i over a 401 x 401 key space, above the cap: the
    // first field is compiled (s* = 1), the exact level joined
    val kv = KvIndexBuilder.buildFromKeyed(
      (0 until 400).map(i => (s"$i.$i", (i % 3).toDouble)).toDF("key", "pred"), keyLen = 2, Task.Classification)
    // bins 0 .. 400 for values below 0.5 .. from 399.5: bin 400 is unseen
    val splits = Array.tabulate(400)(_ + 0.5)
    val fitted = InferDbPipeline.Fitted(
      InferDbPipeline.Config(features = Seq("f0", "f1"), target = "y"),
      Map("f0" -> NumericBins(splits), "f1" -> NumericBins(splits)), Seq("f0", "f1"), 0.0, kv)
    val dir = TmpDirs.scratch("persist_spec_over_cap", sf)
    fitted.save(dir)
    val load = GroupJobs(InferDbPipeline.load(spark, dir))
    assert(load.started.size == 3 && load.outside.isEmpty, s"load $load")
    val back = load.result
    assert(back.kv.radices == kv.radices && back.kv.split == 1, s"${back.kv.radices} split ${back.kv.split}")
    // per f0: an exact hit, a prefix hit, and (f0 = 400, 401) the global value
    val input = (0 to 401).flatMap(i => Seq((i.toDouble, i.toDouble), (i.toDouble, i + 1.0), (i.toDouble, 0.0)))
      .toDF("f0", "f1")
    val served = back.transform(input, "p")
    val plan = TestSpark.executedPlan(served)
    assert(plan.toString.contains("kv_probe(") && plan.collect { case j: BroadcastHashJoinExec => j }.size == 1,
      s"the reloaded index must serve split:\n$plan")
    def byRow(df: org.apache.spark.sql.DataFrame) = df.select("f0", "f1", "p").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> bits(r.getDouble(2))).toMap
    val a = byRow(fitted.transform(input, "p"))
    val b = byRow(served)
    assert(a.size == input.distinct().count() && a == b)
    // 5.6 falls back to its prefix 5 (5.5's value), 400.0 to the global value
    assert(b((5.0, 6.0)) == bits(2.0) && b((400.0, 0.0)) == bits(kv.globalValue) && kv.globalValue != 2.0)
  }

  test("reloaded index probes identically, including fallback paths") {
    // probe frame widened beyond the training distribution so unseen
    // keys exercise prefix + global fallbacks on both sides
    val probe = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_quantity") * 3.0).as("l_quantity"),
      col("l_discount"), col("l_returnflag"))
    val a = trained.transform(probe, "p")
      .select("l_orderkey", "l_linenumber", "p").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val b = reloaded.transform(probe, "p")
      .select("l_orderkey", "l_linenumber", "p").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(a.nonEmpty && a.size == b.size)
    a.foreach { case (k, v) =>
      assert(bits(v) == bits(b(k)), s"row $k: $v vs ${b(k)}")
    }
  }

  test("local scorer from the reloaded artifact agrees with the in-memory one") {
    val sa = trained.toLocalScorer
    val sb = reloaded.toLocalScorer
    val inputs = Seq(
      Seq[Any](10.0, 0.05, "R"), Seq[Any](45.0, 0.0, "N"),
      Seq[Any](999.0, 0.99, "Z"), Seq[Any](null, null, null))
      // only the SELECTED features feed the scorer
      .map(_.take(trained.selected.length))
    inputs.foreach { in =>
      assert(bits(sa(in)) == bits(sb(in)))
    }
  }
}
