package graft

import graft.TestSpark.bits
import graft.core.{Aggregates, Keys, KvIndexBuilder, KvIndexState, KvModel, Persist, StringCascade, Task, TmpDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental index maintenance: append(delta) must equal a
  * from-scratch rebuild over base ∪ delta — kv entries, the whole
  * (len, key) index relation, and the global fallback. For 0/1
  * predictions the sums are exact integers in double, so mean equality
  * is BITWISE; multi-class mode merges integer counts, also exact.
  */
class KvIndexStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def kvMap(df: org.apache.spark.sql.DataFrame,
                    k: String, v: String): Map[String, Long] =
    df.select(col(k), col(v)).collect()
      .map(r => r.getString(0) -> bits(r.getDouble(1))).toMap

  /** The whole index relation: kv, every prefix level and len = 0. */
  private def indexMap(m: graft.core.KvModel): Map[(Int, String), Long] =
    m.index.select("len", "key", "value").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> bits(r.getDouble(2))).toMap

  private def assertSameModel(a: graft.core.KvModel, b: graft.core.KvModel): Unit = {
    assert(kvMap(a.kv, "key", "value") == kvMap(b.kv, "key", "value"))
    assert(indexMap(a) == indexMap(b))
    assert(bits(a.globalValue) == bits(b.globalValue))
  }

  test("mean-task append equals rebuild (bitwise on 0/1 predictions)") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      (s"${i % 5}.${i % 3}", if (i % 7 < 3) 1.0 else 0.0, i)
    }.toDF("key", "pred", "i")
    val base  = rows.filter(col("i") % 4 =!= 0).select("key", "pred")
    val delta = rows.filter(col("i") % 4 === 0).select("key", "pred")
    val appended = KvIndexState.build(base, 2, Task.Classification)
      .append(delta).toModel()
    val rebuilt = KvIndexBuilder.buildFromKeyed(
      rows.select("key", "pred"), 2, Task.Classification)
    assertSameModel(appended, rebuilt)
  }

  test("multi-class mode append equals rebuild, pinned ties included") {
    import spark.implicits._
    // engineered tie on key "0.0": classes 1.0 and 2.0 end with equal
    // counts only AFTER the delta merges in — the pinned tie-break
    // (lowest value) must pick 1.0 on both paths
    val base = Seq(
      ("0.0", 2.0), ("0.0", 2.0), ("0.0", 1.0),
      ("1.0", 3.0), ("1.1", 0.0)).toDF("key", "pred")
    val delta = Seq(
      ("0.0", 1.0), ("1.0", 3.0), ("1.1", 4.0), ("1.1", 4.0)).toDF("key", "pred")
    val appended = KvIndexState.build(base, 2, Task.MultiClass)
      .append(delta).toModel()
    val rebuilt = KvIndexBuilder.buildFromKeyed(
      base.unionByName(delta), 2, Task.MultiClass)
    assertSameModel(appended, rebuilt)
    // the tie really resolved low
    assert(kvMap(appended.kv, "key", "value")("0.0") == bits(1.0))
  }

  test("state persists: save -> load -> append equals never-saved append") {
    import spark.implicits._
    val rows = (1 to 300).map { i =>
      (s"${i % 4}.${i % 3}", if (i % 5 < 2) 1.0 else 0.0, i)
    }.toDF("key", "pred", "i")
    val base  = rows.filter(col("i") % 3 =!= 0).select("key", "pred")
    val delta = rows.filter(col("i") % 3 === 0).select("key", "pred")
    for (task <- Seq(Task.Classification, Task.MultiClass)) {
      val st = KvIndexState.build(base, 2, task)
      val dir = TmpDirs.scratch("kv_state_spec", task.toString)
      Persist.saveState(st, dir)
      // the stats are read with the schema saveState wrote: no job
      val load = GroupJobs(Persist.loadState(spark, dir))
      assert(load.started.isEmpty, s"$task loadState $load")
      val reloaded = load.result
      assert(reloaded.task == st.task && reloaded.keyLen == st.keyLen)
      assertSameModel(reloaded.append(delta).toModel(), st.append(delta).toModel())
    }
  }

  test("multiple appends compose") {
    import spark.implicits._
    val parts = (0 until 3).map { p =>
      (1 to 100).map(i => (s"${(i + p) % 4}.${i % 2}", (i % 3).toDouble))
        .toDF("key", "pred")
    }
    val appended = parts.tail
      .foldLeft(KvIndexState.build(parts.head, 2, Task.Regression))(_.append(_))
      .toModel()
    val rebuilt = KvIndexBuilder.buildFromKeyed(
      parts.reduce(_.unionByName(_)), 2, Task.Regression)
    // regression means over small-integer predictions: sums exact
    assertSameModel(appended, rebuilt)
  }

  test("an index nothing voted for fails loudly, naming the cause") {
    import spark.implicits._
    val allNull = Seq[(String, java.lang.Double)]("1.1" -> null, "1.2" -> null).toDF("key", "pred")
    val empty = allNull.where(lit(false))
    for (task <- Seq(Task.Classification, Task.MultiClass);
         (what, keyed) <- Seq("all-NULL predictions" -> allNull, "no rows" -> empty);
         (path, build) <- Seq[(String, () => Any)](
           "buildFromKeyed" -> (() => KvIndexBuilder.buildFromKeyed(keyed, 2, task)),
           "KvIndexState" -> (() => KvIndexState.build(keyed, 2, task).toModel()))) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("no len = 0") && e.getMessage.contains("prediction"),
        s"$task $what $path: ${e.getMessage}")
    }
  }

  test("a NULL key fails loudly on a build and on an append's toModel, naming it") {
    import spark.implicits._
    val withNull = Seq[(String, Double)](("1.1", 0.0), ("1.2", 0.0), ("2.1", 0.0), (null, 1.0), (null, 1.0))
      .toDF("key", "pred")
    val clean = withNull.where(col("key").isNotNull)
    for (task <- Seq(Task.Classification, Task.Regression, Task.MultiClass);
         (path, build) <- Seq[(String, () => Any)](
           "buildFromKeyed" -> (() => KvIndexBuilder.buildFromKeyed(withNull, 2, task)),
           "append" -> (() => KvIndexState.build(clean, 2, task).append(withNull).toModel()))) {
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("the index has a NULL key"), s"$task $path: ${e.getMessage}")
    }
  }

  test("toModel on the append path runs pinned job counts under the caller's job group") {
    import spark.implicits._
    val rows = (1 to 300).map(i => (s"${i % 4}.${i % 3}", (i % 3).toDouble, i)).toDF("key", "pred", "i")
    for (task <- Seq(Task.Classification, Task.MultiClass)) {
      // yesterday's state, materialized before the append
      val st0 = KvIndexState.build(rows.where(col("i") % 3 =!= 0).select("key", "pred"), 2, task)
      val st = st0.copy(stats = st0.stats.cache())
      st.stats.count()
      val merged = st.append(rows.where(col("i") % 3 === 0).select("key", "pred"))
      // the delta's partial aggregate's map stage, then ONE job: the
      // merge's map stage, then ONE task that merges, sorts by code, runs
      // the sorted pass and hands the index's rows to the driver
      val run = GroupJobs(merged.toModel())
      assert(run.started.size == 2 && run.outside.isEmpty, s"$task toModel $run")
      st.stats.unpersist()
    }
  }

  /** The whole index relation with its codes, by (len, key); asserts no
    * (len, key) repeats. */
  private def coded(m: KvModel): Map[(Int, String), (Long, Long)] = {
    val rows = m.index.select("len", "key", "code", "value").collect()
    val byKey = rows.map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), bits(r.getDouble(3)))).toMap
    assert(byKey.size == rows.length, "a (len, key) repeats")
    byKey
  }

  /** `keyLen`-field votes over the cells of `ranges` (field `i` in
    * `0 until ranges(i)`): a seeded `share` of the cells, each voted 1, 2
    * or 4 times by `pred`. With integer predictions every mean is then a
    * multiple of 1/4, and every prefix sum exact whatever its order. */
  private def votes(ranges: Seq[Int], share: Double, seed: Int)(pred: (Seq[Int], scala.util.Random) => Double) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val cells = ranges.foldLeft(Seq(Seq.empty[Int]))((acc, r) => acc.flatMap(p => (0 until r).map(p :+ _)))
    cells.filter(_ => rnd.nextDouble() < share).flatMap { c =>
      Seq.fill(Seq(1, 2, 4)(rnd.nextInt(3)))(c.mkString(".") -> pred(c, rnd))
    }.toDF("key", "pred")
  }

  test("the sorted pass equals the aggregate chain at every index row and every slot") {
    val classes = Seq(-0.0, 0.0, 1.0, 2.0, Double.NaN)
    val cases = Seq[(String, Seq[Int], Task, Option[Double], DataFrame)](
      ("0/1 means", Seq(3, 4, 2), Task.Classification, None,
        votes(Seq(3, 4, 2), 0.7, 1)((_, r) => r.nextInt(2).toDouble)),
      ("balanced 0/1 means", Seq(3, 4, 2), Task.Classification, Some(1.5),
        votes(Seq(3, 4, 2), 0.7, 2)((_, r) => r.nextInt(2).toDouble)),
      ("signed zeros", Seq(3, 3, 3), Task.Regression, None,
        votes(Seq(3, 3, 3), 0.8, 3)((_, r) => Seq(-0.0, 0.0, 0.0, 2.0, -3.0)(r.nextInt(5)))),
      ("a NaN mean", Seq(3, 3, 3), Task.Regression, None,
        votes(Seq(3, 3, 3), 0.8, 4)((c, r) => if (c == Seq(1, 1, 1)) Double.NaN else r.nextInt(4).toDouble)),
      // least(NaN * r, 1.0) is 1.0
      ("a NaN mean, balanced", Seq(3, 3, 3), Task.Regression, Some(0.5),
        votes(Seq(3, 3, 3), 0.8, 11)((c, r) => if (c == Seq(1, 1, 1)) Double.NaN else r.nextInt(4).toDouble)),
      ("tied classes, signed zeros and NaN", Seq(3, 4, 2), Task.MultiClass, None,
        votes(Seq(3, 4, 2), 0.8, 5)((_, r) => classes(r.nextInt(classes.length)))),
      ("balanced classes", Seq(3, 4, 2), Task.MultiClass, Some(0.7),
        votes(Seq(3, 4, 2), 0.8, 6)((_, r) => r.nextInt(3).toDouble)),
      ("keyLen 1", Seq(6), Task.Classification, None, votes(Seq(6), 0.9, 7)((_, r) => r.nextInt(2).toDouble)),
      ("keyLen 1 classes", Seq(6), Task.MultiClass, None, votes(Seq(6), 0.9, 8)((_, r) => r.nextInt(3).toDouble)),
      // 8^5 x 5 slots is above 2^17: the first five fields compile
      ("above the cap", Seq(7, 7, 7, 7, 7, 4), Task.MultiClass, None,
        votes(Seq(7, 7, 7, 7, 7, 4), 0.03, 9)((_, r) => r.nextInt(3).toDouble)),
      ("above the cap, means", Seq(7, 7, 7, 7, 7, 4), Task.Regression, None,
        votes(Seq(7, 7, 7, 7, 7, 4), 0.03, 10)((_, r) => r.nextInt(3).toDouble)))
    for ((what, ranges, task, ratio, keyed) <- cases) {
      val keyLen = ranges.length
      val m = KvIndexBuilder.buildFromKeyed(keyed, keyLen, task, ratio)
      val chain = KvIndexStateSpec.Chain.index(KvIndexState.build(keyed, keyLen, task), ratio)
      val got = coded(m)
      val want = chain.collect().map(r => (r.getInt(0), r.getString(1)) -> bits(r.getDouble(2))).toMap
      assert(got.size == want.size && got.view.mapValues(_._2).toMap == want, what)
      got.foreach { case ((l, k), (code, _)) =>
        val packed = k.split('.').filter(_.nonEmpty).foldLeft(0L)((c, f) => c << Keys.codeWidth(keyLen) | f.toLong)
        assert(code == packed, s"$what: ($l, $k) code $code")
      }
      assert(bits(m.globalValue) == want((0, "")), what)
      assert(m.kvCount == want.keys.count(_._1 == keyLen), what)
      // every slot of the probe's key space, the unseen digits included,
      // against the string cascade of the chain's rows
      val scorer = m.toLocalScorer
      val reference = StringCascade(keyLen,
        want.toSeq.map { case ((l, k), v) => (l, k, java.lang.Double.longBitsToDouble(v)) })
      val slots = m.radices.foldLeft(Seq(Seq.empty[Long]))((acc, r) => acc.flatMap(p => (0L to r).map(p :+ _)))
      assert(slots.length == m.radices.map(_ + 1).product, what)
      slots.foreach { s =>
        val k = s.mkString(".")
        val ref = bits(reference.scoreKey(k))
        assert(bits(scorer.score(s.toArray)) == ref && bits(scorer.scoreKey(k)) == ref, s"$what slot $k")
      }
    }
  }

  test("a mean-task index is bitwise the same from 1 partition and from 7") {
    import spark.implicits._
    // 0/1 votes, 3, 5 or 7 per key: exact per-key sums, but means that
    // are not multiples of a power of 2, so a prefix sum's last bits
    // depend on its order
    val rnd = new scala.util.Random(17)
    val rows = (for (a <- 0 until 6; b <- 0 until 6; c <- 0 until 6 if rnd.nextDouble() < 0.8;
                     _ <- 1 to Seq(3, 5, 7)(rnd.nextInt(3))) yield (s"$a.$b.$c", rnd.nextInt(2).toDouble))
    def index(parts: Int) = coded(KvIndexBuilder.buildFromKeyed(
      spark.sparkContext.parallelize(rnd.shuffle(rows), parts).toDF("key", "pred"), 3, Task.Regression))
    assert(index(1) == index(7))
  }
}

object KvIndexStateSpec {
  /** The finalize the sorted pass replaced, as a chain of Spark
    * aggregates: each key's value by [[Aggregates.modeFromCounts]] or
    * `sum / cnt`, the balance reweight, then ONE aggregate over the kv
    * rows exploded into their `substring_index` prefixes of length
    * `0 .. keyLen-1`, grouped by (len, prefix) with `avg` or
    * [[Aggregates.mode]]. Its (len, key, value) rows are the specs'
    * reference for [[KvIndexState.toModel]]. */
  object Chain {
    def index(st: KvIndexState, balanceRatio: Option[Double]): DataFrame = {
      val n = st.keyLen
      val raw = st.task match {
        case Task.MultiClass =>
          Aggregates.modeFromCounts(st.stats, Seq("key"), "pred", "cnt").withColumnRenamed("pred", "value")
        case _ => st.stats.select(col("key"), (col("sum") / col("cnt")).as("value"))
      }
      val kv = balanceRatio.fold(raw)(r => raw.withColumn("value", least(col("value") * r, lit(1.0))))
      val pfx = kv
        .select(explode(array((0 until n).map(l =>
          struct(lit(l).as("len"), Keys.prefix(col("key"), l).as("key"))): _*)).as("p"), col("value"))
        .select(col("p.len").as("len"), col("p.key").as("key"), col("value"))
      val aggregated = st.task match {
        case Task.MultiClass => Aggregates.mode(pfx, Seq("len", "key"), "value")
        case _ => pfx.groupBy("len", "key").agg(avg("value").as("value"))
      }
      kv.select(lit(n).as("len"), col("key"), col("value")).unionByName(aggregated)
    }
  }
}
