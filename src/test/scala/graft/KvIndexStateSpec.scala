package graft

import graft.TestSpark.bits
import graft.core.{KvIndexBuilder, KvIndexState, Persist, Task, TmpDirs}
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
}
