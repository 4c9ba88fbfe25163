package graft

import graft.core.{Keys, KvIndexBuilder, NumericBins, Task}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The compiled single-projection probe (KvScorerRef kernel) must be
  * bitwise identical to the broadcast-join cascade on every path:
  * exact hit, each prefix length, global fallback, NULL-translated
  * keys — and must be the plan actually chosen for a small index.
  */
class KvProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def keyCol = Keys.keyColumn(Seq(
    NumericBins(Array(0.03, 0.07)).toColumn(col("l_discount")),
    NumericBins(Array(0.04)).toColumn(col("l_tax")),
    NumericBins(Array(10.0, 25.0, 40.0)).toColumn(col("l_quantity"))))

  private lazy val model = {
    val li = Tables.lineitem(spark, sf)
    val train = li.filter(col("l_quantity") < 40.0 && col("l_discount") < 0.07)
      .select(keyCol.as("key"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pred"))
    KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
  }

  test("compiled probe equals the join cascade bitwise, fallbacks included") {
    // dirty probe: NULLs route to overflow bins -> unseen keys -> the
    // prefix/global cascade fires on a real fraction of rows
    val dirty = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
      col("l_tax"))
    def collectProbe(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_linenumber", "p").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val compiled = collectProbe(model.probe(dirty, keyCol, "p"))
    val joined = collectProbe(model.joinProbe(dirty, keyCol, "p"))
    assert(compiled.nonEmpty && compiled.size == joined.size)
    compiled.foreach { case (k, v) =>
      assert(bits(v) == bits(joined(k)), s"row $k: compiled $v vs joined ${joined(k)}")
    }
  }

  test("a NULL key resolves to the global fallback on both paths") {
    import spark.implicits._
    val one = Seq(1).toDF("i")
    val compiled = model.probe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    val joined = model.joinProbe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    assert(bits(compiled) == bits(model.globalValue))
    assert(bits(joined) == bits(model.globalValue))
  }

  test("toLocalScorer runs two jobs, all under the caller's job group") {
    import spark.implicits._
    val keyed = (1 to 200).map(i => (s"${i % 2}.${i % 3}.${i % 5}.${i % 7}", (i % 2).toDouble))
      .toDF("key", "pred")
    val m4 = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 4, Task.Classification)
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    // job groups are thread-local properties: a collect submitted from a
    // pool thread runs outside `g`, where cancelling `g` cannot reach it
    val g = s"kv-local-scorer-${System.nanoTime()}"
    try {
      sc.setJobGroup(g, "toLocalScorer job count")
      try m4.toLocalScorer finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val started = jobs.asScala.toSeq
    val inGroup = sc.statusTracker.getJobIdsForGroup(g).toSet
    assert(started.size == 2, s"jobs $started")
    assert(started.forall(inGroup), s"jobs $started, group $g has $inGroup")
  }

  test("small index compiles to a joinless, exchange-free projection") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = model.probe(Tables.lineitem(spark, sf), keyCol, "p")
        .queryExecution.executedPlan.toString
      assert(plan.contains("kv_probe"), plan.take(500))
      assert(!plan.contains("Join"), "compiled probe must not join")
      assert(!plan.contains("Exchange"), "compiled probe must not exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }
}
