package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import scala.jdk.CollectionConverters._

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.core.TmpDirs.warehouseDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A double's raw bits: the specs compare served values by them, so
    * `0.0` differs from `-0.0` and a NaN only equals a NaN of its bits. */
  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** `df`'s executed plan with adaptive execution off, so every join and
    * exchange shows as planned instead of inside an unexecuted adaptive
    * shell. The setting is restored afterwards. */
  def executedPlan(df: DataFrame): SparkPlan = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  /** `df`'s final adaptive plan: `df` collected with adaptive execution
    * on, so its shell holds the plan that ran. The setting is restored
    * afterwards. */
  def adaptivePlan(df: DataFrame): SparkPlan = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      df.collect()
      df.queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}

/** The Spark jobs a block of driver code starts, counted under a job
  * group of its own. Job groups are thread-local properties: a job
  * submitted from a pool thread runs outside the group, where cancelling
  * it cannot reach it, so a spec asserts `outside` is empty. */
object GroupJobs {
  final case class Counted[T](result: T, started: Seq[Int], outside: Seq[Int])

  def apply[T](body: => T): Counted[T] = {
    val sc = TestSpark.spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    val g = s"graft-spec-jobs-${System.nanoTime()}"
    val result = try {
      sc.setJobGroup(g, "spec job count")
      val r = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      r
    } finally sc.removeSparkListener(listener)
    val started = jobs.asScala.toSeq
    val inGroup = sc.statusTracker.getJobIdsForGroup(g).toSet
    Counted(result, started, started.filterNot(inGroup))
  }
}
