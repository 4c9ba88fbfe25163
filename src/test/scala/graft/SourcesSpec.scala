package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage beyond the driver's parquet tables (SURVEY
  * §2.1): CSV round-trip with an explicit schema, and partitioned
  * parquet with partition pruning visible in the plan.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("CSV round-trip with explicit schema preserves rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    // deterministic subset (limit() without order can pick different
    // rows across the write job and the agg job)
    val src = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_orderkey") < 500)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = Tables.loadCsv(spark, dir,
      "l_orderkey LONG, l_quantity DOUBLE, l_returnflag STRING")
    assert(back.count() == src.count())
    val a = src.agg(sum("l_quantity"), sum("l_orderkey")).head()
    val b = back.agg(sum("l_quantity"), sum("l_orderkey")).head()
    assert(a == b)
  }

  test("partitioned parquet sink + partition pruning in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString()
    // the partition filter must reach the file index, not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), plan.take(500))
    val direct = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "click").count()
    assert(pruned.count() == direct)
  }
}
