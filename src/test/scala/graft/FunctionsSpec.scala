package graft

import graft.functions.{Fns, TextHash}
import graft.metrics.Metrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("crazyExp: reference clamps (<0 -> 0, >700 -> exp(700))") {
    val out = Seq(-1.0, 0.0, 1.0, 800.0).toDF("x")
      .select(Fns.crazyExp(col("x")).as("y")).as[Double].collect()
    assert(out(0) == 0.0)
    assert(out(1) == 1.0)
    assert(math.abs(out(2) - math.exp(1.0)) < 1e-12)
    assert(out(3) == math.exp(700.0))
  }

  test("sigmoidRef inherits the crazy-exp quirk: exactly 1.0 for z > 0") {
    val out = Seq(0.5, -0.5).toDF("z")
      .select(Fns.sigmoidRef(col("z")).as("p")).as[Double].collect()
    assert(out(0) == 1.0) // quirk kept for parity (crazy_exp(-0.5) = 0)
    assert(math.abs(out(1) - 1.0 / (1.0 + math.exp(0.5))) < 1e-12)
  }

  test("dot product and cosine via higher-order functions") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    val nn = sqrt(Fns.normSq(a)) * sqrt(Fns.normSq(b))
    val (dot, cos) = df.select(
      Fns.dotProduct(a, b).as("d"),
      when(nn === 0.0, lit(0.0)).otherwise(Fns.dotProduct(a, b) / nn).as("c")).as[(Double, Double)].head()
    assert(dot == 32.0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(cos - expected) < 1e-12)
  }

  test("pgDow/isoDow conventions (2024-01-01 is a Monday)") {
    val df = Seq("2024-01-01", "2024-01-07").toDF("d")
      .select(to_timestamp(col("d")).as("ts"))
    val rows = df.select(Fns.pgDow(col("ts")), Fns.isoDow(col("ts")),
      Fns.isWeekend(col("ts"))).as[(Long, Long, Long)].collect()
    assert(rows(0) == (1L, 1L, 0L)) // Monday: dow=1, isodow=1, weekday
    assert(rows(1) == (0L, 7L, 1L)) // Sunday: dow=0, isodow=7, weekend
  }

  test("charHash matches a driver-side reference fold (sampled property)") {
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % TextHash.P)
    val rnd = new scala.util.Random(42)
    val samples = Seq("", "a", "abc xyz", "the quick brown fox") ++
      (1 to 40).map(_ => (1 to rnd.nextInt(120) + 1)
        .map(_ => (' ' + rnd.nextInt(95)).toChar).mkString)
    val got = samples.toDF("t")
      .select(TextHash.charHash(col("t")).as("h")).as[Long].collect()
    samples.zip(got).foreach { case (s, g) => assert(g == ref(s), s"for '$s'") }
  }

  test("shingles: n-2 word 3-grams in order") {
    val out = Seq("a b c d e").toDF("t")
      .select(TextHash.shingles(col("t")).as("sh")).as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d", "c d e"))
  }

  test("binaryReport counts and derived metrics") {
    // 2 tp, 1 tn, 1 fp, 1 fn
    val df = Seq((1.0, 1), (0.9, 1), (0.2, 0), (0.8, 0), (0.1, 1)).toDF("p", "t")
    val r = Metrics.binaryReport(df, col("p"), col("t")).head()
    assert((r.getAs[Long]("tp"), r.getAs[Long]("tn"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))
      == ((2L, 1L, 1L, 1L)))
    assert(r.getAs[Double]("accuracy") == 0.6)
    assert(r.getAs[Double]("precision") == 2.0 / 3)
    assert(r.getAs[Double]("recall") == 2.0 / 3)
  }

  test("rmsle formula") {
    val df = Seq((math.E - 1.0, 0.0)).toDF("p", "t") // ln(p+1)=1, ln(t+1)=0
    val r = Metrics.rmsle(df, col("p"), col("t")).as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
