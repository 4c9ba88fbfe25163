package graft

import graft.core.NumericBins
import graft.plans.BinIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BinIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BinIndex matches the when-chain on random values, edges, NaN, NULL") {
    val rnd = new scala.util.Random(7)
    val splits = (1 to 20).map(_ * 5.0).toArray // wide -> BinIndex path
    val wide   = NumericBins(splits)            // BinIndex path

    val values: Seq[Option[Double]] =
      (1 to 500).map(_ => Some(rnd.nextDouble() * 120 - 10)) ++
        splits.map(Some(_)) ++                   // exact split hits
        Seq(Some(Double.NaN), Some(-1e9), Some(1e9), None)
    val df = values.toDF("v").cache()

    // wide spec vs an equivalent hand-built chain over the same splits
    val chain = splits.zipWithIndex.tail.foldLeft(when(col("v") < splits.head, 0L)) {
      case (w, (s, i)) => w.when(col("v") < s, i.toLong)
    }.otherwise(splits.length.toLong)
    val diff = df.select(wide.toColumn(col("v")).as("bi"), chain.as("wc"))
      .filter(col("bi") =!= col("wc")).count()
    assert(diff == 0)

    // narrow spec still uses the chain; cross-check lookup() directly
    values.flatten.foreach { v =>
      val expected = splits.take(5).indexWhere(v < _) match {
        case -1 => 5L
        case i => i.toLong
      }
      assert(BinIndex.lookup(splits.take(5), v) == expected, s"v=$v")
    }
  }

  // the shared session registers them: TestSpark installs GraftExtensions
  test("bin_index is callable from SQL once registered") {
    val out = spark.sql(
      "SELECT bin_index(CAST(x AS DOUBLE), 10.0D, 20.0D, 30.0D) AS b " +
      "FROM VALUES (5), (15), (25), (99) AS t(x)")
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 1L, 2L, 3L))
  }

  test("text/vector kernels are callable from SQL once registered") {
    val r = spark.sql(
      "SELECT poly_hash('ab') AS h, simhash16('a b a') AS s, " +
      "  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
      "  size(minhash_sig('a b c d')) AS m, " +
      "  shingle_set('a b c d') AS sh").head()
    assert(r.getAs[Long]("h") == (97L * 31 + 98) % 1000000007L)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("m") == 16)
    assert(r.getSeq[String](4).toSeq == Seq("a b c", "b c d"))
  }

  test("SQ8 kernels are callable from SQL once registered") {
    val r = spark.sql(
      "SELECT graft_abs_max(array(-0.5D, 0.25D)) AS am, " +
      "  graft_sq8(array(-0.5D, 0.25D)) AS q, " +
      "  graft_int_dot(array(1L, -2L), array(3L, 4L)) AS i, " +
      "  graft_adc_dot(array(0.5D, 2.0D), array(2L, -1L)) AS a").head()
    assert(r.getAs[Double]("am") == 0.5)
    assert(r.getSeq[Long](1).toSeq == Seq(-127L, 64L)) // 0.25*127/0.5+0.5 floored
    assert(r.getAs[Long]("i") == 3L * 1 - 2 * 4)
    assert(r.getAs[Double]("a") == 0.5 * 2 - 2.0)
  }
}
