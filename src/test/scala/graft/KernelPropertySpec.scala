package graft

import graft.functions.TextHash
import graft.plans.TextKernels
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM sampled-property tests for the codegen kernels against
  * naive reference implementations — these guard the rolling-hash
  * composition (H(s||t) = H(s)·31^len(t) + H(t) mod P) and the
  * distinct/ordering conventions the DuckDB oracle depends on.
  * Deterministic seed; hundreds of cases incl. empty tokens / short
  * docs / repeated shingles.
  */
class KernelPropertySpec extends AnyFunSuite {
  private val P = TextHash.P
  private val rnd = new scala.util.Random(1234)

  private def refHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % P)

  /** Random doc: 0-12 tokens, tokens 0-8 alnum chars (empties common so
    * the split(" ", -1) keep-empties convention is exercised). */
  private def randomDoc(): String = {
    val n = rnd.nextInt(13)
    Seq.fill(n) {
      val len = rnd.nextInt(9)
      Seq.fill(len)(("abcdefgh0123" ) (rnd.nextInt(12))).mkString
    }.mkString(" ")
  }

  test("polyHash == character fold for arbitrary ASCII strings") {
    val samples = Seq("", "a", " ", "a b c") ++
      (1 to 300).map(_ => Seq.fill(rnd.nextInt(40))((' ' + rnd.nextInt(95)).toChar).mkString)
    samples.foreach { s =>
      assert(TextKernels.polyHash(UTF8String.fromString(s)) == refHash(s), s"for '$s'")
    }
  }

  test("minhashSig == naive shingle-hash mins (rolling-hash composition)") {
    (1 to 400).foreach { _ =>
      val text = randomDoc()
      val toks = text.split(" ", -1)
      val got = Option(TextKernels.minhashSig(UTF8String.fromString(text)))
        .map(_.toLongArray.toSeq)
      if (toks.length < 3) assert(got.isEmpty, s"for '$text'")
      else {
        val shingleHashes = (0 to toks.length - 3)
          .map(i => refHash(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}"))
        val want = (0 until TextHash.NumPerms).map { k =>
          shingleHashes.map(h => (h * TextHash.permA(k) + TextHash.permB(k)) % P).min
        }
        assert(got.contains(want), s"for '$text'")
      }
    }
  }

  test("simhash == naive distinct-token bit sums") {
    (1 to 400).foreach { _ =>
      val text = randomDoc()
      val distinct = text.split(" ", -1).distinct
      val want = (0 until 16).map { j =>
        val s = distinct.map(t => if (((refHash(t) >> j) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << j else 0L
      }.sum
      assert(TextKernels.simhash(UTF8String.fromString(text)) == want, s"for '$text'")
    }
  }

  test("shingleSet == distinct 3-grams in first-occurrence order") {
    (1 to 400).foreach { _ =>
      val text = randomDoc()
      val toks = text.split(" ", -1)
      val want =
        if (toks.length < 3) Seq.empty
        else (0 to toks.length - 3)
          .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").distinct
      val got = TextKernels.shingleSet(UTF8String.fromString(text))
        .toObjectArray(org.apache.spark.sql.types.StringType).toSeq.map(_.toString)
      assert(got == want, s"for '$text'")
    }
  }

  test("intersectSize == size(array_intersect) distinct semantics") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Seq[String]) = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    (1 to 400).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(10))(s"t${rnd.nextInt(8)}")
      val b = Seq.fill(rnd.nextInt(10))(s"t${rnd.nextInt(8)}")
      val want = (a.distinct intersect b.distinct).length.toLong
      assert(TextKernels.intersectSize(arr(a), arr(b)) == want, s"for $a vs $b")
    }
  }

  test("StringCascade.prefix == first-n-fields (substring_index semantics)") {
    (1 to 400).foreach { _ =>
      val k = Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(31)).mkString(".")
      val n = 1 + rnd.nextInt(6)
      val fields = k.split("\\.", -1)
      val want = if (fields.length <= n) k else fields.take(n).mkString(".")
      assert(graft.core.StringCascade.prefix(k, n) == want, s"for '$k' n=$n")
    }
  }

  test("KnnRef.vote == naive sorted top-k vote (regression + majority)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def naive(feats: Array[Array[Double]], labels: Array[Double], k: Int,
              regression: Boolean, x: Array[Double]): Double = {
      val kk = math.min(k, feats.length)
      val top = feats.zip(labels).map { case (f, l) =>
        (f.zip(x).map { case (a, b) => (b - a) * (b - a) }.sum, l)
      }.sortBy(identity).take(kk).map(_._2)
      if (regression) top.sum / kk
      else top.groupBy(identity).toSeq
        .map { case (l, g) => (-g.length, l) }.min._2
    }
    (1 to 200).foreach { _ =>
      val d = 1 + rnd.nextInt(6)
      val n = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(7)
      // coarse grid values make distance/label ties common
      val feats = Array.fill(n)(Array.fill(d)(rnd.nextInt(4).toDouble))
      val labels = Array.fill(n)(rnd.nextInt(3).toDouble)
      val x = Array.fill(d)(rnd.nextInt(4).toDouble)
      val xa = new GenericArrayData(x.map(v => v: Any))
      Seq(true, false).foreach { reg =>
        val ref = new graft.plans.KnnRef(feats, labels, k, reg)
        val got = ref.vote(xa, xFloat = false)
        val want = naive(feats, labels, k, reg, x)
        assert(got == want, s"reg=$reg d=$d n=$n k=$k: got $got want $want")
      }
    }
    // edge semantics: a NaN query makes every distance NaN -> NaN out
    // (not a confident phantom class); a width mismatch throws
    val ref = new graft.plans.KnnRef(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)), Array(0.0, 1.0), 1, false)
    val nanQ = new GenericArrayData(Array[Any](Double.NaN, 0.0))
    assert(ref.vote(nanQ, xFloat = false).isNaN)
    val narrow = new GenericArrayData(Array[Any](1.0))
    assertThrows[IllegalArgumentException](ref.vote(narrow, xFloat = false))
  }

  test("SQ8 kernels: codes in [-127,127], zero vector -> zero codes, dots match naive loops") {
    import graft.plans.VectorKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    (1 to 300).foreach { _ =>
      val n = 1 + rnd.nextInt(80)
      val x = Array.fill(n)((rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(5) - 2))
      val xa = new GenericArrayData(x.map(v => v: Any))
      val amax = VectorKernels.absMax(xa, aFloat = false)
      assert(amax == x.map(math.abs).foldLeft(0.0)(math.max))
      val q = VectorKernels.sq8(xa, aFloat = false).toLongArray
      assert(q.forall(c => c >= -127 && c <= 127), s"codes out of range: ${q.mkString(",")}")
      val amax0 = if (amax == 0.0) 1.0 else amax.doubleValue()
      q.zip(x).foreach { case (c, v) =>
        assert(c == math.floor(v * 127.0 / amax0 + 0.5).toLong, s"code for $v") }
      val y = Array.fill(n)(rnd.nextInt(255) - 127L)
      val ya = new GenericArrayData(y.map(v => v: Any))
      val qa = new GenericArrayData(q.map(v => v: Any))
      assert(VectorKernels.intDot(qa, ya) == q.zip(y).map { case (a, b) => a * b }.sum)
      val adc = VectorKernels.adcDot(xa, ya, aFloat = false)
      val want = x.zip(y).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b.toDouble }
      assert(adc == want, s"adc $adc != $want")
    }
    val zeros = new GenericArrayData(Array[Any](0.0, 0.0, 0.0))
    assert(VectorKernels.sq8(zeros, aFloat = false).toLongArray.forall(_ == 0L))
    // length mismatch -> null (the zip_with null contract)
    val a2 = new GenericArrayData(Array[Any](1L, 2L))
    val a3 = new GenericArrayData(Array[Any](1L, 2L, 3L))
    assert(VectorKernels.intDot(a2, a3) == null)
  }
}
