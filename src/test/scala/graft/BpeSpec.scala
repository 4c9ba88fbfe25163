package graft

import graft.plans.BpeEncode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE kernel semantics: classic inference invariants on handcrafted
  * cases, an INDEPENDENT list-based reference encoder on random words,
  * training determinism, and codegen-vs-driver parity over real data.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ranksOf(merges: (String, String)*) =
    BpeEncode.rankMap(merges.toArray)

  test("handcrafted merge semantics: all-occurrences, chaining, priority") {
    // all occurrences of the selected pair merge in one round
    assert(BpeEncode.encodeWord(ranksOf(("a", "b")), "abab").toSeq == Seq("ab", "ab"))
    // overlapping pair merges left to right: aaa -> [aa, a]
    assert(BpeEncode.encodeWord(ranksOf(("a", "a")), "aaa").toSeq == Seq("aa", "a"))
    // multi-symbol chaining: t+h -> th, then th+e -> the
    assert(BpeEncode.encodeWord(ranksOf(("t", "h"), ("th", "e")), "the").toSeq == Seq("the"))
    // rank priority beats position: (b,c) has rank 0, so abc -> [a, bc]
    assert(BpeEncode.encodeWord(ranksOf(("b", "c"), ("a", "b")), "abc").toSeq == Seq("a", "bc"))
    // no applicable merge -> characters
    assert(BpeEncode.encodeWord(ranksOf(("x", "y")), "ab").toSeq == Seq("a", "b"))
    assert(BpeEncode.encodeWord(ranksOf(("a", "b")), "a").toSeq == Seq("a"))
  }

  /** Independent reference: same merge semantics (all occurrences of
    * the lowest-rank applicable pair per round) via a structurally
    * different implementation — immutable lists, zip-based pair
    * enumeration, recursive rebuild — so a kernel bug can't hide in a
    * shared mechanism. */
  private def referenceEncode(ranks: java.util.HashMap[String, Integer],
      word: String): List[String] = {
    def step(toks: List[String]): Option[List[String]] = {
      val pairs = toks.zip(toks.drop(1))
      val ranked = pairs.flatMap(p =>
        Option(ranks.get(p._1 + BpeEncode.Sep + p._2)).map(r => (p, r.toInt)))
      if (ranked.isEmpty) None
      else {
        val best = ranked.minBy(_._2)._1
        def mergeAll(l: List[String]): List[String] = l match {
          case a :: b :: rest if (a, b) == best => (a + b) :: mergeAll(rest)
          case a :: rest => a :: mergeAll(rest)
          case Nil => Nil
        }
        Some(mergeAll(toks))
      }
    }
    var cur = word.map(_.toString).toList
    var next = step(cur)
    while (next.isDefined) { cur = next.get; next = step(cur) }
    cur
  }

  test("kernel equals the independent reference on random words") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    for (_ <- 1 to 50) {
      val words = Seq.fill(30)(
        (0 until (1 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(4))).mkString)
      val merges = BpeEncode.trainMerges(words, 1 + rnd.nextInt(8))
      val ranks = BpeEncode.rankMap(merges)
      words.foreach { w =>
        assert(BpeEncode.encodeWord(ranks, w).toSeq == referenceEncode(ranks, w),
          s"word '$w' under merges ${merges.toSeq}")
      }
    }
  }

  test("training is deterministic and learns the obvious first merge") {
    val texts = Seq("aa aa aa bb", "aa cc")
    val m1 = BpeEncode.trainMerges(texts, 3).toSeq
    val m2 = BpeEncode.trainMerges(texts, 3).toSeq
    assert(m1 == m2)
    assert(m1.head == ("a", "a"), s"most frequent pair first: $m1")
  }

  test("codegen path equals the driver encoder over real documents") {
    val sf = "/root/testdata/sf0.001"
    val sample = Tables.documents(spark, sf).filter(col("doc_id") < 200L)
      .select("doc_id", "text").collect().sortBy(_.getLong(0)).map(_.getString(1))
    val ranks = BpeEncode.rankMap(BpeEncode.trainMerges(sample.toSeq, 50))
    val viaKernel = Tables.documents(spark, sf)
      .select(col("doc_id"), BpeEncode.column(col("text"), ranks).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Tables.documents(spark, sf).select("doc_id", "text").collect().foreach { r =>
      val expected = BpeEncode.countTokens(ranks,
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
      assert(viaKernel(r.getLong(0)) == expected, s"doc ${r.getLong(0)}")
    }
  }
}
