package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd BPE encoder: counts the tokens a text encodes to under a
  * FIXED merges table (classic byte-pair-encoding inference: per
  * whitespace word, repeatedly merge ALL occurrences of the applicable
  * pair with the lowest merge rank until none applies — multi-symbol
  * pairs chain, so ("t","h")→"th" then ("th","e")→"the").
  *
  * The serve side of the tokenizer lifecycle: training is inherently
  * sequential (each merge changes the pair statistics the next merge
  * is chosen from) and runs driver-side on a bounded sample
  * ([[trainMerges]] — production tokenizers train on samples too);
  * ENCODING is embarrassingly parallel and runs here as one fused
  * projection, the rank table shipped as a plan reference object
  * (the TreeEnsembleRef pattern — constant generated-code size at any
  * merges-table size).
  */
case class BpeEncode(child: Expression, ranks: java.util.HashMap[String, Integer])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_count requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    BpeEncode.countTokens(ranks, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BpeEncode.countTokens($ranksRef, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)

  override def prettyName: String = "bpe_count"
}

object BpeEncode {

  val Sep = "\u0000" // NUL: can never occur inside a token

  def column(c: Column, ranks: java.util.HashMap[String, Integer]): Column =
    GraftColumnBridge.column(BpeEncode(GraftColumnBridge.expression(c), ranks))

  /** Token count of `text` under `ranks` — whitespace words encoded
    * independently (the pre-tokenization boundary merges never cross). */
  def countTokens(ranks: java.util.HashMap[String, Integer], text: UTF8String): Long = {
    var total = 0L
    val s = text.toString
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      val start = i
      while (i < n && s.charAt(i) != ' ') i += 1
      if (i > start) total += encodeWord(ranks, s.substring(start, i)).length
    }
    total
  }

  /** Full iterative BPE inference for one word: merge ALL occurrences
    * of the lowest-rank applicable pair, repeat until none applies. */
  def encodeWord(ranks: java.util.HashMap[String, Integer],
      word: String): Array[String] = {
    var toks: Array[String] = word.map(_.toString).toArray
    var done = toks.length < 2
    while (!done) {
      // lowest-rank applicable pair this round
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < toks.length - 1) {
        val r = ranks.get(toks(i) + Sep + toks(i + 1))
        if (r != null && r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        // merge every occurrence of the selected pair, left to right
        val key = toks(bi) + Sep + toks(bi + 1)
        val out = Array.newBuilder[String]
        var k = 0
        while (k < toks.length) {
          if (k < toks.length - 1 && (toks(k) + Sep + toks(k + 1)) == key) {
            out += (toks(k) + toks(k + 1)); k += 2
          } else { out += toks(k); k += 1 }
        }
        toks = out.result()
        if (toks.length < 2) done = true
      }
    }
    toks
  }

  /** Classic BPE training on a bounded sample: `n` merges, each round
    * counting adjacent-pair frequencies over the CURRENT encoding and
    * merging the (count desc, pair asc) winner — fully deterministic.
    * Sequential by nature (each merge changes the next round's
    * statistics), hence driver-side on a sample; encoding distributes.
    */
  def trainMerges(texts: Seq[String], n: Int): Array[(String, String)] = {
    var words: Array[Array[String]] = texts
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .map(w => w.map(_.toString).toArray).toArray
    val merges = Array.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < n && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { toks =>
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          counts.merge(k, 1L, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: (String, String) = null
        var bestCnt = -1L
        counts.forEach { (k, v) =>
          if (v > bestCnt || (v == bestCnt &&
              (k._1 + Sep + k._2) < (bestPair._1 + Sep + bestPair._2))) {
            bestPair = k; bestCnt = v
          }
        }
        merges += bestPair
        words = words.map { toks =>
          val out = Array.newBuilder[String]
          var k = 0
          while (k < toks.length) {
            if (k < toks.length - 1 && toks(k) == bestPair._1 && toks(k + 1) == bestPair._2) {
              out += (toks(k) + toks(k + 1)); k += 2
            } else { out += toks(k); k += 1 }
          }
          out.result()
        }
        m += 1
      }
    }
    merges.result()
  }

  /** merges (in training order) → rank lookup for the kernel. */
  def rankMap(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val map = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => map.put(a + Sep + b, i) }
    map
  }
}
