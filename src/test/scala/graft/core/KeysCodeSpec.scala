package graft.core

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The code of a saved string key: the one place a key string is read
  * back, once per index built or loaded, so it must accept exactly the keys
  * `Keys.keyColumn` builds from non-negative bins (and pack them as
  * `Keys.code` packs the bins) and reject everything else. */
class KeysCodeSpec extends AnyFunSuite {
  private def code(key: String, l: Int, n: Int): Long = Keys.code(UTF8String.fromString(key), l, n)

  test("Keys.code reads exactly l canonical decimals") {
    val w = Keys.codeWidth(3)
    assert(code("2.0.11", 3, 3) == (2L << 2 * w | 0L << w | 11L))
    // a prefix level's code is the shifted code of every key it prefixes
    assert(code("2.0", 2, 3) == code("2.0.11", 3, 3) >>> w)
    assert(code("999999999", 1, 1) == 999999999L)
    assert(code("", 1, 3) == -1L && code("", 0, 3) == 0L)
    Seq("2.0", "2.0.11.3", "02.0.11", "2.-1.11", "2.+1.11", "2..11", "2.0.11.", ".2.0", "2.0.1x",
        "2.0.1234567890", "2.0.11 ", "2.0.\u0661").foreach { k =>
      assert(code(k, 3, 3) == -1L, k)
    }
    // a field must stay below the unseen digit, which no index key has
    val unseen = Keys.unseen(3)
    assert(code(s"2.0.${unseen - 1}", 3, 3) == (2L << 2 * w | unseen - 1))
    assert(code(s"2.0.$unseen", 3, 3) == -1L)
    // and a key may not have more fields than the index
    assert(code("2.0.11", 3, 2) == -1L)
  }
}
