package graft.core

/** The single-row cascade over the index's string keys: the exact map,
  * then each prefix level's map, longest first, at the key's first `l`
  * '.'-separated fields, then the global value. The specs check both
  * serve paths ([[KvModel.probe]] and [[LocalScorer]]) against it: it
  * shares neither the code packing nor the compiled table with them. */
final case class StringCascade(
    keyLen: Int,
    kv: Map[String, Double],
    prefixes: Seq[(Int, Map[String, Double])], // longest first
    globalValue: Double) {

  def scoreKey(key: String): Double = kv.getOrElse(key,
    prefixes.iterator.flatMap { case (l, m) => m.get(StringCascade.prefix(key, l)) }.nextOption().getOrElse(globalValue))

  /** Which level answers `key`: keyLen for the exact map, keyLen-1 .. 1
    * for a prefix, 0 for the global value. */
  def level(key: String): Int =
    if (kv.contains(key)) keyLen
    else prefixes.collectFirst { case (l, m) if m.contains(StringCascade.prefix(key, l)) => l }.getOrElse(0)
}

object StringCascade {
  /** The cascade of an index's `(len, key, value)` rows: the rows at
    * len = keyLen are the exact map, those at len = keyLen-1 .. 1 the
    * prefix maps, and the one at len = 0 the global value. */
  def apply(keyLen: Int, rows: Seq[(Int, String, Double)]): StringCascade = {
    val byLen = rows.groupBy(_._1).map { case (l, rs) => l -> rs.map(r => r._2 -> r._3).toMap }
      .withDefaultValue(Map.empty[String, Double])
    StringCascade(keyLen, byLen(keyLen), (keyLen - 1 to 1 by -1).map(l => l -> byLen(l)), byLen(0).values.head)
  }

  /** The cascade of `m`'s index, from one collect. */
  def apply(m: KvModel): StringCascade =
    apply(m.keyLen, m.index.select("len", "key", "value").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq)

  /** First `n` '.'-separated fields of `key` — [[Keys.prefix]]
    * (substring_index) driver-side: the whole key when it has ≤ n
    * fields. */
  def prefix(key: String, n: Int): String = {
    var idx = -1
    var seen = 0
    while (seen < n) {
      val next = key.indexOf('.', idx + 1)
      if (next < 0) return key
      idx = next
      seen += 1
    }
    key.substring(0, idx)
  }
}
