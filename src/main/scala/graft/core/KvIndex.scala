package graft.core

import graft.plans.{DenseAnswers, KvProbe}
import org.apache.spark.sql.{Column, DataFrame, Encoders, IndexLevel, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.jdk.CollectionConverters._

/** The learned key–value index: exact probe + field-wise prefix
  * fallback + global fallback (ref: src/inference_trie.py:60-98,
  * src/transpiler.py:1004-1099; SURVEY §2.9).
  *
  * Spark-first design: like the reference's trie, the index is ONE
  * structure, held once on the driver, and the relation `index (len,
  * key, value, code)` is a view of it. Its rows at
  * `len = keyLen` are the exact kv entries (the trie's leaves); every
  * field-wise prefix of every key is aggregated ONCE at build time into
  * the rows at `len = 1 .. keyLen-1` (the inner nodes); and the single
  * `len = 0` row is the global value (the root), instead of the
  * reference's row-at-a-time dynamic-SQL `prefix_search`. The build is
  * the trie's DFS over its sorted leaves ([[KvIndexState.toModel]]: one
  * pass over the keys in code order, where every inner node's leaves are
  * one contiguous run), like the reference's standalone backend builds
  * its trie in-process (inference_trie.py:3-58). Every key at
  * `len >= 1` packs into a Long [[Keys.code]] (checked where the index
  * is read to the driver), and the probe serves that one encoding: a
  * [[Keys.keyColumn]] over `keyLen` non-nullable integral bins, packed per row inside the
  * serve's projection — any other key fails loudly. It is ONE cascade,
  * split at the level [[split]] (`s*`): the longest prefix length whose
  * fields' [[radices]] span at most [[KvModel.MaxCompiledEntries]] slots.
  *
  *  - **compiled levels** `1 .. s*`: a level's answer is a pure function
  *    of the key's first `s*` bins, so every such level and the global
  *    value are filled once per model, on the driver, from the index's
  *    codes into ONE mixed-radix answer table ([[DenseAnswers]]), loaded
  *    at the packed bins inside the serve's whole-stage-codegen
  *    projection — no key string, zero joins, zero exchanges;
  *  - **joined levels** `s*+1 .. keyLen`: BROADCAST hash joins on the
  *    code, lazy like the trie walk (a level computes its key and probes
  *    its table only for rows no longer level resolved) — fully
  *    parallel, and the only shuffle in the serve path is whatever the
  *    caller's plan already needed. Each level's hash relation is
  *    built and broadcast ONCE per model, at the first probe that joins
  *    it ([[IndexLevel]]); a serve reuses it, so it adds no broadcast
  *    job and no exchange, and its plan holds no index lineage.
  *
  * The final coalesce of the joined levels ends in the table's answer.
  * So the first joined level, `s*+1`, holds only its exceptions: a row
  * whose value is bitwise the table's answer at its first `s*` digits
  * repeats what every key under it falls through to anyway (its
  * level-`s*` parent need not even be in the index), so the level drops
  * it on the driver when it is built (the raw bits of its value against
  * the table's answer) and the served bits stay the same. On a 6-field
  * index of 157k keys over 9^6 slots that leaves 7% of the exact level.
  * The levels above `s*+1` keep every row: their parents are joined
  * rows, and pruning them would need a self-join of the index.
  *
  * `s* = keyLen` is the dense form (one projection, no join): every
  * index the shipped queries fit serves so. [[joinProbe]] is the other
  * end, `s* = 0`: every level joined, ending in the global value. Every
  * split gives the same values bit for bit ([[KvProbeSpec]] pins them).
  *
  * Build it with [[KvIndexBuilder.buildFromKeyed]] or [[KvIndexState]];
  * [[KvModel.materialize]] is the one place its rows are read: ONE
  * collect of its `(len, code, value)` rows, kept as `levels`, the
  * model's only copy of its index. The model's fields, the table, each
  * joined level's hash relation, [[toLocalScorer]]'s maps and the
  * [[index]] view all come from it, so none of them starts a job.
  * [[release]] frees the level broadcasts.
  *
  * At 100 TB the probe side streams; the index side is bounded by the
  * key space (small by construction — that is the point of the paper),
  * and so is its one copy on the driver.
  */
final case class KvModel(
    task: Task,
    keyLen: Int,
    globalValue: Double, // the len = 0 row's value: the trie-root fallback
    kvCount: Long,       // rows at len = keyLen
    radices: Seq[Int]    // field i's radix: 1 + its largest digit over the index codes
)(levels: IndexedSeq[LongMap[java.lang.Double]], // by len: the index's code -> value at len 1 .. keyLen
    @transient spark: SparkSession) {
  /** The whole index as a relation, `(len int, key string, value
    * double, code long)`: the exact kv at `len = keyLen`, each prefix
    * level, then the `len = 0` global value (key "", code 0), each len in
    * code order. A local relation built once per model on the driver
    * from `levels`, so it starts no job and caches nothing; a key is the
    * canonical string of its code's digits, the string the build or the
    * load accepted. */
  @transient lazy val index: DataFrame = spark.createDataFrame((
    (keyLen to 1 by -1).flatMap(l => levels(l).toSeq.sortBy(_._1).map { case (code, value) =>
      Row(l, Keys.digits(code, l, keyLen).mkString("."), value.doubleValue, code)
    }) :+ Row(0, "", globalValue, 0L)).asJava, KvModel.IndexRows)

  private def rowsAt(l: Int): DataFrame = index.where(col("len") === l)

  /** The exact entries, (key string, value double): the rows at
    * `len = keyLen`. A view of [[index]], built once per model (so its
    * `unpersist()` frees nothing). */
  @transient lazy val kv: DataFrame = rowsAt(keyLen).select(col("key"), col("value"))

  /** Per-level string views of [[index]], longest first: len ->
    * (prefix string, value double) for `len = keyLen-1 .. 1`; the global
    * value is not a level. Built once per model, for readers of the
    * saved string keys; the probe joins [[joinedLevel]]s. */
  @transient lazy val prefixes: Seq[(Int, DataFrame)] = (keyLen - 1 to 1 by -1).map { l =>
    l -> rowsAt(l).select(col("key").as("prefix"), col("value"))
  }

  /** The join cascade's levels built so far, by (len, pruned). */
  @transient private lazy val builtLevels = scala.collection.mutable.Map.empty[(Int, Boolean), IndexLevel]
  @transient @volatile private var released = false

  /** Level `l` of the join cascade, `(__p_l, __v_l)`: the index's
    * `(code, value)` rows at `len = l`, built into a broadcast hash
    * relation once per model, the first time a probe joins the level,
    * and reused by every later serve. `pruned`, for [[probe]]'s first
    * joined level `s*+1`, keeps only the rows whose value differs in its
    * raw bits from the [[table]]'s answer at their first `s*` digits. */
  private def joinedLevel(l: Int, pruned: Boolean): IndexLevel = synchronized {
    live()
    builtLevels.getOrElseUpdate((l, pruned), {
      val rows = levels(l).toArray.filter { case (code, value) => !pruned ||
        java.lang.Double.doubleToRawLongBits(value) !=
          java.lang.Double.doubleToRawLongBits(table.answer(Keys.digits(code, l, keyLen).map(_.toLong)))
      }
      IndexLevel.build(spark, rows.map(_._1), rows.map(_._2.doubleValue), s"__p_$l", s"__v_$l")
    })
  }

  /** The levels [[probe]] joins above the [[table]], longest
    * first: `keyLen .. s*+1`, the last of them pruned; every level when
    * there is no table. */
  private def splitLevels: Seq[(Int, IndexLevel)] =
    (keyLen until split by -1).map(l => l -> joinedLevel(l, pruned = split > 0 && l == split + 1))

  /** `s*`, where [[probe]] splits the cascade: the longest prefix length
    * `s` with `Π_{i<s} (radices(i) + 1) <= MaxCompiledEntries` — only the
    * index's radices and the cap decide it. */
  @transient lazy val split: Int =
    (1 to keyLen).takeWhile(s => DenseAnswers.slots(radices.take(s).toArray) <= KvModel.MaxCompiledEntries).length

  /** Append `predName` to `input` by probing the index with `key`.
    * Exact hit wins; else the longest non-empty prefix aggregate; else
    * the global aggregate (trie-root DFS, inference_trie.py:91-98):
    * levels above [[split]] by broadcast joins (the first of them only
    * its rows the table does not already answer), the rest from the
    * [[table]] — the same values bit for bit at any split. */
  def probe(input: DataFrame, key: Column, predName: String = "prediction"): DataFrame = {
    val bins = intBins(input, key, joins = split < keyLen)
    cascade(input, bins, Option.when(split > 0)(table), splitLevels, predName)
  }

  /** The cascade with every level joined in full (`s* = 0`): the scale
    * path, and the reference every split of [[probe]] equals. */
  def joinProbe(input: DataFrame, key: Column, predName: String = "prediction"): DataFrame =
    cascade(input, intBins(input, key, joins = true), None,
      (keyLen to 1 by -1).map(l => l -> joinedLevel(l, pruned = false)), predName)

  /** `key`'s bins: the one probe contract, checked by analysis (no job)
    * before any probe runs. `key` must be a [[Keys.keyColumn]] of
    * `keyLen` bins that are non-nullable and integral in `input`, and
    * when the cascade `joins` a level, `input`'s session must plan
    * [[IndexLevel]]s (`graft.plans.GraftExtensions`); anything else throws
    * `IllegalArgumentException`. A [[release]]d model throws
    * `IllegalStateException`. */
  private def intBins(input: DataFrame, key: Column, joins: Boolean): Seq[Column] = {
    live()
    val bins = Keys.bins(key).getOrElse(
      throw new IllegalArgumentException(s"the probe key must be a Keys.keyColumn of bins, got $key"))
    require(bins.length == keyLen, s"the probe key has ${bins.length} bins, the index keys $keyLen: $key")
    input.select(bins: _*).schema.foreach { f =>
      require(!f.nullable, s"probe key bin ${f.name} is nullable")
      require(KvProbe.bin(f.dataType), s"probe key bin ${f.name} is ${f.dataType.sql}, not integral")
    }
    require(!joins || IndexLevel.planned(input.sparkSession), "the probe joins index levels, which only a " +
      "session built with graft.plans.GraftExtensions plans (withExtensions or spark.sql.extensions)")
    bins
  }

  /** Throws once [[release]] has run. */
  private def live(): Unit =
    if (released) throw new IllegalStateException("this KvModel was freed by release(): its level " +
      "broadcasts are gone, so it can no longer probe or score")

  /** Free what this model holds on the cluster: every level broadcast
    * its probes built. Any later [[probe]], [[joinProbe]] or
    * [[toLocalScorer]] throws `IllegalStateException`. */
  def release(): Unit = synchronized {
    released = true
    builtLevels.values.foreach(_.relation.destroy())
    builtLevels.clear()
  }

  /** The cascade's answer over levels `0 .. s*` for every slot of the
    * first [[split]] fields (over no field, so only the global value,
    * when `s* = 0`), filled on the driver once per model, the first time
    * a probe or [[toLocalScorer]] asks for it, from `levels` `1 .. s*`.
    * Field `i`'s extra "unseen" digit is its radix, a digit no index key
    * has in that field — exactly the cascade of any bin outside
    * `[0, radix)`. */
  @transient private lazy val table: DenseAnswers =
    DenseAnswers.fill(radices.take(split).toArray, globalValue, (1 to split).flatMap(l =>
      levels(l).iterator.map { case (code, value) => Keys.digits(code, l, keyLen) -> value.doubleValue }))

  /** The cascade over the Long [[Keys.code]] of `bins`: one broadcast
    * left join per level of `joined` (the levels above the table's
    * fields, longest first), each reading its level's broadcast as the
    * build side, then `compiled`'s answer at the code's first
    * digits, or the global value without a table. Level `l` probes with
    * [[Keys.codePrefix]] — Long-keyed hash relations, and no key string
    * built or cut per row. The table reads the digits of the code the
    * joins already packed, not the bins again: re-binning there put a
    * second copy of every bin expression into the serve's generated
    * code, and a 6-field serve that also kept the key string ran ~5x
    * slower (4 local cores). With every level in the table it is the
    * table's one projection over the bins.
    *
    * Lazy, like the trie walk it reproduces: level `l`'s stream-side key
    * is `CASE WHEN <every longer level missed> THEN codePrefix(code, l) END`,
    * so a row an earlier level resolved skips the shift and, its join
    * key being NULL, the hash lookup too (broadcast hash joins never
    * probe a NULL key). A level's value only counts when every earlier
    * one is NULL, and then it probes exactly the eager key — the final
    * coalesce, itself lazy, is bit-identical to probing every level. */
  private def cascade(input: DataFrame, bins: Seq[Column], compiled: Option[DenseAnswers],
      joined: Seq[(Int, IndexLevel)], predName: String): DataFrame =
    joined match {
      case Seq() => input.withColumn(predName, KvProbe.column(bins, compiled.get))
      case _ =>
        val (cascaded, values) = joined.foldLeft((input.withColumn("__key", Keys.code(bins)), Seq.empty[String])) {
          case ((df, resolved), (l, level)) =>
            val probeKey =
              if (l == keyLen) col("__key")
              else when(coalesce(resolved.map(col): _*).isNull, Keys.codePrefix(col("__key"), keyLen, l))
            val next = df.join(broadcast(IndexLevel.frame(df.sparkSession, level)), probeKey === col(s"__p_$l"), "left")
              .drop(s"__p_$l")
            (next, resolved :+ s"__v_$l")
        }
        val fallback = compiled.fold(lit(globalValue))(t =>
          KvProbe.column(Keys.codeDigits(col("__key"), keyLen, t.radices.length), t))
        cascaded
          .withColumn(predName, coalesce(values.map(col) :+ fallback: _*))
          .drop("__key" +: values: _*)
    }

  /** The driver-local form of [[probe]]'s cascade, for point lookups —
    * the reference's standalone-trie single-row use case
    * (transpiler.py:3117-3215; SURVEY §1.1): the [[table]], and the
    * Long-keyed map of each level above `s*` (the model's own, unpruned),
    * keyed by the code prefix that level's join probes with. Built from
    * the model's driver copy of its index, so it starts no job. */
  def toLocalScorer: LocalScorer = {
    live()
    new LocalScorer(keyLen, (keyLen until split by -1).map(l => Keys.codeWidth(keyLen) * (keyLen - l) -> levels(l)),
      table)
  }
}

/** Driver-local single-row scorer: [[KvModel.probe]]'s one cascade,
  * microseconds per lookup, no Spark job. The levels above `s*` are one
  * Long-keyed map each, probed longest first at the code prefix their
  * joins probe with (the code shifted right by the map's shift); then
  * the compiled table's answer at the bins. */
final class LocalScorer private[core] (
    keyLen: Int,
    joined: Seq[(Int, LongMap[java.lang.Double])], // (shift, map), longest first
    table: DenseAnswers) {
  private val (shifts, levels) = joined.toArray.unzip

  /** The cascade's value for one key's bins, packed as [[Keys.code]]
    * packs a probe key's: a bin outside `[0, unseen)` is the unseen
    * digit. */
  def score(bins: Array[Long]): Double = {
    if (bins.length != keyLen) throw new IllegalArgumentException(s"expected $keyLen bins, got ${bins.length}")
    val code = Keys.code(bins)
    var i = 0
    while (i < levels.length) {
      val hit = levels(i).getOrNull(code >>> shifts(i))
      if (hit ne null) return hit
      i += 1
    }
    table.answer(bins)
  }

  /** [[score]] of a key string, read in place as the `keyLen`
    * '.'-separated integers of its bins (the key [[Keys.keyColumn]]
    * renders). A string that is not throws `IllegalArgumentException`. */
  def scoreKey(key: String): Double = {
    val bins = new Array[Long](keyLen)
    var from = 0
    var i = 0
    while (i < keyLen) {
      val to = if (i == keyLen - 1) key.length else key.indexOf('.', from)
      bins(i) = try java.lang.Long.parseLong(key, from, to, 10) catch {
        case _: NumberFormatException | _: IndexOutOfBoundsException =>
          throw new IllegalArgumentException(s"key '$key' is not $keyLen '.'-separated integers")
      }
      from = to + 1
      i += 1
    }
    score(bins)
  }
}

/** Mergeable sufficient statistics for INCREMENTAL index maintenance —
  * the reference's retrain-vs-reuse story (its trie is rebuilt from
  * scratch per retrain; here the aggregates are decomposable, so new
  * data merges in without rescanning the base corpus):
  *
  *  - mean tasks (regression/binary): per-key (sum, cnt) — merged by
  *    addition, value = sum/cnt. Identical to avg() over base ∪ delta
  *    because both are one exact merge-tree away from the same total.
  *  - multi-class (mode): per-(key, pred) cnt — merged by addition,
  *    value = the pinned-tie mode (highest count, then lowest value).
  *
  * append(delta) ≡ rebuild(base ∪ delta): mode counts are integers, so
  * multi-class equality is exact always; mean sums are doubles, so the
  * equality is BITWISE when predictions are integer-valued (0/1 labels,
  * class ids, integer-scaled scores — every shipped lifecycle) and
  * otherwise agrees the way any two Spark sum() runs do (identical up
  * to FP summation order, which partitioning already makes
  * nondeterministic — round the served value, as the declared queries
  * do). The prefix levels and the global value are then a function of
  * the per-key values alone ([[toModel]] folds them in code order), so
  * they never add an order of their own. `x_index_append`'s oracle IS
  * the rebuild, so the equivalence is hash-checked end to end. At 100 TB
  * this is the difference between an O(delta) daily ingest and an
  * O(corpus) rescan: the state is key-space-bounded (small by
  * construction), the delta pass is one partial aggregate.
  */
final case class KvIndexState(task: Task, keyLen: Int, stats: DataFrame) {

  /** Merge new (key, pred) rows into the state: one partial aggregate
    * over the delta, one key-keyed merge — the base data never rescans. */
  def append(keyed: DataFrame): KvIndexState =
    copy(stats = KvIndexState.merge(
      stats.unionByName(KvIndexState.partial(keyed, task)), task))

  /** Finalize into a servable [[KvModel]] in ONE sorted pass — the
    * trie's DFS over its sorted leaves (inference_trie.py:3-58). The
    * state's rows, each with its key's [[Keys.code]], go to one partition
    * sorted by code, so a key's rows are one run and so are the keys
    * under every prefix (`code >>> w·(keyLen−l)`). The pass
    * ([[KvIndexState.pass]]) emits every index row from them: each key's
    * value (the mode, or `sum / cnt`, then the balance reweight
    * `least(value·ratio, 1)`, transpiler.py:3080-3081), each prefix's
    * value over the values of the keys under it (the same mode, or the
    * mean summed in code order) when its run ends, and the `len = 0` row
    * (the global value). [[KvModel.materialize]] reads the rows to the
    * driver in the same job. A state row carries its key string into
    * the sort only when the key does not pack, for the error.
    * A fresh build finalizes a fresh state, so this is the one
    * definition of every index value. */
  def toModel(balanceRatio: Option[Double] = None): KvModel = {
    val vote = col(if (task == Task.MultiClass) "pred" else "sum")
    val sorted = stats
      .select(Keys.indexCode(col("key"), lit(keyLen), keyLen).as("code"), col("key"), vote, col("cnt"))
      .select(col("code"), when(col("code").isNull, col("key")).as("key"), vote, col("cnt"))
      .coalesce(1).sortWithinPartitions("code")
    KvModel.materialize(task, keyLen,
      sorted.mapPartitions(KvIndexState.pass(task, keyLen, balanceRatio))(Encoders.row(KvModel.IndexRows)),
      "the index")
  }
}

object KvIndexState {
  /** Build the initial state from (key, pred) rows. */
  def build(keyed: DataFrame, keyLen: Int, task: Task): KvIndexState =
    KvIndexState(task, keyLen, partial(keyed, task))

  /** Per-key statistics of the (key, pred) rows that vote: a NULL
    * prediction carries no vote, so a key seen only with NULL predictions
    * gets no kv entry and falls through to its prefix, and a NULL can
    * never win a mode. */
  private def partial(keyed: DataFrame, task: Task): DataFrame = {
    val voted = keyed.select(col("key"), col("pred").cast("double").as("pred")).where(col("pred").isNotNull)
    task match {
      case Task.MultiClass =>
        voted.groupBy(col("key"), col("pred")).agg(count(lit(1)).as("cnt"))
      case _ =>
        voted.groupBy("key").agg(sum(col("pred")).as("sum"), count(lit(1)).as("cnt"))
    }
  }

  private def merge(stats: DataFrame, task: Task): DataFrame = task match {
    case Task.MultiClass =>
      stats.groupBy("key", "pred").agg(sum("cnt").as("cnt"))
    case _ =>
      stats.groupBy("key").agg(sum("sum").as("sum"), sum("cnt").as("cnt"))
  }

  /** One node of the trie as its votes arrive: a key, voted by its
    * state rows (`pred, cnt` or `sum, cnt`), or a prefix, voted 1 by the
    * value of each key under it.
    *
    *  - mode: highest count, then lowest value, over the values as Spark
    *    groups them (−0.0 counts as 0.0, every NaN as the one canonical
    *    NaN, which sorts above every number);
    *  - mean: the sum from 0.0 in arrival order over the count, as
    *    Spark's `sum` and `avg` add. */
  private final class Node(mode: Boolean) {
    private val counts = scala.collection.mutable.TreeMap.empty[Double, Long](Ordering.Double.TotalOrdering)
    private var sum = 0.0
    private var cnt = 0L

    def vote(v: Double, n: Long): Unit =
      if (mode) {
        val k = if (v == 0.0) 0.0 else if (v.isNaN) Double.NaN else v
        counts(k) = counts.getOrElse(k, 0L) + n
      } else {
        sum += v
        cnt += n
      }

    /** The node's value; the node is then empty for the next run. */
    def take(): Double = {
      // maxBy keeps the first of equal counts: the lowest value
      val v = if (mode) counts.maxBy(_._2)._1 else sum / cnt
      counts.clear()
      sum = 0.0
      cnt = 0L
      v
    }
  }

  /** The sorted pass of [[KvIndexState#toModel]] over one partition of
    * `(code, key, pred or sum, cnt)` state rows sorted by code: every
    * index row, `(len, key, value, code)`. A key's row streams out when
    * its run ends, each prefix's row when the run of keys under it ends,
    * and the `len = 0` row last. A key without a code (NULL, or one that
    * does not pack) is passed through as its raw row, with its key string
    * and outside every prefix, for [[KvModel.materialize]] to reject by
    * name; every other row's key is NULL. */
  private def pass(task: Task, n: Int, balanceRatio: Option[Double])(sorted: Iterator[Row]): Iterator[Row] = {
    val mode = task == Task.MultiClass
    val nodes = Array.fill(n + 1)(new Node(mode)) // the open node of each length
    val codes = Array.fill(n + 1)(-1L)            // and its code: -1 before the first key
    def prefix(code: Long, l: Int) = code >>> Keys.codeWidth(n) * (n - l)
    // close the open key and the open prefixes of length `from` and up:
    // their rows, the key's first, then the prefixes' longest first
    def close(from: Int): Seq[Row] = {
      val raw = nodes(n).take()
      // the balance reweight least(raw * r, 1.0), where NaN sorts above 1.0
      val v = balanceRatio.fold(raw)(r => if ((raw * r).isNaN || raw * r > 1.0) 1.0 else raw * r)
      (0 until n).foreach(nodes(_).vote(v, 1L))
      Row(n, null, v, codes(n)) +: (n - 1 to from by -1).map(l => Row(l, null, nodes(l).take(), codes(l)))
    }
    sorted.flatMap { r =>
      val (v, cnt) = (r.getDouble(2), r.getLong(3))
      if (r.isNullAt(0)) Seq(Row(n, r.getString(1), v, null))
      else {
        val code = r.getLong(0)
        // the shortest open node this key is not under; n + 1: its own key
        val from = (0 to n).find(l => prefix(code, l) != codes(l)).getOrElse(n + 1)
        val closed = if (codes(n) < 0 || from > n) Seq.empty else close(from)
        (from to n).foreach(l => codes(l) = prefix(code, l))
        nodes(n).vote(v, cnt)
        closed
      }
    } ++ (if (codes(n) < 0) Seq.empty else close(0))
  }
}

object KvModel {
  /** The most slots (unseen digits included) of the answer table that
    * serves a model's compiled levels: [[KvModel.split]] compiles the
    * longest prefix whose space fits, and the levels above it take the
    * broadcast joins. The table rides every task binary, so it must stay
    * small: 2^17 doubles is 1 MB. */
  val MaxCompiledEntries: Long = 1L << 17

  /** The columns of an index's rows: [[KvModel.index]] and the sorted
    * pass's output. */
  private[core] val IndexRows = StructType.fromDDL("len INT, key STRING, value DOUBLE, code BIGINT")

  /** Read an index's `rows` (len, key, value, code) to the driver in
    * ONE collect of their `(len, code, value)` (the key too where the
    * code is NULL, for the error), and make them a [[KvModel]]: that
    * copy is the model's index. Shared by the build and [[Persist.load]],
    * so the code is computed once per index and never per serve. The
    * model's kv count, global value and radices, its table, its joined
    * levels, its local scorer and its [[KvModel.index]] view all come
    * from it. `origin` names the rows in the error thrown when a key at
    * `len >= 1` has no code (NULL, or not canonical decimals below the
    * unseen digit), a value is NULL, a key has two rows, or there is not
    * exactly one `len = 0` row (none: an index nothing voted for). */
  private[core] def materialize(task: Task, keyLen: Int, rows: DataFrame, origin: String): KvModel = {
    def reject(problem: String): Nothing = throw new IllegalArgumentException(s"$origin has $problem")
    val levels = IndexedSeq.fill(keyLen + 1)(LongMap.empty[java.lang.Double])
    val roots = ArrayBuffer.empty[Double]
    val radices = new Array[Int](keyLen)
    rows.select(col("len"), col("code"), col("value"), when(col("code").isNull, col("key"))).collect().foreach { r =>
      val len = r.getInt(0)
      if (len < 0 || len > 0 && r.isNullAt(1))
        reject(s"${Option(r.getString(3)).fold("a NULL key")(k => s"key '$k'")}, which does not pack: a key must be " +
          s"its len (at most $keyLen) canonical decimals, each below 2^${Keys.codeWidth(keyLen)} - 1 = ${Keys.unseen(keyLen)}")
      val digits = if (len == 0) Array.empty[Int] else Keys.digits(r.getLong(1), len, keyLen)
      def what = if (len == 0) "the len = 0 (global value) row" else s"key '${digits.mkString(".")}'"
      if (r.isNullAt(2)) reject(s"a NULL value at $what")
      if (len == 0) roots += r.getDouble(2)
      else if (levels(len).put(r.getLong(1), r.getDouble(2)).isDefined) reject(s"$what twice: a key has one row")
      digits.indices.foreach(i => radices(i) = math.max(radices(i), digits(i) + 1))
    }
    if (roots.isEmpty) reject("no len = 0 (global value) row: no (key, prediction) row voted, so the input was " +
      "empty or every prediction NULL")
    if (roots.length > 1) reject(s"${roots.length} len = 0 (global value) rows; an index has exactly one")
    KvModel(task, keyLen, roots.head, levels(keyLen).size.toLong, radices.toSeq)(levels, rows.sparkSession)
  }
}

object KvIndexBuilder {
  /** Build the KV index from (key, pred) rows — the trained model's
    * predictions on train, keyed (transpiler.py:573). Aggregation per
    * key: mean for regression/binary, mode for multi-class
    * (transpiler.py:986-996), through the same [[KvIndexState]] an
    * incremental append finalizes, so append ≡ rebuild by construction:
    * one partial aggregate of the rows, then [[KvIndexState.toModel]]'s
    * one sorted pass over its keys.
    *
    * @param balanceRatio optional class-balance reweighting
    *                 (`least(value*ratio, 1)`, transpiler.py:3080-3081).
    */
  def buildFromKeyed(
      keyed: DataFrame,
      keyLen: Int,
      task: Task,
      balanceRatio: Option[Double] = None
  ): KvModel =
    KvIndexState.build(keyed, keyLen, task).toModel(balanceRatio)
}
