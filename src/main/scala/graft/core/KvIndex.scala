package graft.core

import graft.plans.{DenseAnswers, KvProbe}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared aggregate helpers. */
object Aggregates {
  /** Per-group mode with pinned tie-break (highest count, then lowest
    * value — deterministic under Spark shuffles; the reference's pandas
    * idxmax / Counter.most_common tie-breaks are insertion-order
    * dependent: src/transpiler.py:986-992, inference_trie.py:96-98 —
    * SURVEY §7.4 risk #3 says pin it explicitly).
    *
    * Two shuffle-free-after-partial aggregations, no window: counts per
    * (group, value), then max_by(value, (count, -value)) per group.
    */
  def mode(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    modeFromCounts(
      df.groupBy((groupCols :+ valueCol).map(col): _*)
        .agg(count(lit(1)).as("cnt")),
      groupCols, valueCol, "cnt")

  /** The pinned tie-break applied to PRE-COUNTED (group, value, cnt)
    * rows — the single definition both [[mode]] and the mergeable
    * [[KvIndexState]] finalize through, so append and rebuild can never
    * disagree on a tied key. min over (-cnt, value) == highest count,
    * then lowest value — works for numeric AND string value columns
    * (no negation of the value). */
  def modeFromCounts(
      counted: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      cntCol: String): DataFrame =
    counted
      .groupBy(groupCols.map(col): _*)
      .agg(
        min_by(col(valueCol), struct(-col(cntCol), col(valueCol))).as(valueCol)
      )
}

/** The learned key–value index: exact probe + field-wise prefix
  * fallback (ref: src/inference_trie.py:60-98, src/transpiler.py
  * :1004-1099; SURVEY §2.9).
  *
  * Spark-first design: instead of the reference's row-at-a-time
  * dynamic-SQL `prefix_search`, every field-wise prefix of every key is
  * aggregated ONCE at build time into a single prefix relation
  * `(len, prefix, value)`, next to the exact `kv` relation. The probe
  * then takes one of two bitwise-identical forms, chosen in [[probe]]
  * ([[KvProbeSpec]] pins them):
  *
  *  - **dense** (a [[Keys.keyColumn]] over `keyLen` non-nullable
  *    integral bins, and a key space of at most
  *    [[KvModel.MaxCompiledEntries]] slots): every key's cascade answer
  *    is a pure function of the key, so it is computed once per model
  *    into a mixed-radix answer table ([[DenseAnswers]]) and
  *    the serve is ONE whole-stage-codegen projection that packs the bins
  *    and loads one double — no key string, zero joins, zero exchanges on
  *    the probe side at any input size;
  *  - **join cascade** (any other key, or a larger key space): BROADCAST
  *    hash joins + one coalesce — fully parallel, no iteration, and the
  *    only shuffle in the whole serve path is whatever the caller's plan
  *    already needed. The levels are lazy: a prefix level computes its
  *    key and probes its table only for rows no longer level resolved.
  *
  * At 100 TB the probe side streams; the index sides are bounded by the
  * key space (small by construction — that is the point of the paper).
  */
final case class KvModel(
    task: Task,
    keyLen: Int,
    kv: DataFrame,          // (key string, value double), cached
    prefixRel: DataFrame,   // (len int, prefix string, value double), cached; len = 1 .. keyLen-1
    globalValue: Double,    // trie-root fallback
    kvCount: Long,          // |kv|, counted once when the relation is cached
    prefixCount: Long       // |prefixRel|, likewise
) {
  /** The index entries as a typed Dataset (SURVEY §1.2 fixed shape). */
  def entries: org.apache.spark.sql.Dataset[Types.KVEntry] = {
    import kv.sparkSession.implicits._
    kv.select(col("key"), col("value")).as[Types.KVEntry]
  }

  /** Prefix lengths in cascade order, longest first. */
  private def levels: Seq[Int] = keyLen - 1 to 1 by -1

  /** Per-level views of [[prefixRel]], longest first: len ->
    * (prefix string, value double). Built once per model and reused by
    * every [[joinProbe]]: five fresh views per call re-analyzed the
    * relation's lineage and cost a 6-field cascade serve ~0.1 s
    * (4 local cores). */
  @transient lazy val prefixes: Seq[(Int, DataFrame)] = levels.map { l =>
    l -> prefixRel.where(col("len") === l).select(col("prefix"), col("value"))
  }

  /** Append `predName` to `input` by probing the index with `key`.
    * Exact hit wins; else the longest non-empty prefix aggregate; else
    * the global aggregate (trie-root DFS, inference_trie.py:91-98).
    * The one place the form is chosen: the dense answer table when
    * [[denseProbe]] applies, the broadcast-join cascade otherwise — same
    * values bit for bit either way (a NULL key resolves to the global
    * aggregate on the join path; a dense key is never NULL).
    */
  def probe(input: DataFrame, key: Column, predName: String = "prediction"): DataFrame =
    denseProbe(input, key) match {
      case Some(answer) => input.withColumn(predName, answer)
      case None => joinProbe(input, key, predName)
    }

  /** The dense kernel over `key`'s bins, when `key` is a
    * [[Keys.keyColumn]] of `keyLen` bins that are non-nullable and
    * integral in `input` (an analysis, no job) and the index has a
    * [[denseAnswers]] table. */
  private def denseProbe(input: DataFrame, key: Column): Option[Column] =
    Keys.bins(key).filter(_.length == keyLen).filter { bins =>
      input.select(bins: _*).schema.forall(f => !f.nullable && KvProbe.bin(f.dataType))
    }.flatMap(bins => denseAnswers.map(KvProbe.column(bins, _)))

  /** [[LocalScorer.scoreKey]] over every slot of the key space, built
    * once per model — when every kv key is `keyLen` canonical decimals
    * and the space has at most [[KvModel.MaxCompiledEntries]] slots.
    * Field `i`'s radix is 1 + its largest value over the kv keys; its
    * extra "unseen" digit renders as the radix itself, a value no kv key
    * (so no prefix) has in that field — exactly the cascade of any bin
    * outside `[0, radix)`. An index of more entries than the cap cannot
    * fit (each kv key has its own slot) and is never collected. */
  @transient private lazy val denseAnswers: Option[DenseAnswers] =
    if (kvCount > KvModel.MaxCompiledEntries) None
    else {
      val scorer = toLocalScorer
      val keys = scorer.kv.keys.toSeq.flatMap(Keys.parse(_, keyLen))
      if (keys.size < scorer.kv.size) None
      else {
        val radices = Array.tabulate(keyLen)(i => keys.foldLeft(0)((m, k) => math.max(m, k(i) + 1)))
        if (DenseAnswers.slots(radices) > KvModel.MaxCompiledEntries) None
        else Some(DenseAnswers.tabulate(radices)(d => scorer.scoreKey(Keys.render(d.toSeq.map(_.toLong)))))
      }
    }

  /** The broadcast-join cascade form of [[probe]] (always correct, for
    * any string key; the scale path for key spaces above the dense cap).
    *
    * Lazy, like the trie walk it reproduces: level `l`'s stream-side key
    * is `CASE WHEN <every longer level missed> THEN prefix(key, l) END`,
    * so a row an earlier level resolved skips the `substring_index` and,
    * its join key being NULL, the hash lookup too (broadcast hash joins
    * never probe a NULL key). A level's value only counts when every
    * earlier one is NULL, and then it probes exactly the eager key —
    * the final coalesce is bit-identical to probing every level. */
  def joinProbe(input: DataFrame, key: Column, predName: String = "prediction"): DataFrame = {
    val keyed = input.withColumn("__key", key)
    val exact = keyed.join(
      broadcast(kv.select(col("key").as("__key"), col("value").as("__v_exact"))),
      Seq("__key"), "left")
    val (cascaded, values) = prefixes.foldLeft((exact, Seq("__v_exact"))) {
      case ((df, resolved), (l, tbl)) =>
        val levelKey = when(coalesce(resolved.map(col): _*).isNull, Keys.prefix(col("__key"), l))
        val joined = df.join(
          broadcast(tbl.select(col("prefix").as(s"__p_$l"), col("value").as(s"__v_$l"))),
          levelKey === col(s"__p_$l"), "left")
          .drop(s"__p_$l")
        (joined, resolved :+ s"__v_$l")
    }
    cascaded
      .withColumn(predName, coalesce(values.map(col) :+ lit(globalValue): _*))
      .drop("__key" +: values: _*)
  }

  /** Collect the (bounded-by-key-space) kv and prefix relations ONCE
    * into plain maps for driver-local point lookups — the reference's
    * standalone-trie single-row use case (transpiler.py:3117-3215;
    * SURVEY §1.1). Two collects on the caller's thread, so both jobs
    * run under the caller's job group and description. */
  def toLocalScorer: LocalScorer = {
    val kvMap = kv.select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val byLen = prefixRel.select(col("len"), col("prefix"), col("value")).collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) => l -> rows.map(r => r.getString(1) -> r.getDouble(2)).toMap }
    LocalScorer(kvMap, levels.map(l => l -> byLen.getOrElse(l, Map.empty[String, Double])), globalValue)
  }
}

/** Driver-local single-row scorer: exact hit, then longest non-empty
  * field-wise prefix, then the global fallback — the same cascade as
  * [[KvModel.probe]], microseconds per lookup, no Spark job. */
final case class LocalScorer(
    kv: Map[String, Double],
    prefixes: Seq[(Int, Map[String, Double])], // longest first, like probe
    globalValue: Double) {

  def scoreKey(key: String): Double =
    kv.get(key) match {
      case Some(v) => v
      case None =>
        var i = 0
        while (i < prefixes.length) {
          val (l, m) = prefixes(i)
          val hit = m.get(LocalScorer.prefix(key, l))
          if (hit.isDefined) return hit.get
          i += 1
        }
        globalValue
    }
}

object LocalScorer {
  /** First `n` '.'-separated fields — `Keys.prefix` (substring_index)
    * driver-side: the whole key when it has ≤ n fields. */
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

/** Mergeable sufficient statistics for INCREMENTAL index maintenance —
  * the reference's retrain-vs-reuse story (its trie is rebuilt from
  * scratch per retrain; here the aggregates are decomposable, so new
  * data merges in without rescanning the base corpus):
  *
  *  - mean tasks (regression/binary): per-key (sum, cnt) — merged by
  *    addition, value = sum/cnt. Identical to avg() over base ∪ delta
  *    because both are one exact merge-tree away from the same total.
  *  - multi-class (mode): per-(key, pred) cnt — merged by addition,
  *    value = the same pinned-tie argmax [[Aggregates.mode]] computes.
  *
  * append(delta) ≡ rebuild(base ∪ delta): mode counts are integers, so
  * multi-class equality is exact always; mean sums are doubles, so the
  * equality is BITWISE when predictions are integer-valued (0/1 labels,
  * class ids, integer-scaled scores — every shipped lifecycle) and
  * otherwise agrees the way any two Spark avg() runs do (identical up
  * to FP summation order, which partitioning already makes
  * nondeterministic — round the served value, as the declared queries
  * do). `x_index_append`'s oracle IS the rebuild, so the equivalence is
  * hash-checked end to end. At 100 TB this is the
  * difference between an O(delta) daily ingest and an O(corpus) rescan:
  * the state is key-space-bounded (small by construction), the delta
  * pass is one partial aggregate.
  */
final case class KvIndexState(task: Task, keyLen: Int, stats: DataFrame) {

  /** Merge new (key, pred) rows into the state: one partial aggregate
    * over the delta, one key-keyed merge — the base data never rescans. */
  def append(keyed: DataFrame): KvIndexState =
    copy(stats = KvIndexState.merge(
      stats.unionByName(KvIndexState.partial(keyed, task)), task))

  /** Finalize into a servable [[KvModel]] (prefix relation + global
    * fallback derive from the kv exactly like a fresh build). */
  def toModel(balanceRatio: Option[Double] = None): KvModel = {
    val kv = task match {
      case Task.MultiClass =>
        Aggregates.modeFromCounts(stats, Seq("key"), "pred", "cnt")
          .withColumnRenamed("pred", "value")
      case _ =>
        stats.select(col("key"), (col("sum") / col("cnt")).as("value"))
    }
    KvIndexBuilder.fromKv(kv, keyLen, task, balanceRatio)
  }
}

object KvIndexState {
  /** Build the initial state from (key, pred) rows. */
  def build(keyed: DataFrame, keyLen: Int, task: Task): KvIndexState =
    KvIndexState(task, keyLen, partial(keyed, task))

  private def partial(keyed: DataFrame, task: Task): DataFrame = {
    val voted = KvIndexBuilder.votes(keyed)
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
}

object KvModel {
  /** The largest key space (slots of the dense answer table, unseen
    * digits included) the probe serves from the plan-embedded kernel;
    * above it the probe takes the broadcast joins. The table rides every
    * task binary, so it must stay small: 2^17 doubles is 1 MB. */
  val MaxCompiledEntries: Long = 1L << 17
}

object KvIndexBuilder {
  /** Build the KV index from an encoded training DataFrame.
    *
    * @param encoded  DataFrame with LongType bin columns `keyCols` and
    *                 a numeric prediction column `predCol` (the trained
    *                 model's predictions on train — transpiler.py:573).
    * @param balanceRatio optional class-balance reweighting
    *                 (`min(value*ratio, 1)`, transpiler.py:3080-3081).
    *
    * Aggregation per key: mean for regression/binary, mode for
    * multi-class (transpiler.py:986-996). Prefix aggregates run over
    * DISTINCT KEYS (one row per kv entry), not raw rows — matching the
    * trie's DFS over leaves (inference_trie.py:73-98).
    */
  def build(
      encoded: DataFrame,
      keyCols: Seq[String],
      predCol: String,
      task: Task,
      balanceRatio: Option[Double] = None
  ): KvModel = {
    val keyed = encoded.select(
      Keys.keyColumn(keyCols.map(col)).as("key"),
      col(predCol).cast("double").as("pred"))
    buildFromKeyed(keyed, keyCols.length, task, balanceRatio)
  }

  /** Build from an already-keyed DataFrame with columns (key, pred). */
  def buildFromKeyed(
      keyed: DataFrame,
      keyLen: Int,
      task: Task,
      balanceRatio: Option[Double] = None
  ): KvModel = {
    val voted = votes(keyed)
    val kvRaw = task match {
      case Task.MultiClass =>
        Aggregates.mode(voted, Seq("key"), "pred").withColumnRenamed("pred", "value")
      case _ =>
        voted.groupBy("key").agg(avg("pred").as("value"))
    }
    fromKv(kvRaw, keyLen, task, balanceRatio)
  }

  /** The (key, pred) rows that vote: a NULL prediction carries no vote,
    * so a key seen only with NULL predictions gets no kv entry and falls
    * through to its prefix, and a NULL can never win a mode. Shared by
    * the fresh build and [[KvIndexState]], so append ≡ rebuild. */
  private[core] def votes(keyed: DataFrame): DataFrame =
    keyed.select(col("key"), col("pred").cast("double").as("pred")).where(col("pred").isNotNull)

  /** Finalize a (key, value) kv relation into a servable model:
    * balance reweight, then the prefix relation and global aggregate —
    * shared by the fresh build and [[KvIndexState.toModel]]. The prefix
    * relation is ONE aggregate: each kv row explodes into its keyLen-1
    * field-wise prefixes, grouped by (len, prefix). */
  private[core] def fromKv(
      kvRaw: DataFrame,
      keyLen: Int,
      task: Task,
      balanceRatio: Option[Double]
  ): KvModel = {
    val kv = balanceRatio match {
      case Some(r) => kvRaw.withColumn("value", least(col("value") * r, lit(1.0)))
      case None    => kvRaw
    }
    val kvCached = kv.cache()
    val kvN = kvCached.count() // materialize once; every probe broadcasts from here

    val pfx =
      if (keyLen <= 1) // no prefix levels: an empty relation of the same shape
        kvCached.select(lit(0).as("len"), col("key").as("prefix"), col("value")).where(lit(false))
      else kvCached
        .select(explode(array((1 until keyLen).map(l =>
          struct(lit(l).as("len"), Keys.prefix(col("key"), l).as("prefix"))): _*)).as("p"), col("value"))
        .select(col("p.len").as("len"), col("p.prefix").as("prefix"), col("value"))
    val prefixRel = (task match {
      case Task.MultiClass => Aggregates.mode(pfx, Seq("len", "prefix"), "value")
      case _ => pfx.groupBy("len", "prefix").agg(avg("value").as("value"))
    }).cache()
    val prefixN = prefixRel.count()

    val globalValue = task match {
      case Task.MultiClass =>
        Aggregates.mode(kvCached.select(col("value")), Seq.empty, "value")
          .head().getDouble(0)
      case _ =>
        kvCached.agg(avg("value")).head().getDouble(0)
    }
    KvModel(task, keyLen, kvCached, prefixRel, globalValue, kvN, prefixN)
  }
}
