package graft

import graft.core.{Keys, KvIndexBuilder, NumericBins, Task}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The compiled single-projection probe (the dense answer table) must be
  * bitwise identical to the broadcast-join cascade on every path:
  * exact hit, each prefix length, global fallback, NULL-translated
  * keys — and must be the plan actually chosen for a small index.
  */
class KvProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def keyCol = Keys.keyColumn(Seq(
    NumericBins(Array(0.03, 0.07)).toColumn(col("l_discount")),
    NumericBins(Array(0.04)).toColumn(col("l_tax")),
    NumericBins(Array(10.0, 25.0, 40.0)).toColumn(col("l_quantity"))))

  private lazy val model = {
    val li = Tables.lineitem(spark, sf)
    val train = li.filter(col("l_quantity") < 40.0 && col("l_discount") < 0.07)
      .select(keyCol.as("key"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("pred"))
    KvIndexBuilder.buildFromKeyed(train, keyLen = 3, Task.Classification)
  }

  test("compiled probe equals the join cascade bitwise, fallbacks included") {
    // dirty probe: NULLs route to overflow bins -> unseen keys -> the
    // prefix/global cascade fires on a real fraction of rows
    val dirty = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("l_quantity")).as("l_quantity"),
      when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_discount")).as("l_discount"),
      col("l_tax"))
    def collectProbe(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_linenumber", "p").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val compiled = collectProbe(model.probe(dirty, keyCol, "p"))
    val joined = collectProbe(model.joinProbe(dirty, keyCol, "p"))
    assert(compiled.nonEmpty && compiled.size == joined.size)
    compiled.foreach { case (k, v) =>
      assert(bits(v) == bits(joined(k)), s"row $k: compiled $v vs joined ${joined(k)}")
    }
  }

  test("a NULL key resolves to the global fallback on both paths") {
    import spark.implicits._
    val one = Seq(1).toDF("i")
    val compiled = model.probe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    val joined = model.joinProbe(one, lit(null).cast("string"), "p")
      .select("p").head().getDouble(0)
    assert(bits(compiled) == bits(model.globalValue))
    assert(bits(joined) == bits(model.globalValue))
  }

  test("build and toLocalScorer run pinned job counts under the caller's job group") {
    import spark.implicits._
    val keyed = (1 to 200).map(i => (s"${i % 2}.${i % 3}.${i % 5}.${i % 7}", (i % 2).toDouble))
      .toDF("key", "pred")
    Seq(Task.Classification -> 4, Task.MultiClass -> 6).foreach { case (task, buildJobs) =>
      // the build: one job per exchange of the kv and prefix aggregates
      // (mean 1 + 1, mode 2 + 2; the index's two branches share the kv's),
      // the job that runs the index's last stage into the cache, then ONE
      // job that reads the kv count and global value
      val build = GroupJobs(KvIndexBuilder.buildFromKeyed(keyed, keyLen = 4, task))
      assert(build.started.size == buildJobs && build.outside.isEmpty, s"$task build $build")
      // ONE collect of the one index relation
      val scorer = GroupJobs(build.result.toLocalScorer)
      assert(scorer.started.size == 1 && scorer.outside.isEmpty, s"$task toLocalScorer $scorer")
    }
  }

  /** A keyLen=4 index and one probe key per cascade outcome: an exact
    * hit, a hit at each prefix length 3, 2, 1, an unseen first field
    * (global) and a NULL key. */
  private lazy val (cascade4, cascadeKeys) = {
    import spark.implicits._
    val keyed = Seq(
      "1.1.1.1" -> 1.0, "1.1.1.1" -> 0.0, "1.1.1.1" -> 1.0,
      "1.1.1.2" -> 0.0, "1.1.2.1" -> 1.0, "1.1.2.1" -> 0.0,
      "1.2.1.1" -> 1.0, "2.1.1.1" -> 0.0, "2.2.2.2" -> 1.0, "2.2.2.2" -> 1.0)
      .toDF("key", "pred")
    val m = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 4, Task.Classification)
    (m, Seq("1.1.1.1", "1.1.1.7", "1.1.7.7", "1.7.7.7", "7.7.7.7", null))
  }

  /** `probe` applied to `keys`, values in key order. */
  private def probeValues(keys: Seq[String])(
      probe: (DataFrame, Column, String) => DataFrame): Seq[Double] = {
    import spark.implicits._
    probe(keys.zipWithIndex.toDF("k", "i"), col("k"), "p").select("i", "p").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2).toSeq
  }

  test("the lazy join cascade matches toLocalScorer at every level") {
    val scorer = cascade4.toLocalScorer
    // which level answers each probe key: 4 = exact, 3..1 = prefix, 0 = global
    def level(k: String): Int =
      if (k == null) 0
      else if (scorer.kv.contains(k)) 4
      else scorer.prefixes.collectFirst {
        case (l, tbl) if tbl.contains(graft.core.LocalScorer.prefix(k, l)) => l
      }.getOrElse(0)
    assert(cascadeKeys.map(level) == Seq(4, 3, 2, 1, 0, 0), "fixture must cover every level")
    val joined = probeValues(cascadeKeys)(cascade4.joinProbe)
    cascadeKeys.zip(joined).foreach { case (k, v) =>
      val local = Option(k).map(scorer.scoreKey).getOrElse(cascade4.globalValue)
      assert(bits(v) == bits(local), s"key $k: joined $v vs local $local")
    }
  }

  test("every prefix join probes with a key conditional on the longer levels missing") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, ConcatWs, Expression, If, IsNull, SubstringIndex}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def conditional(e: Expression): Boolean = e.find {
        case CaseWhen(branches, _) => branches.exists(_._1.find(_.isInstanceOf[IsNull]).isDefined)
        case If(p, _, _) => p.find(_.isInstanceOf[IsNull]).isDefined
        case _ => false
      }.isDefined
      def lazyJoins(df: DataFrame) = {
        val plan = df.queryExecution.executedPlan
        val joins = plan.collect { case j: BroadcastHashJoinExec => j }
        assert(joins.size == 4, s"one broadcast join per level:\n$plan")
        assert(joins.count(_.leftKeys.exists(conditional)) == 3,
          s"all 3 prefix joins must skip resolved rows:\n$plan")
        (plan, joins)
      }
      // the key-string functions the serve's own operators run (the
      // cached index's lineage is not one of them)
      def keyStrings(plan: org.apache.spark.sql.execution.SparkPlan) =
        plan.flatMap(_.expressions).flatMap(_.collect {
          case e @ (_: ConcatWs | _: SubstringIndex) => e.prettyName
        }).toSet
      val (stringPlan, _) = lazyJoins(cascade4.joinProbe(Seq("1.1.1.1", "1.1.7.7").toDF("k"), col("k"), "p"))
      assert(keyStrings(stringPlan) == Set("substring_index"), stringPlan.toString)
      // a key over non-nullable Long bins probes the packed code: Long
      // hash relations, and no key string built or cut on the probe side
      assert(cascade4.packed)
      val (plan, joins) = lazyJoins(cascade4.joinProbe(extendedSpace(Seq(2, 2, 2, 2)),
        Keys.keyColumn((0 until 4).map(i => col(s"b$i"))), "p"))
      assert(joins.forall(j => (j.leftKeys ++ j.rightKeys).forall(_.dataType == LongType)),
        s"every join key must be a Long code:\n$plan")
      assert(keyStrings(plan).isEmpty, s"the packed cascade must not run ${keyStrings(plan)}:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"no probe-side shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("keys whose every prediction is NULL serve the same on every path") {
    import spark.implicits._
    // "1.1.1" and "1.2.1" only ever see NULL predictions; "1.1.2"/"1.2.2"
    // give their prefixes a non-NULL value a NULL vote could tie
    val keyed = Seq[(String, java.lang.Double)](
      "1.1.1" -> null, "1.1.1" -> null, "1.1.2" -> 2.0, "1.2.1" -> null,
      "1.2.2" -> 1.0, "2.1.1" -> 0.0, "2.1.1" -> 1.0, "2.1.1" -> 1.0)
      .toDF("key", "pred")
    val probeKeys = Seq("1.1.1", "1.1.2", "1.2.1", "1.1.9", "2.1.1", "9.9.9", null)
    Seq(Task.Classification, Task.MultiClass).foreach { task =>
      val m = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 3, task)
      val scorer = m.toLocalScorer
      val compiled = probeValues(probeKeys)(m.probe)
      val joined = probeValues(probeKeys)(m.joinProbe)
      probeKeys.indices.foreach { i =>
        val local = Option(probeKeys(i)).map(scorer.scoreKey).getOrElse(m.globalValue)
        assert(bits(compiled(i)) == bits(local) && bits(joined(i)) == bits(local),
          s"$task key ${probeKeys(i)}: compiled ${compiled(i)} joined ${joined(i)} local $local")
      }
      // a NULL-only key has no entry of its own: it serves its prefix
      assert(!scorer.kv.contains("1.1.1"), s"$task: NULL-only key must not get a kv entry")
      assert(bits(scorer.scoreKey("1.1.1")) == bits(scorer.scoreKey("1.1.2")), s"$task")
      // and the incremental state builds the same index as the fresh build
      val fromState = graft.core.KvIndexState.build(keyed, keyLen = 3, task).toModel().toLocalScorer
      assert(fromState.kv.view.mapValues(bits).toMap == scorer.kv.view.mapValues(bits).toMap, s"$task")
    }
  }

  test("small index compiles to a joinless, exchange-free projection") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = model.probe(Tables.lineitem(spark, sf), keyCol, "p")
        .queryExecution.executedPlan.toString
      assert(plan.contains("kv_probe"), plan.take(500))
      assert(!plan.contains("Join"), "compiled probe must not join")
      assert(!plan.contains("Exchange"), "compiled probe must not exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  /** A model over the Long bin columns b0..b(k-1), trained on a seeded
    * ~60% of the cells of `ranges`, and its key. */
  private def binModel(ranges: Seq[Int], task: Task, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val cells = ranges.foldLeft(Seq(Seq.empty[Long]))((acc, r) => acc.flatMap(p => (0 until r).map(p :+ _.toLong)))
    val votes = cells.filter(_ => rnd.nextDouble() < 0.6).flatMap { c =>
      Seq.fill(1 + rnd.nextInt(3))(
        (c.mkString("."), if (task == Task.MultiClass) rnd.nextInt(3).toDouble else rnd.nextInt(2).toDouble))
    }
    val key = Keys.keyColumn(ranges.indices.map(i => col(s"b$i")))
    (KvIndexBuilder.buildFromKeyed(votes.toDF("key", "pred"), ranges.length, task), key)
  }

  /** Every slot of the extended key space: each field from -1 to two past
    * its trained range, plus both Long extremes and `extra` — as an
    * RDD-backed frame of non-nullable Long bins (so the probe runs
    * through codegen) with a row id. */
  private def extendedSpace(ranges: Seq[Int], extra: Seq[Long] = Nil): DataFrame = {
    val values = ranges.map(r => (Seq(Long.MinValue, Long.MaxValue) ++ (-1L to r + 1L) ++ extra))
    val rows = values.foldLeft(Seq(Seq.empty[Long]))((acc, vs) => acc.flatMap(p => vs.map(p :+ _)))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType, nullable = false) +:
        ranges.indices.map(i => org.apache.spark.sql.types.StructField(s"b$i",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val data = rows.zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row.fromSeq(i +: r) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
  }

  private def executedPlan(df: DataFrame): String = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("dense probe equals joinProbe and scoreKey bitwise over the whole key space") {
    for ((ranges, task, seed) <- Seq(
        (Seq(3, 4, 2), Task.Classification, 1), (Seq(3, 4, 2), Task.MultiClass, 2),
        (Seq(3, 2, 3, 3), Task.Classification, 3), (Seq(3, 2, 3, 3), Task.MultiClass, 4),
        // keyLen 1: no prefix level, the kv straight over the global value
        (Seq(4), Task.Classification, 7))) {
      val (m, key) = binModel(ranges, task, seed)
      // the one index relation: the kv rows at len = keyLen, one row per
      // prefix at lens keyLen-1 .. 1, and exactly one len = 0 row
      val lens = m.index.select("len").collect().map(_.getInt(0))
      assert(lens.count(_ == ranges.length) == m.kvCount && lens.count(_ == 0) == 1 &&
        lens.toSet == (0 to ranges.length).toSet, s"$ranges $task lens ${lens.distinct.sorted.toSeq}")
      assert(m.prefixes.map(_._1) == (ranges.length - 1 to 1 by -1), s"$ranges $task")
      val scorer = m.toLocalScorer
      val input = extendedSpace(ranges)
      val dense = m.probe(input, key, "p")
      assert(executedPlan(dense).contains("kv_probe("), s"$ranges $task must serve dense")
      def byId(df: DataFrame) = df.select(col("id"), col("p")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val got = byId(dense)
      val joined = byId(m.joinProbe(input, key, "p"))
      // the interpreted path: a local relation folds the projection at plan time
      val folded = byId(m.probe(spark.createDataFrame(input.collect().toSeq.asJava, input.schema), key, "p"))
      val keys = input.select(col("id"), key).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(got.size == keys.size && joined.size == keys.size && folded.size == keys.size)
      keys.foreach { case (id, k) =>
        val local = scorer.scoreKey(k)
        assert(bits(got(id)) == bits(local) && bits(joined(id)) == bits(local) &&
          bits(folded(id)) == bits(local),
          s"$ranges $task key $k: dense ${got(id)} joined ${joined(id)} folded ${folded(id)} local $local")
      }
      // every level of the cascade answers some slot
      val levels = keys.values.map { k =>
        if (scorer.kv.contains(k)) ranges.length
        else scorer.prefixes.collectFirst {
          case (l, t) if t.contains(graft.core.LocalScorer.prefix(k, l)) => l
        }.getOrElse(0)
      }.toSet
      assert(levels == (0 to ranges.length).toSet, s"$ranges $task levels $levels")
    }
  }

  /** The types of every broadcast join key in `df`'s executed plan. */
  private def joinKeyTypes(df: DataFrame): Set[org.apache.spark.sql.types.DataType] = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => (j.leftKeys ++ j.rightKeys).map(_.dataType)
    }.flatten.toSet
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("packed joinProbe equals the string cascade, the dense form and scoreKey over a whole keyLen-4 space") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val w = Keys.codeWidth(4)
    // around the unseen digit 2^w - 1, which a bin must never alias
    val wide = Seq((1L << w) - 2, (1L << w) - 1, 1L << w, (1L << w) + 1)
    for ((task, seed) <- Seq(Task.Classification -> 11, Task.MultiClass -> 12)) {
      val ranges = Seq(3, 2, 3, 3)
      val (m, key) = binModel(ranges, task, seed)
      assert(m.packed, s"$task")
      val scorer = m.toLocalScorer
      val input = extendedSpace(ranges, wide)
      val asString = input.select(col("id"), key.as("k"))
      def byId(df: DataFrame) = df.select(col("id"), col("p")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val packedJoin = m.joinProbe(input, key, "p")
      val stringJoin = m.joinProbe(asString, col("k"), "p")
      assert(joinKeyTypes(packedJoin) == Set(LongType), s"$task packed join keys")
      assert(joinKeyTypes(stringJoin) == Set(StringType), s"$task string join keys")
      val dense = m.probe(input, key, "p")
      assert(executedPlan(dense).contains("kv_probe("), s"$task must serve dense")
      // the interpreted code: a local relation folds the projection at plan time
      val folded = m.joinProbe(spark.createDataFrame(input.collect().toSeq.asJava, input.schema), key, "p")
      val forms = Seq("packed" -> packedJoin, "string" -> stringJoin, "dense" -> dense, "folded" -> folded)
        .map { case (name, df) => name -> byId(df) }
      val keys = asString.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      keys.foreach { case (id, k) =>
        val local = bits(scorer.scoreKey(k))
        forms.foreach { case (name, values) =>
          assert(values.size == keys.size && bits(values(id)) == local,
            s"$task key $k: $name ${values.get(id)} vs local ${scorer.scoreKey(k)}")
        }
      }
    }
  }

  test("an index or key that does not pack takes the string cascade and still agrees with scoreKey") {
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    val unseen = Keys.unseen(4)
    val base = Seq("1.1.1.1" -> 1.0, "1.1.2.1" -> 0.0, "1.2.1.1" -> 1.0, "2.1.1.1" -> 0.0)
    val input = extendedSpace(Seq(2, 2, 2, 2), Seq(unseen - 1, unseen))
    val binKey = Keys.keyColumn((0 until 4).map(i => col(s"b$i")))
    val nullable = Keys.keyColumn(when(col("b0") === Long.MaxValue, lit(null)).otherwise(col("b0")) +:
      (1 until 4).map(i => col(s"b$i")))
    val indexes = Seq(
      "a non-canonical kv key" -> (base :+ ("01.2.1.1" -> 1.0)),
      "a field at the unseen digit" -> (base :+ (s"$unseen.1.1.1" -> 1.0)))
    val model = KvIndexBuilder.buildFromKeyed(base.toDF("key", "pred"), keyLen = 4, Task.Classification)
    val cases = indexes.map { case (why, keyed) =>
      (why, KvIndexBuilder.buildFromKeyed(keyed.toDF("key", "pred"), keyLen = 4, Task.Classification),
        input, binKey)
    } ++ Seq(
      ("a nullable bin", model, input, nullable),
      ("a plain string key", model, input.select(col("id"), binKey.as("k")), col("k")))
    cases.foreach { case (why, m, in, key) =>
      assert(m.packed == (m eq model), why)
      val probed = m.joinProbe(in, key, "p")
      assert(joinKeyTypes(probed) == Set(StringType), s"$why must take the string cascade")
      val scorer = m.toLocalScorer
      val rows = probed.select(key.as("k"), col("p")).collect()
      assert(rows.length == input.count(), why)
      rows.foreach { r =>
        val local = Option(r.getString(0)).map(scorer.scoreKey).getOrElse(m.globalValue)
        assert(bits(r.getDouble(1)) == bits(local), s"$why key ${r.getString(0)}: ${r.getDouble(1)} vs $local")
      }
    }
  }

  test("a fused dense serve is one projection: no key string, no join, no probe-side exchange") {
    val (m, key) = binModel(Seq(3, 4, 2), Task.Classification, 5)
    val fused = m.probe(extendedSpace(Seq(3, 4, 2)), key, "p")
      .filter(col("p") > 0.5).groupBy(col("b0")).agg(count(lit(1)).as("n"))
    val plan = executedPlan(fused)
    assert(plan.contains("kv_probe("), plan)
    assert(!plan.contains("concat_ws"), s"the dense serve must not build the key:\n$plan")
    assert(!plan.contains("Join"), s"the dense serve must not join:\n$plan")
    // the one exchange is the aggregate's own shuffle
    assert("Exchange ".r.findAllIn(plan).size == 1, s"only the aggregate may exchange:\n$plan")
  }

  test("a non-bin key, a nullable bin and an over-cap key space take the join form") {
    import spark.implicits._
    def form(df: DataFrame): String = {
      val plan = executedPlan(df)
      if (plan.contains("kv_probe(")) "dense" else if (plan.contains("BroadcastHashJoin")) "join" else plan
    }
    val (m, key) = binModel(Seq(3, 4, 2), Task.Classification, 6)
    val input = extendedSpace(Seq(3, 4, 2))
    assert(form(m.probe(input, key, "p")) == "dense")
    assert(form(m.probe(input.select(col("id"), key.as("k")), col("k"), "p")) == "join")
    val nullable = Keys.keyColumn(Seq(when(col("b0") > 100, lit(null)).otherwise(col("b0")),
      col("b1"), col("b2")))
    assert(form(m.probe(input, nullable, "p")) == "join")
    // 400 kv keys, far below the cap, over a 401 x 401 key space above it
    val wide = KvIndexBuilder.buildFromKeyed(
      (0 until 400).map(i => (s"$i.$i", (i % 2).toDouble)).toDF("key", "pred"), keyLen = 2, Task.Classification)
    assert(wide.kvCount <= graft.core.KvModel.MaxCompiledEntries)
    val wideInput = (0L until 500L).map(i => (i, i)).toDF("b0", "b1")
    val wideKey = Keys.keyColumn(Seq(col("b0"), col("b1")))
    assert(form(wide.probe(wideInput, wideKey, "p")) == "join")
    // and the join form serves every row the same as the scorer
    val scorer = wide.toLocalScorer
    wide.probe(wideInput, wideKey, "p").select(wideKey, col("p")).collect().foreach { r =>
      assert(bits(r.getDouble(1)) == bits(scorer.scoreKey(r.getString(0))), r.toString)
    }
  }
}
