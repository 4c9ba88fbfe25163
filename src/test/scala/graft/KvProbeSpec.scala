package graft

import graft.TestSpark.bits
import graft.core.{Keys, KvIndexBuilder, KvIndexState, KvModel, NumericBins, StringCascade, Task, TmpDirs}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, IndexLevel, IndexLevelExec, SparkSession}
import org.apache.spark.sql.execution.joins.IndexLevelInternals
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The probe is one cascade split at `s*`: the compiled levels from one
  * dense answer table, the levels above it by broadcast joins. Every
  * split must be bitwise identical to the all-join cascade on every path:
  * exact hit, each prefix length, global fallback, NULL-translated
  * keys — and must be the plan actually chosen: one projection for a
  * small index, the table plus a join per over-cap level above it, each
  * join reading the level's hash relation, broadcast once per model.
  * Both serve one key: a `Keys.keyColumn` over non-nullable integral bins.
  */
class KvProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

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
    // every feature NULL: each bins to its overflow bin, and the first
    // (l_discount's 2) never trained, so the key matches no prefix
    val one = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)]((null, null, null))
      .toDF("l_discount", "l_tax", "l_quantity")
    assert(one.select(keyCol).head().getString(0) == "2.1.3")
    val compiled = model.probe(one, keyCol, "p")
      .select("p").head().getDouble(0)
    val joined = model.joinProbe(one, keyCol, "p")
      .select("p").head().getDouble(0)
    assert(bits(compiled) == bits(model.globalValue))
    assert(bits(joined) == bits(model.globalValue))
  }

  test("build and toLocalScorer run pinned job counts under the caller's job group") {
    import spark.implicits._
    val keyed = (1 to 200).map(i => (s"${i % 2}.${i % 3}.${i % 5}.${i % 7}", (i % 2).toDouble))
      .toDF("key", "pred")
    Seq(Task.Classification, Task.MultiClass).foreach { task =>
      // the build, for every task: the partial aggregate's map stage,
      // then ONE job whose ONE task merges the partials, sorts by code,
      // runs the sorted pass and hands the index's rows to the driver
      val build = GroupJobs(KvIndexBuilder.buildFromKeyed(keyed, keyLen = 4, task))
      assert(build.started.size == 2 && build.outside.isEmpty, s"$task build $build")
      // the scorer is built from the model's driver copy of its index
      val scorer = GroupJobs(build.result.toLocalScorer)
      assert(scorer.started.isEmpty, s"$task toLocalScorer $scorer")
    }
  }

  /** A keyLen=4 index and one probe row of bins per cascade outcome: an
    * exact hit, a hit at each prefix length 3, 2, 1 and an unseen first
    * field (global). */
  private lazy val (cascade4, cascadeBins) = {
    import spark.implicits._
    val keyed = Seq(
      "1.1.1.1" -> 1.0, "1.1.1.1" -> 0.0, "1.1.1.1" -> 1.0,
      "1.1.1.2" -> 0.0, "1.1.2.1" -> 1.0, "1.1.2.1" -> 0.0,
      "1.2.1.1" -> 1.0, "2.1.1.1" -> 0.0, "2.2.2.2" -> 1.0, "2.2.2.2" -> 1.0)
      .toDF("key", "pred")
    val m = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 4, Task.Classification)
    (m, Seq(Seq(1L, 1L, 1L, 1L), Seq(1L, 1L, 1L, 7L), Seq(1L, 1L, 7L, 7L), Seq(1L, 7L, 7L, 7L), Seq(7L, 7L, 7L, 7L)))
  }

  /** The key over the bin columns b0..b(n-1) of [[binRows]]. */
  private def binKey(n: Int): Column = Keys.keyColumn((0 until n).map(i => col(s"b$i")))

  /** `probe` applied to one [[binRows]] row per element of `rows`, values
    * in row order. */
  private def probeValues(rows: Seq[Seq[Long]])(
      probe: (DataFrame, Column, String) => DataFrame): Seq[Double] =
    probe(binRows(rows), binKey(rows.head.length), "p").select("id", "p").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2).toSeq

  test("the lazy join cascade matches toLocalScorer at every level") {
    val scorer = cascade4.toLocalScorer
    val keys = cascadeBins.map(Keys.render)
    assert(keys.map(StringCascade(cascade4).level) == Seq(4, 3, 2, 1, 0), "fixture must cover every level")
    val joined = probeValues(cascadeBins)(cascade4.joinProbe)
    cascadeBins.indices.foreach { i =>
      val local = scorer.score(cascadeBins(i).toArray)
      assert(bits(joined(i)) == bits(local) && bits(scorer.scoreKey(keys(i))) == bits(local),
        s"key ${keys(i)}: joined ${joined(i)} vs local $local")
    }
  }

  test("scoreKey fails loudly on a key that is not keyLen integers, naming it") {
    val scorer = model.toLocalScorer
    // too few or too many fields must not serve a prefix's value
    for (bad <- Seq("1.1", "1.1.1.1", "1", "", "1..1", "1.1.", ".1.1", "a.1.1", "1.1.x", "1.1.1.",
        "1.1.99999999999999999999")) {
      val e = intercept[IllegalArgumentException](scorer.scoreKey(bad))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("3 '.'-separated"), e.getMessage)
    }
    // every key a keyColumn renders reads, the out-of-range bins included
    assert(bits(scorer.scoreKey(s"${Long.MinValue}.-1.${Long.MaxValue}")) == bits(model.globalValue))
  }

  test("every prefix join probes with a key conditional on the longer levels missing") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, ConcatWs, Expression, If, IsNull, SubstringIndex}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.LongType
    def conditional(e: Expression): Boolean = e.find {
      case CaseWhen(branches, _) => branches.exists(_._1.find(_.isInstanceOf[IsNull]).isDefined)
      case If(p, _, _) => p.find(_.isInstanceOf[IsNull]).isDefined
      case _ => false
    }.isDefined
    // the probe key is the packed code of the bins: Long hash relations
    val plan = TestSpark.executedPlan(cascade4.joinProbe(extendedSpace(Seq(2, 2, 2, 2)), binKey(4), "p"))
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 4, s"one broadcast join per level:\n$plan")
    assert(joins.count(_.leftKeys.exists(conditional)) == 3,
      s"all 3 prefix joins must skip resolved rows:\n$plan")
    assert(joins.forall(j => (j.leftKeys ++ j.rightKeys).forall(_.dataType == LongType)),
      s"every join key must be a Long code:\n$plan")
    // and no key string built or cut by the serve's own operators
    val keyStrings = plan.flatMap(_.expressions).flatMap(_.collect {
      case e @ (_: ConcatWs | _: SubstringIndex) => e.prettyName
    }).toSet
    assert(keyStrings.isEmpty, s"the cascade must not run $keyStrings:\n$plan")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"no probe-side shuffle:\n$plan")
  }

  test("keys whose every prediction is NULL serve the same on every path") {
    import spark.implicits._
    // "1.1.1" and "1.2.1" only ever see NULL predictions; "1.1.2"/"1.2.2"
    // give their prefixes a non-NULL value a NULL vote could tie
    val keyed = Seq[(String, java.lang.Double)](
      "1.1.1" -> null, "1.1.1" -> null, "1.1.2" -> 2.0, "1.2.1" -> null,
      "1.2.2" -> 1.0, "2.1.1" -> 0.0, "2.1.1" -> 1.0, "2.1.1" -> 1.0)
      .toDF("key", "pred")
    val probeBins = Seq(Seq(1L, 1L, 1L), Seq(1L, 1L, 2L), Seq(1L, 2L, 1L), Seq(1L, 1L, 9L),
      Seq(2L, 1L, 1L), Seq(9L, 9L, 9L))
    Seq(Task.Classification, Task.MultiClass).foreach { task =>
      val m = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 3, task)
      val scorer = m.toLocalScorer
      val compiled = probeValues(probeBins)(m.probe)
      val joined = probeValues(probeBins)(m.joinProbe)
      probeBins.indices.foreach { i =>
        val local = scorer.score(probeBins(i).toArray)
        assert(bits(compiled(i)) == bits(local) && bits(joined(i)) == bits(local),
          s"$task key ${probeBins(i)}: compiled ${compiled(i)} joined ${joined(i)} local $local")
      }
      // a NULL-only key has no entry of its own: it serves its prefix
      val reference = StringCascade(m)
      assert(!reference.kv.contains("1.1.1"), s"$task: NULL-only key must not get a kv entry")
      assert(bits(scorer.scoreKey("1.1.1")) == bits(scorer.scoreKey("1.1.2")), s"$task")
      // and the incremental state builds the same index as the fresh build
      val fromState = StringCascade(graft.core.KvIndexState.build(keyed, keyLen = 3, task).toModel())
      assert(fromState.kv.view.mapValues(bits).toMap == reference.kv.view.mapValues(bits).toMap, s"$task")
    }
  }

  test("small index compiles to a joinless, exchange-free projection") {
    val plan = executedPlan(model.probe(Tables.lineitem(spark, sf), keyCol, "p"))
    assert(plan.contains("kv_probe"), plan.take(500))
    assert(!plan.contains("Join"), "compiled probe must not join")
    assert(!plan.contains("Exchange"), "compiled probe must not exchange")
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
    (KvIndexBuilder.buildFromKeyed(votes.toDF("key", "pred"), ranges.length, task), binKey(ranges.length))
  }

  /** `rows` of bins as an RDD-backed frame (so the probe runs through
    * codegen, and building it starts no job) of non-nullable Long bin
    * columns b0..b(n-1) and the row's index as its id. */
  private def binRows(rows: Seq[Seq[Long]], session: SparkSession = spark): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val schema = StructType(StructField("id", IntegerType, nullable = false) +:
      rows.head.indices.map(i => StructField(s"b$i", LongType, nullable = false)))
    val data = rows.zipWithIndex.map { case (r, i) => org.apache.spark.sql.Row.fromSeq(i +: r) }
    session.createDataFrame(session.sparkContext.parallelize(data, 4), schema)
  }

  /** Every slot of the extended key space as [[binRows]]: each field from
    * -1 to two past its trained range, plus both Long extremes and
    * `extra`. */
  private def extendedSpace(ranges: Seq[Int], extra: Seq[Long] = Nil): DataFrame = {
    val values = ranges.map(r => (Seq(Long.MinValue, Long.MaxValue) ++ (-1L to r + 1L) ++ extra))
    binRows(values.foldLeft(Seq(Seq.empty[Long]))((acc, vs) => acc.flatMap(p => vs.map(p :+ _))))
  }

  private def executedPlan(df: DataFrame): String = TestSpark.executedPlan(df).toString

  /** A served frame's `p` by its `id`. */
  private def byId(df: DataFrame): Map[Int, Double] =
    df.select(col("id"), col("p")).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** Every row of `input` ([[binRows]]) served alike, bitwise: by each of
    * `forms` (a serve's values by id), by `m`'s scorer from the row's
    * bins (`score`) and from its key string (`scoreKey`), and by the
    * [[StringCascade]] of `m`'s index rows. The levels that answered. */
  private def assertOneCascade(m: KvModel, input: DataFrame, forms: Seq[(String, Map[Int, Double])],
      what: String): Set[Int] = {
    val n = m.keyLen
    val scorer = m.toLocalScorer
    val reference = StringCascade(m)
    val rows = input.select(col("id") +: (0 until n).map(i => col(s"b$i")) :+ binKey(n): _*).collect()
    forms.foreach { case (name, values) => assert(values.size == rows.length, s"$what $name") }
    rows.map { r =>
      val k = r.getString(n + 1)
      val want = reference.scoreKey(k)
      val got = Seq("score" -> scorer.score(Array.tabulate(n)(i => r.getLong(1 + i))),
        "scoreKey" -> scorer.scoreKey(k)) ++ forms.map { case (name, values) => name -> values(r.getInt(0)) }
      got.foreach { case (name, v) => assert(bits(v) == bits(want), s"$what key $k: $name $v vs reference $want") }
      reference.level(k)
    }.toSet
  }

  test("dense probe equals joinProbe and scoreKey bitwise over the whole key space") {
    for ((ranges, task, seed) <- Seq(
        (Seq(3, 4, 2), Task.Classification, 1), (Seq(3, 4, 2), Task.MultiClass, 2),
        (Seq(3, 2, 3, 3), Task.Classification, 3), (Seq(3, 2, 3, 3), Task.MultiClass, 4),
        // keyLen 1: no prefix level, the kv straight over the global value
        (Seq(4), Task.Classification, 7),
        // radix 1 (only bin 0 trained) in field 0: blocks at the table's edge
        (Seq(1, 3, 2), Task.Classification, 8))) {
      val (m, key) = binModel(ranges, task, seed)
      // the one index relation: the kv rows at len = keyLen, one row per
      // prefix at lens keyLen-1 .. 1, and exactly one len = 0 row
      val lens = m.index.select("len").collect().map(_.getInt(0))
      assert(lens.count(_ == ranges.length) == m.kvCount && lens.count(_ == 0) == 1 &&
        lens.toSet == (0 to ranges.length).toSet, s"$ranges $task lens ${lens.distinct.sorted.toSeq}")
      assert(m.prefixes.map(_._1) == (ranges.length - 1 to 1 by -1), s"$ranges $task")
      val input = extendedSpace(ranges)
      val dense = m.probe(input, key, "p")
      assert(executedPlan(dense).contains("kv_probe("), s"$ranges $task must serve dense")
      // the interpreted path: a local relation folds the projection at plan time
      val folded = m.probe(spark.createDataFrame(input.collect().toSeq.asJava, input.schema), key, "p")
      val levels = assertOneCascade(m, input,
        Seq("dense" -> byId(dense), "joined" -> byId(m.joinProbe(input, key, "p")), "folded" -> byId(folded)),
        s"$ranges $task")
      // every level of the cascade answers some slot
      assert(levels == (0 to ranges.length).toSet, s"$ranges $task levels $levels")
    }
  }

  test("the first dense probe starts no job") {
    val (m, key) = binModel(Seq(3, 4, 2), Task.MultiClass, 9)
    val input = extendedSpace(Seq(3, 4, 2))
    // the table is filled from the model's driver copy of its index, the
    // first time a probe asks for it, and then reused
    val first = GroupJobs(m.probe(input, key, "p"))
    assert(first.started.isEmpty, s"first probe $first")
    val second = GroupJobs(m.probe(input, key, "p"))
    assert(second.started.isEmpty, s"second probe $second")
    assert(executedPlan(second.result).contains("kv_probe("))
  }

  test("packed joinProbe equals dense, folded and scoreKey over a keyLen-4 space") {
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val w = Keys.codeWidth(4)
    // around the unseen digit 2^w - 1, which a bin must never alias
    val wide = Seq((1L << w) - 2, (1L << w) - 1, 1L << w, (1L << w) + 1)
    for ((task, seed) <- Seq(Task.Classification -> 11, Task.MultiClass -> 12)) {
      val ranges = Seq(3, 2, 3, 3)
      val (m, key) = binModel(ranges, task, seed)
      val input = extendedSpace(ranges, wide)
      val packedJoin = m.joinProbe(input, key, "p")
      val joinKeys = TestSpark.executedPlan(packedJoin).collect {
        case j: BroadcastHashJoinExec => (j.leftKeys ++ j.rightKeys).map(_.dataType)
      }.flatten.toSet
      assert(joinKeys == Set(LongType), s"$task packed join keys")
      val dense = m.probe(input, key, "p")
      assert(executedPlan(dense).contains("kv_probe("), s"$task must serve dense")
      // the interpreted code: a local relation folds the projection at plan time
      val folded = m.joinProbe(spark.createDataFrame(input.collect().toSeq.asJava, input.schema), key, "p")
      assertOneCascade(m, input,
        Seq("packed" -> byId(packedJoin), "dense" -> byId(dense), "folded" -> byId(folded)), s"$task")
    }
  }

  test("a key or index that does not pack fails loudly, before any job") {
    import spark.implicits._
    val base = Seq("1.1.1.1" -> 1.0, "1.1.2.1" -> 0.0, "1.2.1.1" -> 1.0, "2.1.1.1" -> 0.0)
    val input = extendedSpace(Seq(2, 2, 2, 2))
    val keys = Seq(
      "keyColumn" -> (input.select(col("id"), binKey(4).as("k")), col("k")),
      "nullable" -> (input, Keys.keyColumn(when(col("b0") === Long.MaxValue, lit(null)).otherwise(col("b0")) +:
        (1 until 4).map(i => col(s"b$i")))),
      "integral" -> (input, Keys.keyColumn(col("b0").cast("double") +: (1 until 4).map(i => col(s"b$i")))),
      "3 bins" -> (input, binKey(3)),
      "5 bins" -> (input.withColumn("b4", col("b0")), binKey(5)))
    // no probe here succeeds, so the dense table stays unfilled: a check
    // made after the table's collect would start that job
    val m = KvIndexBuilder.buildFromKeyed(base.toDF("key", "pred"), keyLen = 4, Task.Classification)
    for ((why, (in, key)) <- keys; (form, dense) <- Seq("probe" -> true, "joinProbe" -> false)) {
      val run = GroupJobs(intercept[IllegalArgumentException](
        if (dense) m.probe(in, key, "p") else m.joinProbe(in, key, "p")))
      assert(run.started.isEmpty, s"$form with a $why key started jobs: $run")
      assert(run.result.getMessage.contains(why), s"$form: ${run.result.getMessage}")
    }
    // an index key that does not pack is rejected when the index is built
    val unseen = Keys.unseen(4)
    for (bad <- Seq("01.2.1.1", s"$unseen.1.1.1")) {
      val e = intercept[IllegalArgumentException](KvIndexBuilder.buildFromKeyed(
        (base :+ (bad -> 1.0)).toDF("key", "pred"), keyLen = 4, Task.Classification))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains(s"$unseen"), e.getMessage)
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

  /** 400 kv keys `i.i`, far below the cap, over a 401 x 401 key space
    * above it: the first field's 401 slots fit, so `s* = 1`. */
  private def wideModel() = {
    import spark.implicits._
    KvIndexBuilder.buildFromKeyed(
      (0 until 400).map(i => (s"$i.$i", (i % 2).toDouble)).toDF("key", "pred"), keyLen = 2, Task.Classification)
  }

  private def wideInput: DataFrame = {
    import spark.implicits._
    (0L until 500L).map(i => (i, i)).toDF("b0", "b1")
  }

  private def broadcastJoins(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    TestSpark.executedPlan(df).collect { case j: BroadcastHashJoinExec => j }.size
  }

  /** Plan nodes, looking into adaptive plans and subqueries. */
  private object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def joins(p: SparkPlan): Seq[BroadcastHashJoinExec] = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    def exchanges(p: SparkPlan): Seq[BroadcastExchangeExec] = collectWithSubqueries(p) { case e: BroadcastExchangeExec => e }
    def levels(p: SparkPlan): Seq[IndexLevelExec] = collectWithSubqueries(p) { case l: IndexLevelExec => l }
  }

  /** The broadcast hash relation of each [[IndexLevel]] `df` joins. */
  private def levelRelations(df: DataFrame): Seq[Broadcast[AnyRef]] =
    df.queryExecution.analyzed.collect { case l: IndexLevel => l.relation }

  /** The rows each joined level of `df` holds, read from its
    * [[IndexLevel]]'s hash relation, decoded as keys of an `n`-field
    * index's exact level (the only level the split serves here join)
    * and sorted. */
  private def broadcastKeys(df: DataFrame, n: Int): Seq[Seq[String]] = {
    def key(code: Long) = (0 until n).map(i => (code >>> Keys.codeWidth(n) * (n - 1 - i)) & Keys.unseen(n)).mkString(".")
    levelRelations(df).map(IndexLevelInternals.keys(_).map(key).sorted)
  }

  /** `serve()`'s plan holds `levels` broadcast hash joins, each building
    * on an [[IndexLevelExec]], and no broadcast exchange: as planned with
    * adaptive execution off, and as run (the final adaptive plan) with it
    * on. `serve` makes a fresh frame for each plan. */
  private def assertLevelJoins(serve: () => DataFrame, levels: Int, what: String): Unit = {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.InputAdapter
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val adaptive = TestSpark.adaptivePlan(serve())
    assert(adaptive.isInstanceOf[AdaptiveSparkPlanExec], s"$what must plan adaptively:\n$adaptive")
    for ((mode, plan) <- Seq("adaptive off" -> TestSpark.executedPlan(serve()), "adaptive on" -> adaptive)) {
      val joins = Nodes.joins(plan)
      assert(joins.size == levels, s"$what, $mode: one broadcast hash join per joined level:\n$plan")
      assert(joins.forall(j => j.buildSide == BuildRight && (j.right match {
        case InputAdapter(_: IndexLevelExec) | _: IndexLevelExec => true
        case _ => false
      })), s"$what, $mode: every join builds on its IndexLevelExec:\n$plan")
      assert(Nodes.exchanges(plan).isEmpty, s"$what, $mode: no broadcast exchange:\n$plan")
    }
  }

  /** The exact keys of `index` whose value differs bitwise from the one
    * their first `s` fields fall through to, sorted: what the split
    * probe's first joined level broadcasts when it is the exact level. */
  private def exceptions(index: StringCascade, s: Int): Seq[String] = {
    def fallback(k: String) = index.prefixes.collectFirst {
      case (l, tbl) if l <= s && tbl.contains(StringCascade.prefix(k, l)) => tbl(StringCascade.prefix(k, l))
    }.getOrElse(index.globalValue)
    index.kv.collect { case (k, v) if bits(v) != bits(fallback(k)) => k }.toSeq.sorted
  }

  test("an over-cap key space takes the join form") {
    val (m, key) = binModel(Seq(3, 4, 2), Task.Classification, 6)
    val dense = m.probe(extendedSpace(Seq(3, 4, 2)), key, "p")
    assert(m.split == 3 && executedPlan(dense).contains("kv_probe(") && broadcastJoins(dense) == 0)
    val wide = wideModel()
    assert(wide.kvCount <= graft.core.KvModel.MaxCompiledEntries)
    assert(wide.radices == Seq(400, 400) && wide.split == 1, s"${wide.radices} split ${wide.split}")
    // the split shape: the first field compiled, the exact level joined
    val served = wide.probe(wideInput, binKey(2), "p")
    assert(executedPlan(served).contains("kv_probe(") && broadcastJoins(served) == 1, executedPlan(served))
    // and the split form serves every row the same as the scorer
    val scorer = wide.toLocalScorer
    served.select(binKey(2), col("p")).collect().foreach { r =>
      assert(bits(r.getDouble(1)) == bits(scorer.scoreKey(r.getString(0))), r.toString)
    }
  }

  test("the first split-form probe starts no job, and a serve only its own") {
    val wide = wideModel()
    // the table over the first s* fields and each joined level's hash
    // relation are built from the model's driver copy of its index, the
    // first time a probe asks, and the relation broadcast
    val first = GroupJobs(wide.probe(wideInput, binKey(2), "p"))
    assert(first.started.isEmpty, s"first probe $first")
    val second = GroupJobs(wide.probe(wideInput, binKey(2), "p"))
    assert(second.started.isEmpty, s"second probe $second")
    assert(executedPlan(second.result).contains("kv_probe(") && broadcastJoins(second.result) == 1)
    // a serve starts no broadcast job: its one job is the serve's own
    val served = GroupJobs(wide.probe(wideInput, binKey(2), "p").collect())
    assert(served.started.size == 1 && served.outside.isEmpty, s"served $served")
    // joinProbe joins every level in full: the exact level unpruned is
    // a level of its own, the prefix level is built once too
    val joined = GroupJobs(wide.joinProbe(wideInput, binKey(2), "p"))
    assert(joined.started.isEmpty, s"first joinProbe $joined")
    assert(GroupJobs(wide.joinProbe(wideInput, binKey(2), "p")).started.isEmpty)
  }

  test("each joined level is one broadcast hash join over its IndexLevelExec, with no exchange") {
    val wide = wideModel()
    assertLevelJoins(() => wide.probe(wideInput, binKey(2), "p"), 1, "split probe (s* = 1)")
    assertLevelJoins(() => wide.joinProbe(wideInput, binKey(2), "p"), 2, "joinProbe")
    // a serve that reads no prediction joins nothing: each level's code
    // is unique, so its left join adds no rows and the optimizer drops it
    for ((what, unread) <- Seq("prediction dropped" -> wide.probe(wideInput, binKey(2), "p").select("b0"),
        "two levels dropped" -> twoJoined.probe(twoJoinedInput, binKey(3), "p").select("id"))) {
      val plan = TestSpark.executedPlan(unread)
      assert(Nodes.joins(plan).isEmpty && Nodes.levels(plan).isEmpty, s"$what:\n$plan")
    }
    // without distinct keys the join stays: its level keeps the code
    // alone, read from the same broadcast (a fresh model, as a leaf reads
    // the setting once)
    withConf("spark.sql.optimizer.propagateDistinctKeys.enabled" -> "false") {
      val fresh = wideModel()
      val unread = () => fresh.probe(wideInput, binKey(2), "p").select("b0")
      assertLevelJoins(unread, 1, "prediction dropped, no distinct keys")
      assert(Nodes.levels(TestSpark.executedPlan(unread())).map(_.output.map(_.name)) == Seq(Seq("__p_2")))
      assert(unread().collect().map(_.getLong(0)).sorted.toSeq == (0L until 500L))
    }
    val (m, input) = (twoJoined, twoJoinedInput)
    assertLevelJoins(() => m.probe(input, binKey(3), "p"), 2, "two-joined-level split")
    assertLevelJoins(() => m.joinProbe(input, binKey(3), "p"), 3, "three-level joinProbe")
  }

  /** 3,000 random cells of a 400 x 400 x 3 space: 401 x 401 slots are
    * above the cap, so s* = 1 and levels 2 and 3 are joined. The probe
    * rows: each cell, and each with its last field, its last two fields
    * or every field moved out of the index's range. */
  private lazy val (twoJoined, twoJoinedInput) = {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val cells = ((399L, 399L, 2L) +: Seq.fill(3000)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong,
      rnd.nextInt(3).toLong))).distinct
    val m = KvIndexBuilder.buildFromKeyed(cells.map { case (a, b, c) => (s"$a.$b.$c", rnd.nextInt(7).toDouble) }
      .toDF("key", "pred"), keyLen = 3, Task.Regression)
    (m, binRows(cells.flatMap { case (a, b, c) =>
      Seq(Seq(a, b, c), Seq(a, b, 3L), Seq(a, (b + 1) % 401, -1L), Seq(a, 400L, c), Seq(-1L, b, c))
    }))
  }

  test("a split above two joined levels serves every level alike on every path") {
    val (m, input) = (twoJoined, twoJoinedInput)
    assert(m.radices == Seq(400, 400, 3) && m.split == 1, s"radices ${m.radices} split ${m.split}")
    val key = binKey(3)
    val levels = assertOneCascade(m, input,
      Seq("split" -> byId(m.probe(input, key, "p")), "joined" -> byId(m.joinProbe(input, key, "p"))), "two joined")
    assert(levels == Set(0, 1, 2, 3), s"levels $levels")
  }

  /** `body` under the session settings `confs`, restored afterwards. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body` with whole-stage codegen off and every expression evaluated
    * by its interpreted `eval`. */
  private def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  test("split probe equals joinProbe, interpreted and scoreKey bitwise over a space above the cap") {
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, ConcatWs, Expression, SubstringIndex}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.plans.KvProbeScore
    // 71 x 71 x 31 slots is above 2^17; the first two fields' 71 x 71 fit
    val ranges = Seq(70, 70, 30)
    for ((task, seed) <- Seq(Task.Classification -> 13, Task.MultiClass -> 14)) {
      val (m, key) = binModel(ranges, task, seed)
      assert(m.radices == ranges && m.split == 2, s"$task radices ${m.radices} split ${m.split}")
      val input = extendedSpace(ranges)
      val split = m.probe(input, key, "p")
      // the serve's own operators: the joined level is its broadcast, so
      // the plan holds no scan of the index
      val plan = TestSpark.executedPlan(split)
      val joins = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.size == ranges.length - m.split, s"$task one join per level above s*:\n$plan")
      def probes(es: Seq[Expression]) = es.flatMap(_.collect { case e: KvProbeScore => e })
      // one kv_probe, in the probe side's coalesce; no key string anywhere
      val coalesces = plan.flatMap(_.expressions).flatMap(_.collect { case c: Coalesce => c })
      assert(probes(coalesces).size == 1, s"$task: the table ends the coalesce:\n$plan")
      val names = plan.flatMap(_.expressions).flatMap(_.collect {
        case e @ (_: KvProbeScore | _: ConcatWs | _: SubstringIndex) => e.prettyName
      })
      assert(names == Seq("kv_probe"), s"$task: one kv_probe, no key string:\n$plan")
      // the joined (exact) level holds exactly the keys the table does
      // not already answer, compared by raw bits when it was built
      val broadcast = broadcastKeys(split, ranges.length)
      val expected = exceptions(StringCascade(m), m.split)
      assert(broadcast == Seq(expected), s"$task broadcast ${broadcast.map(_.size)} vs ${expected.size}")
      assert(expected.nonEmpty && expected.size < m.kvCount, s"$task ${expected.size} of ${m.kvCount}")
      val levels = assertOneCascade(m, input, Seq(
        "split" -> byId(split),
        "joined" -> byId(m.joinProbe(input, key, "p")),
        "interpreted" -> interpreted(byId(m.probe(input, key, "p")))), s"$task")
      // every level of the cascade answers some slot, joined and compiled
      assert(levels == (0 to ranges.length).toSet, s"$task levels $levels")
    }
  }

  /** The split serve's values over `input` against joinProbe's, the
    * scorer's and the reference's, bitwise, by id. */
  private def assertServesLikeJoinProbe(m: KvModel, input: DataFrame, what: String): Unit = {
    val key = binKey(m.keyLen)
    assertOneCascade(m, input,
      Seq("split" -> byId(m.probe(input, key, "p")), "joined" -> byId(m.joinProbe(input, key, "p"))), what)
  }

  test("a signed zero or NaN the table does not answer bitwise stays in the broadcast") {
    import spark.implicits._
    // a saved over-cap index (401 x 401 slots, s* = 1) with hand-written rows
    val base = InferDbPipeline.Fitted(InferDbPipeline.Config(features = Seq("f0", "f1"), target = "y"),
      Map("f0" -> NumericBins(Array(0.5)), "f1" -> NumericBins(Array(0.5))), Seq("f0", "f1"), 0.0,
      KvIndexBuilder.buildFromKeyed(Seq("0.0" -> 1.0).toDF("key", "pred"), keyLen = 2, Task.Classification))
    val dir = graft.core.TmpDirs.scratch("kv_probe_spec_signed_zero", sf)
    base.save(dir)
    val nan = Double.NaN
    Seq((0, "", 0.25), (1, "0", 0.0), (1, "1", nan), (1, "3", 0.75), (1, "400", 1.0),
      (2, "0.0", -0.0),      // under 0.0: differs only in its bits
      (2, "0.1", 0.0),       // repeats its parent
      (2, "1.1", nan),       // repeats its NaN parent
      (2, "1.2", 0.5),
      (2, "2.2", 0.25),      // no parent: repeats the global value
      (2, "3.3", nan),       // a NaN under 0.75
      (2, "400.400", 0.5))
      .toDF("len", "key", "value").coalesce(1).write.mode("overwrite").parquet(s"$dir/index")
    val m = InferDbPipeline.load(spark, dir).kv
    assert(m.radices == Seq(401, 401) && m.split == 1, s"${m.radices} split ${m.split}")
    assert(bits(StringCascade(m).kv("0.0")) == bits(-0.0), "the load must keep -0.0")
    // every slot of the 401 x 401 space, the unseen digits included
    assertServesLikeJoinProbe(m, extendedSpace(Seq(401, 401)), "signed zero and NaN")
    val grid = Seq(-1L, 0L, 1L, 2L, 3L, 399L, 400L, 401L)
    val input = binRows(for (a <- grid; b <- grid) yield Seq(a, b))
    assert(broadcastKeys(m.probe(input, binKey(2), "p"), 2) == Seq(Seq("0.0", "1.2", "3.3", "400.400")))
  }

  test("an over-cap index whose every exact key repeats its prefix broadcasts nothing") {
    // 400 keys i.i, each the only key under its prefix i: the same value
    val m = wideModel()
    assert(m.split == 1 && exceptions(StringCascade(m), 1).isEmpty)
    val input = binRows((0L to 401L).flatMap(i => Seq(Seq(i, i), Seq(i, i + 1), Seq(i, 0L))))
    assert(broadcastKeys(m.probe(input, binKey(2), "p"), 2) == Seq(Seq.empty))
    // values only: adaptive execution may drop a join whose build side is empty
    assertServesLikeJoinProbe(m, input, "empty broadcast")
  }

  /** `df`'s `col` by its `id`. */
  private def byId(df: DataFrame, c: String): Map[Int, Double] = byId(df.select(col("id"), col(c).as("p")))

  test("two probes of one split model in one plan serve alike") {
    val (m, input) = (twoJoined, twoJoinedInput)
    val key = binKey(3)
    // the same levels joined twice: each join reads its own instance
    val twice = m.probe(m.probe(input, key, "p1"), key, "p2")
    assert(levelRelations(twice).map(_.id).distinct.size == m.keyLen - m.split, "one broadcast per level")
    assertLevelJoins(() => m.probe(m.probe(input, key, "p1"), key, "p2"), 2 * (m.keyLen - m.split), "two probes")
    assertOneCascade(m, input, Seq("first" -> byId(twice, "p1"), "second" -> byId(twice, "p2")), "two probes")
  }

  test("a stream probed through a split model serves like the batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val m = wideModel()
    val rows = (0L to 401L).flatMap(i => Seq(Seq(i, i), Seq(i, i + 1), Seq(i, 0L)))
    val mem = MemoryStream[(Int, Long, Long)]
    mem.addData(rows.zipWithIndex.map { case (r, i) => (i, r(0), r(1)) })
    val name = s"kv_probe_split_stream_${System.nanoTime()}"
    val q = m.probe(mem.toDF().toDF("id", "b0", "b1"), binKey(2), "p")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // planned by the stream's incremental execution, the level still
    // joins as its broadcast
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(Nodes.levels(plan).size == 1 && Nodes.exchanges(plan).isEmpty, s"stream plan:\n$plan")
    val input = binRows(rows)
    assertOneCascade(m, input,
      Seq("stream" -> byId(spark.table(name)), "batch" -> byId(m.probe(input, binKey(2), "p"))), "stream")
  }

  test("a loaded split model serves like the in-memory one") {
    val m = wideModel()
    val dir = graft.core.TmpDirs.scratch("kv_probe_spec_split_load", sf)
    InferDbPipeline.Fitted(InferDbPipeline.Config(features = Seq("f0", "f1"), target = "y"),
      Map("f0" -> NumericBins(Array(0.5)), "f1" -> NumericBins(Array(0.5))), Seq("f0", "f1"), 0.0, m).save(dir)
    val loaded = InferDbPipeline.load(spark, dir).kv
    assert(loaded.split == 1 && loaded.radices == m.radices, s"${loaded.radices} split ${loaded.split}")
    val input = binRows((0L to 401L).flatMap(i => Seq(Seq(i, i), Seq(i, i + 1), Seq(i, 0L), Seq(-1L, i))))
    assertOneCascade(m, input, Seq("in-memory" -> byId(m.probe(input, binKey(2), "p")),
      "loaded" -> byId(loaded.probe(input, binKey(2), "p"))), "loaded")
    loaded.release()
  }

  test("a cloned session reuses the model's level broadcasts") {
    val (m, rows) = (twoJoined, (0L until 400L).map(i => Seq(i, (i * 7) % 401, i % 4)))
    val here = m.probe(binRows(rows), binKey(3), "p")
    val other = spark.newSession()
    val input = binRows(rows, other)
    val there = GroupJobs(m.probe(input, binKey(3), "p"))
    assert(there.started.isEmpty, s"the clone's probe built again: $there")
    assert(levelRelations(there.result).map(_.id) == levelRelations(here).map(_.id))
    assertOneCascade(m, input, Seq("session" -> byId(here), "clone" -> byId(there.result)), "clone")
  }

  test("a session that cannot plan index levels fails the joining probes by name, before any job") {
    val bare = IndexLevelInternals.bareSession(spark)
    val m = wideModel()
    val input = binRows(Seq(Seq(1L, 1L), Seq(2L, 3L)), bare)
    for ((form, probe) <- Seq[(String, (DataFrame, Column, String) => DataFrame)](
        "probe" -> m.probe, "joinProbe" -> m.joinProbe)) {
      val run = GroupJobs(intercept[IllegalArgumentException](probe(input, binKey(2), "p")))
      assert(run.started.isEmpty, s"$form started jobs: $run")
      assert(run.result.getMessage.contains("GraftExtensions"), s"$form: ${run.result.getMessage}")
    }
    // a dense probe joins nothing, so it serves there
    val (dense, key) = binModel(Seq(3, 4, 2), Task.Classification, 5)
    val denseInput = binRows(Seq(Seq(1L, 1L, 1L), Seq(9L, 0L, 0L)), bare)
    assertOneCascade(dense, denseInput, Seq("bare" -> byId(dense.probe(denseInput, key, "p"))), "bare dense")
  }

  test("no index leaves a persistent RDD: a build, an append's toModel and a load cache nothing") {
    import spark.implicits._
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistent
    val keyed = (0 until 400).map(i => (s"$i.${i % 7}", (i % 2).toDouble)).toDF("key", "pred")
    val built = KvIndexBuilder.buildFromKeyed(keyed, keyLen = 2, Task.Classification)
    assert(persistent == before, "buildFromKeyed left a persistent RDD")
    val appended = KvIndexState.build(keyed.where(col("pred") === 0.0), 2, Task.Classification)
      .append(keyed.where(col("pred") === 1.0)).toModel()
    assert(persistent == before, "an append's toModel left a persistent RDD")
    val dir = TmpDirs.scratch("kv_probe_spec_no_cache", sf)
    InferDbPipeline.Fitted(InferDbPipeline.Config(features = Seq("f0", "f1"), target = "y"),
      Map("f0" -> NumericBins(Array(0.5)), "f1" -> NumericBins(Array(0.5))), Seq("f0", "f1"), 0.0, built).save(dir)
    val loaded = InferDbPipeline.load(spark, dir).kv
    assert(persistent == before, "InferDbPipeline.load left a persistent RDD")
    // the three are one index, each read from its model's driver copy
    def rows(m: KvModel) = m.index.select("len", "key", "value").collect().map(r => (r.getInt(0), r.getString(1),
      bits(r.getDouble(2)))).toSet
    assert(rows(appended) == rows(built) && rows(loaded) == rows(built))
    assert(persistent == before, "reading the index view left a persistent RDD")
  }

  test("release frees the level broadcasts, and the model then fails naming it") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val m = wideModel()
    val served = m.probe(wideInput, binKey(2), "p")
    served.collect()
    val levels = levelRelations(served) ++ levelRelations(m.joinProbe(wideInput, binKey(2), "p"))
    assert(levels.map(_.id).distinct.size == 3 && levels.forall(IndexLevelInternals.held))
    m.release()
    eventually(timeout(30.seconds))(assert(!levels.exists(IndexLevelInternals.held), "release must destroy the levels"))
    for ((form, call) <- Seq[(String, () => Any)]("probe" -> (() => m.probe(wideInput, binKey(2), "p")),
        "joinProbe" -> (() => m.joinProbe(wideInput, binKey(2), "p")), "toLocalScorer" -> (() => m.toLocalScorer))) {
      val run = GroupJobs(intercept[IllegalStateException](call()))
      assert(run.started.isEmpty, s"$form started jobs: $run")
      assert(run.result.getMessage.contains("release()"), s"$form: ${run.result.getMessage}")
    }
  }
}
