package org.apache.spark.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, ExpressionSet,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** One joined level of a learned index's probe cascade as a relation of
  * `(code BIGINT NOT NULL, value DOUBLE)` rows, held as the Long-keyed
  * hash relation a broadcast hash join on the code builds, broadcast once
  * when the level is built ([[IndexLevel.build]]). A join over it reads
  * that broadcast as its build side ([[IndexLevelExec]]), so serving the
  * level again neither rescans its rows nor broadcasts them again. It
  * is a [[MultiInstanceRelation]], so one plan may join it twice.
  *
  * The code is non-nullable: a nullable one lets the optimizer infer an
  * `isnotnull(code)` filter over the leaf, and the planner then puts a
  * broadcast exchange over the filter, which runs the leaf as rows. It
  * is also unique (an index has one row per key), and the leaf says so
  * ([[distinctKeys]]): a left join on it adds no rows, so the optimizer
  * drops the join of a serve that reads none of the level's values. */
case class IndexLevel(output: Seq[Attribute], relation: Broadcast[AnyRef], rows: Long)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): IndexLevel = copy(output = output.map(_.newInstance()))

  override lazy val distinctKeys: Set[ExpressionSet] =
    if (conf.getConf(SQLConf.PROPAGATE_DISTINCT_KEYS_ENABLED)) Set(ExpressionSet(output.take(1))) else Set.empty

  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(rows) * output.map(_.dataType.defaultSize).sum, rowCount = Some(BigInt(rows)))
}

/** [[IndexLevel]] planned: a leaf whose output is already broadcast in
  * the mode a broadcast hash join on its code requires, so the join reads
  * the level's broadcast and no exchange is planned over it. `output` is
  * the level's columns or their prefix `(code)`: the join reads the
  * broadcast rows' columns by position. */
case class IndexLevelExec(output: Seq[Attribute], relation: Broadcast[AnyRef]) extends LeafExecNode {
  override def outputPartitioning: Partitioning = BroadcastPartitioning(IndexLevel.Mode)

  override protected def doExecute(): RDD[InternalRow] = throw new IllegalStateException(
    s"$nodeName ${output.mkString("[", ", ", "]")} is only a broadcast join's build side: it was planned as rows, " +
      s"so the join's broadcast mode is not ${IndexLevel.Mode}")

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = relation.asInstanceOf[Broadcast[T]]
}

/** Plans [[IndexLevel]] as [[IndexLevelExec]]; `graft.plans.GraftExtensions`
  * injects it. A plan that needs only the code (the value pruned away
  * over a join whose value no one reads, which the optimizer keeps when
  * `spark.sql.optimizer.propagateDistinctKeys.enabled` is off) keeps it
  * as the leaf's output: a project over the leaf would claim the
  * broadcast but could not serve it. */
object IndexLevelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IndexLevel(output, relation, _) => IndexLevelExec(output, relation) :: Nil
    case Project(list, IndexLevel(output, relation, _)) if list.nonEmpty && list == output.take(list.length) =>
      IndexLevelExec(output.take(list.length), relation) :: Nil
    case _ => Nil
  }
}

object IndexLevel {
  /** The broadcast mode of a hash join keyed by the level's code, the
    * first column, as the join binds it. */
  val Mode: HashedRelationBroadcastMode = HashedRelationBroadcastMode(Seq(BoundReference(0, LongType, nullable = false)))

  /** The level of `codes` and their `values`, row for row (each code
    * once), with output columns named `code` and `value`: the hash
    * relation built on the driver, then broadcast. */
  def build(session: SparkSession, codes: Array[Long], values: Array[Double], code: String,
      value: String): IndexLevel = {
    val toUnsafe = UnsafeProjection.create(Array[DataType](LongType, DoubleType))
    val relation: AnyRef =
      Mode.transform(codes.indices.iterator.map(i => toUnsafe(InternalRow(codes(i), values(i)))), Some(codes.length))
    IndexLevel(Seq(AttributeReference(code, LongType, nullable = false)(), AttributeReference(value, DoubleType)()),
      session.sparkContext.broadcast(relation), codes.length)
  }

  /** `level` as a frame of `session`; planning it needs [[planned]]. */
  def frame(session: SparkSession, level: IndexLevel): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(session), level)

  /** Whether `session`'s planner has [[IndexLevelStrategy]]. */
  def planned(session: SparkSession): Boolean = session.sessionState.planner.strategies.contains(IndexLevelStrategy)
}
