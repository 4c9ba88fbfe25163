package org.apache.spark.sql.execution.joins

import org.apache.spark.SparkEnv
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.storage.BroadcastBlockId

/** The Spark internals the specs read around an index level's broadcast:
  * the hash relation's type, the block manager and the bare session
  * constructor are `private[execution]`, `private[spark]` and
  * `private[sql]`, all visible from this package. */
object IndexLevelInternals {
  /** The Long keys of a broadcast hash relation. */
  def keys(relation: Broadcast[AnyRef]): Seq[Long] =
    relation.value.asInstanceOf[HashedRelation].keys().map(_.getLong(0)).toSeq

  /** Whether the driver's block manager holds any block of `b`. */
  def held(b: Broadcast[_]): Boolean = SparkEnv.get.blockManager.getMatchingBlockIds {
    case BroadcastBlockId(id, _) => id == b.id
    case _ => false
  }.nonEmpty

  /** A session on `spark`'s context built with no extension. */
  def bareSession(spark: SparkSession): SparkSession = new classic.SparkSession(spark.sparkContext)
}
