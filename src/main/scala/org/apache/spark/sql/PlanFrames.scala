package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition, RepartitionByExpression}

/** Frames rebuilt from a rewritten plan. Lives in this package only
  * because building a frame from a logical plan is package-private.
  */
object PlanFrames {

  /** `df` planned in one partition: every leaf of its plan — cached
    * relations substituted first, so a persisted part is read, not
    * recomputed — under a one-partition coalesce (no shuffle), and every
    * `repartition(cols)` that would take the session's width dropped (in
    * one partition it only adds an exchange). Output attributes and
    * values are unchanged.
    */
  def onePartition(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.withCachedData.transformUp {
        case leaf: LeafNode => Repartition(1, shuffle = false, leaf)
        case r: RepartitionByExpression if r.optNumPartitions.isEmpty => r.child
      })
}
