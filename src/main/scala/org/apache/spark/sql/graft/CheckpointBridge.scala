package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark 4's `private[sql]` checkpoint leaf. Lives under the
  * org.apache.spark.sql package for access; contains no logic. */
object CheckpointBridge {
  /** `df`, a `localCheckpoint` result, without the statistics and
    * constraints its `LogicalRDD` leaf carries over from the plan it was
    * cut from (the leaf then reports the session's default size). Same
    * RDD, output and partitioning; any other frame comes back as is. */
  def withoutOriginStats(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session, r.copy()(session, None, None))
    case _ => df
  }
}
