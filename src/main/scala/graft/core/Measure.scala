package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Global aggregates read back to the driver as one row, the shape every
  * load check and profile in this library takes.
  *
  * A global aggregate needs all its rows in one partition. Over a frame of
  * several splits Spark plans a partial aggregate, an exchange and a final
  * aggregate, which AQE runs as two jobs. A frame that already plans to one
  * split needs no exchange when it is read through `coalesce(1)`: the single
  * partition satisfies the final aggregate's distribution, so the aggregate
  * runs as one job. A small file is one split, so a file load's checks pay
  * one job instead of two. */
object Measure {

  def row(df: DataFrame, aggs: Seq[Column]): Row = {
    val in = if (splits(df) == 1) df.coalesce(1) else df
    in.agg(aggs.head, aggs.tail: _*).head()
  }

  /** The partition count `df`'s plan yields, found without running a job.
    * An adaptive plan knows it only after its shuffle stages have run, so
    * it reads as unknown (0). */
  private def splits(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case _: AdaptiveSparkPlanExec => 0
    case plan => plan.execute().getNumPartitions
  }
}
