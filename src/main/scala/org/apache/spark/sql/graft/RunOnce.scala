package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** A frame's plan run once, for an action that first asks whether the
  * frame holds a row (the sinks' empty-input guard).
  *
  * [[nonEmpty]] runs the plan with `queryExecution.toRdd` inside one SQL
  * execution: under AQE that runs every upstream stage (shuffle maps,
  * broadcasts) and returns the final stage's RDD. A probe then asks that
  * RDD for a first row. The frame it returns reads the same RDD, the way
  * Spark's `ForeachBatchSink` hands a micro-batch to user code
  * (`LogicalRDD.fromDataset` + `Dataset.ofRows`), so an action on it finds
  * the upstream shuffle outputs registered and skips their stages: each
  * upstream stage runs once. The final stage has no stored output, so the
  * probe's partitions are computed again by the action.
  *
  * Lives in an `org.apache.spark.sql` subpackage because `Dataset.ofRows`
  * is `private[sql]`. */
object RunOnce {

  /** `df`'s plan run once, as a frame over its computed RDD; None when
    * the frame holds no row. */
  def nonEmpty(df: DataFrame): Option[DataFrame] = {
    val ds = df.asInstanceOf[Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("guarded write")) {
      val rdd = qe.toRdd
      if (!hasRow(rdd)) None
      else Some(Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, isStreaming = false)))
    }
  }

  /** Whether `rdd` holds a row, asked partition by partition (one task
    * on a non-empty first partition). As in `RDD.take`, each round that
    * finds nothing tries `spark.rdd.limit.scaleUpFactor` times as many
    * partitions as have been tried, so an empty RDD takes a few jobs,
    * not one per partition. A task computes its partition only until
    * the first row. */
  private def hasRow(rdd: RDD[InternalRow]): Boolean = {
    val sc = rdd.sparkContext
    val total = rdd.partitions.length
    val scaleUp = math.max(
      sc.conf.get(org.apache.spark.internal.config.RDD_LIMIT_SCALE_UP_FACTOR), 2)
    var tried = 0
    var found = false
    while (!found && tried < total) {
      val n = if (tried == 0) 1
        else math.min(total - tried, tried.toLong * scaleUp).toInt
      found = sc.runJob(rdd, (it: Iterator[InternalRow]) => it.hasNext,
        tried until tried + n).contains(true)
      tried += n
    }
    found
  }
}
