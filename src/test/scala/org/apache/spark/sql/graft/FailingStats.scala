package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.types.DoubleType

/** A one-column (`v` double) frame whose plan-side size estimate throws
  * — drives the error handling of the plan-stats size gates. Never
  * executable: only planning-time stats reads are meant to reach it.
  * Lives under `org.apache.spark.sql` for `Dataset.ofRows`. */
object FailingStats {
  private case class Leaf(output: Seq[Attribute], error: () => Throwable)
      extends LeafNode {
    override def computeStats(): Statistics = throw error()
  }

  def frame(spark: org.apache.spark.sql.SparkSession,
            error: => Throwable): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      Leaf(Seq(AttributeReference("v", DoubleType)()), () => error))
}
