package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs, stages, tasks and codegen compiles one block
  * of driver code launches — the test-side check of a job budget. Only
  * work submitted under the block's own job group counts (compiles
  * aside, see [[Counts]]), so other activity in the shared session
  * cannot leak in. Lives under `org.apache.spark` for the listener-bus
  * drain and `StageInfo.shuffleDepId`. */
object JobBudget {

  /** `shuffleStages` = submitted shuffle-map stages (AQE submits each
    * query stage as its own job; a skipped stage is not submitted).
    * `broadcastJoins` = BroadcastHashJoin nodes in the initial physical
    * plans of the block's SQL executions (checkpoints included).
    * `compiles` = generated classes compiled during the block, driver and
    * tasks alike; the codegen counter is JVM-wide, so unlike the other
    * fields it also counts any concurrent activity in the JVM. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
                          shuffleStages: Int, broadcastJoins: Int,
                          compiles: Long)

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def broadcastJoins(p: SparkPlanInfo): Int =
    (if (p.nodeName == "BroadcastHashJoin") 1 else 0) +
      p.children.map(broadcastJoins).sum

  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${UUID.randomUUID()}"
    def ours(props: java.util.Properties): Boolean =
      props != null &&
        props.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[(Int, Boolean)]()
    val bhj = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties))
          stages.add((e.stageInfo.numTasks, e.stageInfo.shuffleDepId.isDefined))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.jobGroupId.contains(group) =>
          bhj.addAndGet(broadcastJoins(s.sparkPlanInfo))
        case _ => ()
      }
    }
    val previous = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget", interruptOnCancel = false)
    val compiled = compileCount
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      val st = stages.toArray(Array.empty[(Int, Boolean)])
      (out, Counts(jobs.size, st.length, st.map(_._1).sum,
        st.count(_._2), bhj.get(), compileCount - compiled))
    } finally {
      sc.removeSparkListener(listener)
      if (previous == null) sc.clearJobGroup()
      else sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, previous)
    }
  }
}
