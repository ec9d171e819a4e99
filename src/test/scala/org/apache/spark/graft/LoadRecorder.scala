package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code ran: the stages that ran (skipped stages
  * are not listed) with the job each belongs to, the final physical
  * plan of every query it executed, and which stages' tasks produced rows
  * from which SQL metric. Lives in Spark's package because draining the
  * listener bus is `private[spark]`.
  */
final class LoadRecorder private (val stages: Seq[(Int, StageInfo)],
    plans: Seq[SparkPlan], rowsBy: Map[Long, Set[Int]]) {
  import LoadRecorder.Plans

  /** The file scans the recorded queries planned, including the ones inside
    * the plans of the caches they read.
    */
  def fileScans: Seq[FileSourceScanExec] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = Plans.collectWithSubqueries(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten
    plans.flatMap(scans).distinct
  }

  /** Jobs in which some task actually parsed rows out of a JSON file. A
    * stage that reads a cache of the parsed rows does not count, although
    * the JSON scan is still in its RDD lineage.
    */
  def jsonScanJobs: Set[Int] = {
    val accums = fileScans.filter(_.relation.fileFormat.isInstanceOf[JsonFileFormat])
      .map(_.metrics("numOutputRows").id).toSet
    val stageIds = accums.flatMap(rowsBy.getOrElse(_, Set.empty))
    stages.collect { case (job, s) if stageIds(s.stageId) => job }.toSet
  }
}

object LoadRecorder {
  private object Plans extends AdaptiveSparkPlanHelper

  /** True when the stage touches a persisted RDD (fills or reads a cache). */
  def touchesCache(s: StageInfo): Boolean = s.rddInfos.exists(_.storageLevel.isValid)

  def record[T](spark: SparkSession)(body: => T): (T, LoadRecorder) = {
    val sc = spark.sparkContext
    val jobOf = TrieMap.empty[Int, Int]
    val stages = new ConcurrentLinkedQueue[(Int, StageInfo)]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    // accumulator id -> stages with a task that added a positive amount
    val rowsBy = TrieMap.empty[Long, Set[Int]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(jobOf.put(_, e.jobId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(jobOf.getOrElse(e.stageInfo.stageId, -1) -> e.stageInfo)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach { a =>
          if (a.update.exists { case n: Long => n > 0; case _ => false })
            rowsBy.updateWith(a.id)(s => Some(s.getOrElse(Set.empty) + e.stageId))
        }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, new LoadRecorder(stages.asScala.toSeq, plans.asScala.toSeq,
        rowsBy.toMap))
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }
}
