package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.{ListenerBusDrain, SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark counters accumulated under one job description. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
}

/** Attributes every job, stage and task to the job description that was
  * current on the thread that launched the job. The harness sets one
  * description per span (`<pass>:<op>/<layer>`), so the counters of a span
  * are exactly the entry under its description.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val byDesc = TrieMap.empty[String, Counters]
  private val stageDesc = TrieMap.empty[Int, String]

  private def at(desc: String): Counters = byDesc.getOrElseUpdate(desc, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    e.stageInfos.foreach(s => stageDesc.put(s.stageId, desc))
    val c = at(desc)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = at(stageDesc.getOrElse(e.stageInfo.stageId, ""))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = at(stageDesc.getOrElse(e.stageId, ""))
    val m = Option(e.taskMetrics)
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.tasksFailed += 1
      m.foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Every description's counters, after all events posted so far have
    * been delivered.
    */
  def json: String = {
    ListenerBusDrain(sc)
    Json.obj(byDesc.toSeq.sortBy(_._1).map { case (d, c) =>
      d -> c.synchronized(Json.obj(Seq(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "tasks_failed" -> c.tasksFailed, "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs,
        "gc_ms" -> c.gcMs, "shuffle_read" -> c.shuffleRead,
        "shuffle_write" -> c.shuffleWrite, "spill" -> c.spill,
        "bytes_written" -> c.bytesWritten).map { case (k, v) => k -> Json.num(v.toDouble) }))
    })
  }
}
