package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one tagged phase (a query's build or action). */
final class Layer {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  val jobSpans = mutable.Buffer[(Long, Long)]()

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "deser_s" -> deserMs / 1e3,
    "sched_wait_s" -> schedMs / 1e3, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes,
    "plan_s" -> planMs / 1e3,
    "job_spans_ms" -> jobSpans.map { case (s, e) => Seq(s, e) }.toSeq)
}

/** Attributes scheduler events to the phase tag the harness sets as a
  * local property before each build and action, and planning time to
  * whichever phase the harness closes next (it drains the bus first).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val layers = mutable.Map[String, Layer]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private var pendingPlanMs = 0L

  private def layer(tag: String): Layer = layers.getOrElseUpdate(tag, new Layer)

  /** The counters of `tag`, plus all planning time seen since the last
    * call; the caller has drained the listener bus.
    */
  def take(tag: String): Layer = synchronized {
    val l = layers.remove(tag).getOrElse(new Layer)
    l.planMs = pendingPlanMs
    pendingPlanMs = 0L
    l
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
    tag.foreach { t =>
      jobStart.put(e.jobId, (t, e.time))
      e.stageInfos.foreach(s => stageTag.put(s.stageId, t))
      synchronized(layer(t).jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t, start) =>
      synchronized(layer(t).jobSpans += ((start, e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      synchronized(layer(t).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val m = e.taskMetrics
      val i = e.taskInfo
      synchronized {
        val l = layer(t)
        l.tasks += 1
        if (m != null) {
          l.runMs += m.executorRunTime
          l.cpuNs += m.executorCpuTime
          l.deserMs += m.executorDeserializeTime
          val gettingResult =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          l.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          l.inputBytes += m.inputMetrics.bytesRead
          l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          l.spillBytes += m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = Tracer.PlanPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    synchronized(pendingPlanMs += ms)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  val TagKey = "perfbench.tag"
  val PlanPhases = Seq("analysis", "optimization", "planning")
}
