package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision, the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Driver-thread span recorder. Spans are kept in memory and written once
  * when the run ends. While a span is open it is the Spark job group, so
  * every job a call launches lands under the innermost open span. While
  * `active` is false, `span` only runs its body. */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1
  private var sc: SparkContext = _
  var active = false

  /** Point the tracer at a (new) SparkContext and re-apply the open span's
    * job group there. */
  def attach(context: SparkContext): Unit = {
    sc = context
    applyGroup()
  }

  private def applyGroup(): Unit = if (sc != null) stack.headOption match {
    case Some((id, name)) => sc.setJobGroup(s"span-$id", name)
    case None => sc.clearJobGroup()
  }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      applyGroup()
      val start = nowMs
      try body
      finally {
        spans += Span(id, parent, name, layer, start, nowMs)
        stack = stack.tail
        applyGroup()
      }
    }
}

/** Per-stage totals over the stage's finished tasks. */
final class StageRec(val stageId: Int) {
  var name = ""
  var jobId: Int = -1
  var submitMs = 0.0
  var completeMs = 0.0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, group: String, startMs: Double, var endMs: Double)

/** Records job, stage and task metrics of one SparkContext. Job ids and
  * stage ids restart with every context, so each context gets its own
  * recorder. Read it only after the context is stopped: stopping drains
  * the listener bus. */
final class StageRecorder(val context: Int) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time.toDouble, e.time.toDouble)
    // a shuffle stage shared by later jobs is attributed to the first one
    e.stageIds.foreach(s => if (stage(s).jobId < 0) stage(s).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId)
    s.name = info.name
    s.submitMs = info.submissionTime.getOrElse(0L).toDouble
    s.completeMs = info.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val ti = e.taskInfo
    val s = stage(e.stageId)
    s.tasks += 1
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    s.deserMs += m.executorDeserializeTime
    s.schedMs += math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - ti.gettingResultTime)
    s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    s.spillBytes += m.diskBytesSpilled
    s.resultBytes += m.resultSize
    s.taskMs += ti.duration
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "context" -> context,
      "jobs" -> jobs.values.toSeq.map(j => Map("job" -> j.jobId, "group" -> j.group,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> stages.values.toSeq.map(s => Map(
        "stage" -> s.stageId, "job" -> s.jobId, "name" -> s.name,
        "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "deser_ms" -> s.deserMs, "sched_ms" -> s.schedMs,
        "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
        "spill_bytes" -> s.spillBytes, "result_bytes" -> s.resultBytes,
        "task_ms" -> s.taskMs.toSeq)))
  }
}
