package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Layer spans, timed from outside around calls into the library.
  *
  * With tracing off, [[span]] only runs its body: the timed run executes
  * exactly the calls the traced run does, with no listener attached.
  * With tracing on, each span sets the Spark job group to its own id, and
  * a listener attributes every job (and through the job's stages, every
  * task) to the span whose group it ran under. Jobs submitted from threads
  * that did not inherit the group fall back to the innermost open span;
  * there is one client thread, so that span is the caller. [[drain]]
  * blocks on the listener bus, so counts are complete without sleeping.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {

  final class Span(val id: Long, val layer: String, val label: String,
      val parent: Long, val op: Long, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    // written by the listener thread only, read after drain()
    var jobs = 0
    var tasks = 0
    var taskWaitMs = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var writtenBytes = 0L
    var recordsRead = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    // set by the client thread
    var resultRows = 0L
  }

  private val GroupPrefix = "perfbench-span-"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the clock the
    * listener's job times use. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageOwner = new ConcurrentHashMap[Int, Span]()
  private val jobOwner = new ConcurrentHashMap[Int, (Span, Long)]()
  @volatile private var current: Span = null
  private var nextId = 1L
  /** Operation id stamped on new spans; -1 outside the measured loop. */
  var op: Long = -1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val owner = group.filter(_.startsWith(GroupPrefix))
        .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toLong)))
        .getOrElse(current)
      if (owner != null) {
        owner.jobs += 1
        e.stageIds.foreach(stageOwner.put(_, owner))
        jobOwner.put(e.jobId, (owner, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOwner.remove(e.jobId)).foreach { case (s, t0) =>
        s.jobIntervals += ((t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { s =>
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.taskWaitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.writtenBytes += m.outputMetrics.bytesWritten
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as one span of `layer`. The body must force its own
    * result (an action, a checkpoint or a write), so the span holds the
    * work it names rather than a lazy plan. */
  def span[T](layer: String, label: String)(body: => T): T = {
    if (!enabled) return body
    val parent = current
    val s = new Span(nextId, layer, label,
      if (parent == null) 0L else parent.id, op, nowMs)
    nextId += 1
    spans += s
    byId.put(s.id, s)
    current = s
    sc.setJobGroup(GroupPrefix + s.id, label, interruptOnCancel = false)
    try body
    finally {
      s.endMs = nowMs
      current = parent
      if (parent == null) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + parent.id, parent.label,
        interruptOnCancel = false)
    }
  }

  /** Credit `n` result rows to the innermost open span. */
  def resultRows(n: Long): Unit = if (enabled && current != null) current.resultRows += n

  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def detach(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
  }

  def export: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map(
      "id" -> s.id, "layer" -> s.layer, "label" -> s.label,
      "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "jobs" -> s.jobs, "tasks" -> s.tasks, "task_wait_ms" -> s.taskWaitMs,
      "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
      "written_bytes" -> s.writtenBytes, "records_read" -> s.recordsRead,
      "result_rows" -> s.resultRows,
      "job_intervals" -> s.jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
  }
}
