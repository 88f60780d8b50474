package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Its Spark jobs ran under the job group
  * `span-<id>`; `op` is the id of the operation it belongs to. `stages`,
  * when given, names the stage of each job by its description (set by
  * the program's own `labeled` blocks); jobs it is not defined on belong
  * to no stage. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      counters: Map[String, Double], stages: Option[PartialFunction[String, String]]) {
  def ms: Double = (endNs - startNs) / 1e6
  def group: String = s"span-$id"
}

/** Spark work of one job, or summed over several, as [[GroupListener]]
  * saw it. */
final class JobWork(val group: String, val description: String, val startMs: Long) {
  var endMs: Long = startMs
  var jobs = 1L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var inputRows = 0L
  var resultBytes = 0L
  var spillBytes = 0L

  def +(o: JobWork): JobWork = {
    val w = new JobWork(group, description, math.min(startMs, o.startMs))
    w.endMs = math.max(endMs, o.endMs)
    w.jobs = jobs + o.jobs; w.stages = stages + o.stages; w.tasks = tasks + o.tasks
    w.taskCpuNs = taskCpuNs + o.taskCpuNs; w.shuffleBytes = shuffleBytes + o.shuffleBytes
    w.inputRows = inputRows + o.inputRows; w.resultBytes = resultBytes + o.resultBytes
    w.spillBytes = spillBytes + o.spillBytes
    w
  }
}

object JobWork {
  val Zero: JobWork = { val w = new JobWork("", "", 0L); w.jobs = 0; w }
  def sum(ws: Iterable[JobWork]): JobWork = ws.foldLeft(Zero)(_ + _)
}

/** Records every job with the job group and description that were set on
  * the submitting thread, and the stages and tasks it ran.
  * The benchmark gives each span its own group, so a group's jobs are that
  * span's Spark work. Listener events arrive asynchronously: call [[drain]]
  * before reading. */
final class GroupListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobWork]()
  private val stageJob = new ConcurrentHashMap[Int, JobWork]()
  @volatile private var started = 0L
  @volatile private var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val w = new JobWork(prop(GroupListener.JobGroupKey).getOrElse(GroupListener.NoGroup),
      prop(GroupListener.DescriptionKey).getOrElse(""), e.time)
    jobs.put(e.jobId, w)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, w))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    ended += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageJob.get(e.stageId)).foreach { w =>
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskCpuNs += m.executorCpuTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.inputRows += m.inputMetrics.recordsRead
        w.resultBytes += m.resultSize
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits until every started job has ended and its events were seen. */
  def drain(sc: SparkContext, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && (started != ended || !sc.statusTracker.getActiveJobIds().isEmpty))
      Thread.sleep(20)
    Thread.sleep(200) // task and stage events of the last job trail its end event
  }

  /** The jobs of one group, in the order they started. */
  def jobsOf(group: String): Seq[JobWork] = synchronized {
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.startMs)
  }

  def get(group: String): JobWork = JobWork.sum(jobsOf(group))
}

object GroupListener {
  val NoGroup = "<none>"
  /** The local properties SparkContext.setJobGroup and setJobDescription set. */
  val JobGroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"
}

/** Records spans around the benchmark's calls into each layer. Disabled,
  * it only runs the body, so untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, mutable.Map[String, Double])] = Nil
  private var currentOp = 0L

  def all: Seq[Span] = spans.toSeq

  private def setGroup(id: Long): Unit =
    if (id == 0L) sc.clearJobGroup() else sc.setJobGroup(s"span-$id", s"span-$id")

  /** Runs `body` as the span `name`. The outermost span of an operation
    * starts a new operation id. With `stages`, the span's jobs are also
    * reported stage by stage. */
  def span[T](name: String, stages: Option[PartialFunction[String, String]] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      if (parent == 0L) currentOp = id
      val counters = mutable.Map.empty[String, Double]
      stack = (id, counters) :: stack
      setGroup(id)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (t1, w1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        setGroup(parent)
        spans += Span(id, parent, currentOp, name, t0, t1, w0, w1, counters.toMap, stages)
      }
    }

  /** Adds `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { case (_, c) => c(key) = c.getOrElse(key, 0.0) + v }
}
