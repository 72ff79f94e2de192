package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `op` groups the spans of one benchmark
  * operation, `parent` is the enclosing span (-1 at the top). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, durNs: Long)

/** Stage and task totals of the Spark jobs attributed to one span. */
final class JobStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  /** job wall intervals (epoch ms), for the busy-time union */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: JobStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; intervals ++= o.intervals
  }

  /** Milliseconds during which at least one of the jobs was running. */
  def wallMs: Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> input, "wall_ms" -> wallMs)
}

/** Records spans around the benchmark's calls into the engine and, while
  * attached, collects every Spark job's stage and task metrics through a
  * SparkListener. A job belongs to the innermost span whose window holds
  * its submission time. The time window, not a thread-local property, is
  * the rule because some engine code submits jobs from pool threads that
  * do not inherit the caller's local properties (ProbeAgg's probe
  * builds run as Futures); the benchmark drives the engine from a single
  * thread, so windows never overlap. */
final class Tracer(sc: SparkContext) extends SparkListener {

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()

  private final class Job(val startMs: Long) {
    var endMs = -1L
    val stats = new JobStats
  }
  // listener-bus thread writes, the driver thread reads after drain
  private val jobs = mutable.Map[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()
  @volatile private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(this); attached = false }

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val t0 = System.nanoTime()
    val s0 = System.currentTimeMillis()
    try body
    finally {
      stack.pop()
      spans += Span(id, name, parent, op, s0, System.currentTimeMillis(),
        System.nanoTime() - t0)
    }
  }

  /** Waits until every job the listener saw start has also ended. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def pending = jobs.synchronized(jobs.values.count(_.endMs < 0))
    while (pending > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(50) // trailing task-end events of the last stage
  }

  /** Job totals per span id (innermost containing span). */
  def attribute(): Map[Int, JobStats] = {
    val out = mutable.Map[Int, JobStats]()
    val leaves = spans.toSeq
    jobs.synchronized {
      jobs.values.foreach { j =>
        val hit = leaves.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        if (hit.nonEmpty) {
          // nested windows: the latest-opened one is the innermost
          val s = hit.maxBy(s => (s.startMs, s.id))
          out.getOrElseUpdate(s.id, new JobStats).add(j.stats)
        }
      }
    }
    out.toMap
  }

  def allSpans: Seq[Span] = spans.toSeq

  def reset(): Unit = {
    spans.clear()
    jobs.synchronized { jobs.clear(); stageToJob.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
    val j = new Job(e.time)
    j.stats.jobs = 1
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.stats.intervals += ((j.startMs, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobs.synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stats.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
      val st = j.stats
      st.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
        if (info != null)
          st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
      }
    }
  }
}
