package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for benchmark spans and Spark listener events: nanoseconds
  * since the JVM loaded this object. Spark events carry epoch
  * milliseconds; `fromEpochMs` maps them onto the same axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochNs0 = epochNs()
  def now: Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochNs0
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long,
                      external: Boolean) {
  def durS: Double = (end - start) / 1e9
}

/** Spans kept in memory and written when the run ends. Benchmark spans
  * nest by call order; spans derived from listener events (Spark jobs,
  * micro-batches) take as parent the innermost benchmark span that holds
  * their start. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var enabled = false

  def size: Int = spans.size
  def since(mark: Int): Seq[Span] = spans.drop(mark).toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, t0, Clock.now, external = false)
      }
    }

  def external(name: String, start: Long, end: Long): Unit =
    if (enabled) {
      spans += Span(nextId, name, -1, start, end, external = true)
      nextId += 1
    }

  /** All spans with parents resolved, plus each span's self time: its
    * duration minus the part of its interval that child spans cover. */
  def resolved: Seq[(Span, Double)] = {
    val own = spans.filterNot(_.external).toSeq
    val withParents = spans.toSeq.map { s =>
      if (!s.external) s
      else {
        val holders = own.filter(o => o.start <= s.start && s.start <= o.end)
        val inner = if (holders.isEmpty) 0 else holders.minBy(_.durS).id
        s.copy(parent = inner)
      }
    }
    val children = withParents.groupBy(_.parent)
    withParents.sortBy(_.start).map { s =>
      val covered = Intervals.union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      (s, math.max(0.0, s.durS - covered / 1e9))
    }
  }
}

object Intervals {
  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
                        stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, numTasks: Int)
final case class TaskRec(stage: Int, attempt: Int, durMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, inRecords: Long, inBytes: Long,
                         outRecords: Long, outBytes: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long)

/** Spark execution as seen from a listener the benchmark owns: jobs with
  * their job group, completed stages and finished tasks. Attached only
  * while a traced round runs; `drain` waits for the asynchronous bus to
  * deliver the round's events and hands them over. */
final class ExecListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var lastEvent = 0L

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, JobRec(e.jobId, Option(group).getOrElse(""),
      Clock.fromEpochMs(e.time), -1L, e.stageIds))
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromEpochMs(e.time))
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.attemptNumber(), i.numTasks))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.stageId, info.attemptNumber,
        info.finishTime - info.launchTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    touch()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for 50 ms (at most 5 s), then return and clear what was recorded. */
  def drain(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = {
    val deadline = System.nanoTime() + 5000000000L
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      System.nanoTime() - lastEvent > 50000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
    val out = (jobs.values.asScala.toSeq.sortBy(_.id), stages.asScala.toSeq,
      tasks.asScala.toSeq)
    jobs.clear(); stages.clear(); tasks.clear()
    out
  }
}

final case class Progress(runId: String, batchId: Long, inputRows: Long,
                          durations: Map[String, Long], start: Long) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def end: Long = start + ms("triggerExecution") * 1000000L
}

/** Micro-batch progress of every streaming query, in arrival order. */
final class StreamListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @volatile var lastStarted: String = ""

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    lastStarted = e.runId.toString
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    progress.add(Progress(p.runId.toString, p.batchId, p.numInputRows, d, start))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId.toString)

  /** Progress of the most recently started query, once its termination
    * event has arrived (it follows every progress event on the bus). */
  def finished(timeoutMs: Long = 10000): Seq[Progress] = {
    val run = lastStarted
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!terminated.contains(run) && System.nanoTime() < deadline) Thread.sleep(5)
    progress.asScala.filter(_.runId == run).toSeq
  }
}
