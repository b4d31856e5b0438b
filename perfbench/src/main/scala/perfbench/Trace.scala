package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. `parent` is 0 for a root span;
  * spans of one benchmark operation share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Span duration minus the part of its interval its children cover
    * (children may overlap each other; each instant counts once).
    */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Per span name: (count, total seconds, self seconds). */
  def summary(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.durNs).sum / 1e9
      val self = ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9
      name -> ((ss.size, total, self))
    }
  }
}

/** Span recorder for the single benchmark client thread. Disabled, it
  * only runs the body. Spans stay in memory until the run writes them out.
  */
final class Tracer(var enabled: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0

  def newOp(): Unit = op += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Spark jobs of one benchmark operation (jobs carry the operation's tag
  * as a local property).
  */
final class OpJobs {
  var jobs = 0
  var taskNs = 0L
  var firstTaskEndMs = Long.MaxValue
  var lastTaskEndMs = 0L
  /** Task count of the first job's first stage: the scan's partitions. */
  var firstStageTasks = 0
  var shuffleWrite = 0L
}

/** Engine-side counters from the scheduler, in total and per operation.
  * Registered only in traced runs.
  */
final class EngineListener extends SparkListener {
  var jobs = 0
  var jobsEnded = 0
  var stages = 0
  var tasks = 0
  var taskRetries = 0
  var taskNs = 0L
  var taskMaxNs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** Bytes of cached RDD blocks stored, summed over every block update. */
  var cachedBytes = 0L
  val byOp = scala.collection.mutable.Map[String, OpJobs]()
  private val stageSubmitted = scala.collection.mutable.Map[Int, Long]()
  private val stageOp = scala.collection.mutable.Map[Int, OpJobs]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { tag =>
      val o = byOp.getOrElseUpdate(tag, new OpJobs)
      if (o.jobs == 0)
        o.firstStageTasks = e.stageInfos.sortBy(_.stageId).headOption.map(_.numTasks).getOrElse(0)
      o.jobs += 1
      e.stageIds.foreach(s => stageOp(s) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += 1
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmitted.get(e.stageId).foreach(s => schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.attemptNumber > 0) taskRetries += 1
    val m = e.taskMetrics
    val ns = if (m == null) 0L else m.executorRunTime * 1000000L
    if (m != null) {
      taskNs += ns
      taskMaxNs = math.max(taskMaxNs, ns)
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageOp.get(e.stageId).foreach { o =>
      o.taskNs += ns
      if (m != null) o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      o.firstTaskEndMs = math.min(o.firstTaskEndMs, e.taskInfo.finishTime)
      o.lastTaskEndMs = math.max(o.lastTaskEndMs, e.taskInfo.finishTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) cachedBytes += b.memSize + b.diskSize
  }

  /** Blocks until every started job has been seen to end (listener
    * delivery is asynchronous), or `timeoutMs` passes.
    */
  def await(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsEnded < jobs) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  def op(tag: String): Option[OpJobs] = synchronized(byOp.get(tag))
}

/** Driver-side planning time (analysis + optimization + physical planning)
  * of every action.
  */
final class PlanListener extends QueryExecutionListener {
  val planMs = new ArrayBuffer[Double]()
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  def snapshot: Seq[Double] = synchronized(planMs.toSeq)
}

/** `StreamingQueryProgress` of every trigger: input rows and the phase durations. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ArrayBuffer[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    progress += ((e.progress.numInputRows, d))
  }
  def snapshot: Seq[(Long, Map[String, Long])] = synchronized(progress.toSeq)
}
