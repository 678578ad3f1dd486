package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: a call into a layer made from the benchmark's own code.
  * `op` is the operation (epoch or query) the span belongs to; spans of one
  * operation share it. Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long)

/** A finished Spark job, attributed to the span whose id was the driver
  * thread's local property when the job was submitted.
  */
final case class JobRec(span: Int, start: Long, end: Long, stages: Int)

/** Per-task executor metrics, summed over the tasks of one span. */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** A successful or failed Dataset action seen by the QueryExecutionListener,
  * with its analysis + optimization + planning time.
  */
final case class ActionRec(at: Long, planningMs: Long)

/** Spans from the benchmark's own calls plus the counts a SparkListener and a
  * QueryExecutionListener see while they are open. With `enabled = false`
  * nothing is registered and `span` only runs its body, so the untimed and
  * the traced run execute the same benchmark code.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Int] = Nil
  private var nextId = 1
  private var curOp = 0

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Int)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val taskSums = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  private val actions = new ConcurrentLinkedQueue[ActionRec]()

  // nanoTime and the listener's wall-clock millis share one offset
  private val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNano(ms: Long): Long = ms * 1000000L + nanoAtEpochMs

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // a job submitted from a thread without the property (an engine
      // background thread) goes to the span open on the driver thread
      val span = Option(js.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(stack.headOption.getOrElse(0))
      jobStarts.put(js.jobId, (span, msToNano(js.time), js.stageIds.size))
      js.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(je.jobId)).foreach { case (span, t0, stages) =>
        jobs.add(JobRec(span, t0, msToNano(je.time), stages))
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val span = Option(stageSpan.get(te.stageId)).map(_.intValue).getOrElse(0)
        val s = taskSums.computeIfAbsent(span, _ => new TaskSums)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = phases.valuesIterator.map(_.durationMs).sum
      val at = if (phases.isEmpty) System.nanoTime()
      else msToNano(phases.valuesIterator.map(_.startTimeMs).min)
      actions.add(ActionRec(at, ms))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      rec(qe)
  }

  private val watched = mutable.Buffer.empty[SparkSession]

  /** Count the Catalyst actions of `session` too; a QueryExecutionListener
    * is registered per session.
    */
  def watch(session: SparkSession): Unit = if (enabled && !watched.contains(session)) {
    session.listenerManager.register(qeListener)
    watched += session
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)
  watch(spark)

  /** Where span times in the record count from. */
  val originNs: Long = System.nanoTime()

  /** Record the Catalyst phases of a plan the benchmark ran itself through
    * `queryExecution.toRdd`, which the QueryExecutionListener does not see.
    */
  def planned(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      actions.add(ActionRec(
        msToNano(phases.valuesIterator.map(_.startTimeMs).min),
        phases.valuesIterator.map(_.durationMs).sum))
  }

  /** The operation the spans opened from now on belong to; 0 is set-up. */
  def setOp(op: Int): Unit = curOp = op

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.nanoTime()
      stack = id :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, id.toString)
      try body
      finally {
        sc.setLocalProperty(PropKey, prev)
        stack = stack.tail
        spans += Span(id, name, parent, curOp, t0, System.nanoTime())
      }
    }

  /** Stop listening and wait until the listener bus has delivered every event
    * posted so far.
    */
  def finish(): Unit = if (enabled) {
    org.apache.spark.ListenerDrain(spark.sparkContext, 60000L)
    spark.sparkContext.removeSparkListener(listener)
    watched.foreach(_.listenerManager.unregister(qeListener))
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq
  def taskSumsBySpan: Map[Int, TaskSums] = taskSums.asScala.toMap
  def allActions: Seq[ActionRec] = actions.asScala.toSeq
}
