package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer's public function, timed from outside.
  * `request` names the operation (cycle, query or stream op) it belongs
  * to; `parent` is the id of the enclosing span, 0 at the top. */
final case class Span(id: Long, parent: Long, request: String,
    name: String, startNs: Long, endNs: Long)

/** Counters from Spark's public listener APIs for the operation running
  * now. All times are seconds, all sizes bytes. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var mapTaskRunS = 0.0     // executor run time of shuffle-map tasks
  var resultTaskRunS = 0.0  // executor run time of result tasks
  var taskCpuS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var shuffleFetchWaitS = 0.0
  var spillBytes = 0L
  var scanReadBytes = 0L
  var resultRecordsRead = 0L // shuffle records read by result tasks
  var planS = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var lastJobEndMs = 0L

  def taskRunS: Double = mapTaskRunS + resultTaskRunS

  /** Wall time covered by at least one job, in seconds. */
  def jobUnionS: Double = {
    val sorted = jobIntervals.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE >= 0) total += curE - curS
    total / 1e3
  }
}

/** The traced run's instrumentation. It is installed from the
  * benchmark only, through public APIs: a `SparkListener` for jobs and
  * task metrics, and a `QueryExecutionListener` for plan-phase times. Spans stay in
  * memory and are written once, at exit. Streaming progress is read
  * from each query's `recentProgress` (the public
  * `StreamingQueryProgress` API) after it terminates.
  *
  * An operation runs with the local property `perfbench.op` set, so the
  * listener attributes jobs and tasks to it. Listener events arrive
  * asynchronously; [[drain]] runs a one-task marker job and waits for
  * its end event, after which every earlier event has been delivered. */
final class Trace(spark: SparkSession) {
  private val opKey = "perfbench.op"
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new java.util.ArrayDeque[Long]()
  @volatile private var active = false
  private val counters = new java.util.concurrent.ConcurrentHashMap[
    String, OpCounters]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[
    Int, (String, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[
    Int, String]()
  @volatile private var markerSeen = ""
  @volatile private var currentOp = ""

  private def countersOf(name: String): Option[OpCounters] =
    Option(name).filter(_.nonEmpty).flatMap(n => Option(counters.get(n)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val name = Option(e.properties).map(_.getProperty(opKey, ""))
        .getOrElse("")
      if (name.startsWith("marker:")) return
      jobOp.put(e.jobId, (name, e.time))
      e.stageIds.foreach(stageOp.put(_, name))
      countersOf(name).foreach { c => c.synchronized { c.jobs += 1 } }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)) match {
        case Some((name, start)) => countersOf(name).foreach { c =>
          c.synchronized {
            c.jobIntervals += ((start, e.time))
            c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
          }
        }
        case None => markerSeen = s"job:${e.jobId}"
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).flatMap(countersOf).foreach { c =>
        val m = e.taskMetrics
        if (m != null) c.synchronized {
          c.tasks += 1
          if (e.taskType == "ShuffleMapTask")
            c.mapTaskRunS += m.executorRunTime / 1e3
          else {
            c.resultTaskRunS += m.executorRunTime / 1e3
            c.resultRecordsRead += m.shuffleReadMetrics.recordsRead
          }
          c.taskCpuS += m.executorCpuTime / 1e9
          c.gcS += m.jvmGCTime / 1e3
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleFetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.scanReadBytes += m.inputMetrics.bytesRead
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Double =
      qe.tracker.phases.iterator.collect {
        case (p, s) if p != "parsing" => s.durationMs / 1e3
      }.sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      countersOf(currentOp).foreach { c =>
        c.synchronized { c.planS += phases(qe) }
      }
  }

  /** Attach the listeners; detached runs measure the untraced cost. */
  def attach(): Unit = if (!active) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  def detach(): Unit = if (active) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    active = false
  }

  def isActive: Boolean = active

  /** When set, passes 1 and 2 measure the tracing overhead: operations
    * alternate between traced and untraced, with the opposite parity on
    * the second pass, so every operation runs once each way and the
    * warming between the passes cancels out. */
  var overheadPasses = false
  private var opPass = -1
  private var opIndex = 0

  def beforeOp(pass: Int): Unit =
    if (overheadPasses && (pass == 1 || pass == 2)) {
      if (pass != opPass) { opPass = pass; opIndex = 0 }
      if ((opIndex + pass) % 2 == 0) attach() else detach()
      opIndex += 1
    }

  /** Run `body` as operation `request`; returns its counters when
    * traced. The wall time is the caller's to take. */
  def op[A](request: String)(body: => A): (A, Option[OpCounters]) = {
    if (!active) return (body, None)
    val c = new OpCounters
    counters.put(request, c)
    currentOp = request
    val sc = spark.sparkContext
    sc.setLocalProperty(opKey, request)
    try {
      val out = span(request, "op")(body)
      (out, Some(c))
    } finally {
      sc.setLocalProperty(opKey, null)
      drain()
      currentOp = ""
      counters.remove(request)
    }
  }

  /** Time `body` as a span when tracing; free otherwise. */
  def span[A](request: String, name: String)(body: => A): A = {
    if (!active) return body
    val id = nextId.getAndIncrement()
    val parent = if (stack.isEmpty) 0L else stack.peek()
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans.add(Span(id, parent, request, name, t0, System.nanoTime()))
    }
  }

  /** Span durations of one request, by span name, in seconds. */
  def spanSeconds(request: String, name: String): Double =
    spans.iterator.asScala.filter(s => s.request == request && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Wait until the listener bus has delivered every event posted
    * before this call (see the class comment). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val tag = s"marker:${nextId.getAndIncrement()}"
    sc.setLocalProperty(opKey, tag)
    val jobIdBefore = markerSeen
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(opKey, if (currentOp.isEmpty) null else currentOp)
    val deadline = System.nanoTime() + 5000000000L
    while (markerSeen == jobIdBefore && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Spans as JSON lines, written once at exit. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":"${Json.esc(s.request)}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
