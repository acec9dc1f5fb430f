package graftbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Engine counters accumulated for one span key (its own jobs only). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, bytesWritten, pinBytes = 0L
  var planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; bytesWritten += o.bytesWritten; pinBytes += o.pinBytes
    planningMs += o.planningMs
  }
}

/** One timed call into a layer. Driver-thread spans nest through a stack;
  * trigger spans are built afterwards from streaming progress events. */
final class Span(val key: String, val name: String, val parent: Option[Span],
    val measured: Boolean, val startMs: Long) {
  var wallMs: Double = 0.0
  val children = mutable.ArrayBuffer.empty[Span]
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def selfMs: Double = math.max(0.0, wallMs - children.map(_.wallMs).sum)
}

/** Spans, streaming progress and (when `traced`) engine counters for one
  * run. Spans are kept in memory and written once at the end.
  *
  * Engine work is attributed to a span through the job group, which
  * `span` sets on the calling thread before the body runs; micro-batch
  * jobs are attributed to their trigger through the streaming query id
  * and batch id local properties. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  private var stack: List[Span] = Nil
  val roots = mutable.ArrayBuffer.empty[Span]
  @volatile var measuring = false
  private val lastClosed = mutable.Map.empty[String, Span]

  def span[T](name: String)(body: => T): T = {
    val s = new Span(s"gb-${ids.incrementAndGet()}-$name", name, stack.headOption,
      measuring, System.currentTimeMillis())
    s.parent match {
      case Some(p) => p.children += s
      case None => roots.synchronized(roots += s)
    }
    stack = s :: stack
    sc.setJobGroup(s.key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallMs = (System.nanoTime() - t0) / 1e6
      lastClosed(name) = s
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.key, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a number to the innermost open span. */
  def attr(k: String, v: Double): Unit = stack.headOption.foreach(add(_, k, v))

  /** Attach a number to the last closed span of that name, for a count
    * taken after the timed call returned. */
  def attrLast(name: String, k: String, v: Double): Unit = lastClosed.get(name).foreach(add(_, k, v))

  private def add(s: Span, k: String, v: Double): Unit = s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v

  // ---- streaming progress (always on: the trigger walls are end-to-end) ----

  private val queues = new ConcurrentHashMap[UUID, LinkedBlockingQueue[StreamingQueryProgress]]()
  /** Progress events of a query not yet taken by the workload. */
  def progressOf(id: UUID): LinkedBlockingQueue[StreamingQueryProgress] =
    queues.computeIfAbsent(id, _ => new LinkedBlockingQueue[StreamingQueryProgress]())
  private val history = new ConcurrentHashMap[UUID, CopyOnWriteArrayList[StreamingQueryProgress]]()
  /** Every progress event of a query, in arrival order. */
  def historyOf(id: UUID): Seq[StreamingQueryProgress] =
    Option(history.get(id)).map(_.asScala.toSeq).getOrElse(Nil)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      history.computeIfAbsent(e.progress.id, _ => new CopyOnWriteArrayList[StreamingQueryProgress]())
        .add(e.progress)
      progressOf(e.progress.id).put(e.progress)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(streamListener)

  // ---- engine counters (traced runs only) ----

  val counters = new ConcurrentHashMap[String, Counters]()
  private def acc(k: String) = counters.computeIfAbsent(k, _ => new Counters)
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  // planning time arrives through the QueryExecutionListener, the span
  // through the execution's end event; whichever comes second joins them
  private val qeKey = new ConcurrentHashMap[QueryExecution, String]()
  private val qePlanning = new ConcurrentHashMap[QueryExecution, java.lang.Long]()
  private def joinPlanning(qe: QueryExecution): Unit = {
    val k = qeKey.get(qe)
    val ms = qePlanning.get(qe)
    if (k != null && ms != null && qeKey.remove(qe, k) && qePlanning.remove(qe, ms))
      acc(k).synchronized(acc(k).planningMs += ms)
  }
  @volatile private var lastJobKey = "unattributed"

  /** Span key a job belongs to: its trigger for micro-batch jobs, else the
    * job group the driver-thread span set. */
  private def keyOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else Option(props.getProperty("streaming.sql.batchId")) match {
      case Some(b) => s"trigger:${props.getProperty("sql.streaming.queryId")}:$b"
      case None => Option(props.getProperty("spark.jobGroup.id")).getOrElse("unattributed")
    }

  private val engineListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = keyOf(e.properties)
      lastJobKey = k
      e.stageIds.foreach(stageKey.put(_, k))
      acc(k).synchronized(acc(k).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach(k => acc(k).synchronized(acc(k).stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageKey.get(e.stageId)).foreach { k =>
        val c = acc(k)
        c.synchronized {
          c.tasks += 1
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
    // Checkpoint and cache blocks: written by the tasks of the job that
    // started last in listener-bus order.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isInstanceOf[RDDBlockId] && i.storageLevel.isValid) {
        val c = acc(lastJobKey)
        c.synchronized(c.pinBytes += i.memSize + i.diskSize)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(execKey.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        for (k <- Option(execKey.remove(end.executionId));
             qe <- org.apache.spark.sql.GraftBenchSqlAccess.queryExecution(end)) {
          qeKey.put(qe, k)
          joinPlanning(qe)
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qePlanning.put(qe, qe.tracker.phases.values.map(_.durationMs).sum)
      joinPlanning(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (traced) {
    sc.addSparkListener(engineListener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.GraftBenchAccess.drainListeners(sc)

  /** Build trigger spans from the recorded progress of `queryId`. */
  def triggerSpans(queryId: UUID, name: String, measured: Long => Boolean): Seq[Span] =
    historyOf(queryId).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val m = measured(p.batchId)
      val s = new Span(s"trigger:${p.id}:${p.batchId}", name, None, m,
        java.time.Instant.parse(p.timestamp).toEpochMilli)
      s.wallMs = d.getOrElse("triggerExecution", 0L).toDouble
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { ph =>
          val c = new Span(s.key + ":" + ph, s"$name.$ph", Some(s), m, s.startMs)
          c.wallMs = d.getOrElse(ph, 0L).toDouble
          s.children += c
        }
      s.attrs("rows") = p.numInputRows.toDouble
      p.stateOperators.foreach { so =>
        s.attrs("state_rows") = s.attrs.getOrElse("state_rows", 0.0) + so.numRowsTotal
        s.attrs("state_memory_bytes") = s.attrs.getOrElse("state_memory_bytes", 0.0) + so.memoryUsedBytes
        s.attrs("state_commit_ms") = s.attrs.getOrElse("state_commit_ms", 0.0) + so.commitTimeMs
      }
      s
    }

  /** Inclusive counters of a span: its own jobs plus its descendants'. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    Option(counters.get(s.key)).foreach(c.add)
    s.children.foreach(ch => c.add(inclusive(ch)))
    c
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (traced) {
      sc.removeSparkListener(engineListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}

/** Counts WARN-or-worse log lines and whole-stage codegen fallbacks from
  * outside the engine, through an appender on the root logger. */
final class LogCounter extends AbstractAppender("graftbench-log-counter", null, null,
    true, Property.EMPTY_ARRAY) {
  val warnLines = new AtomicLong
  val codegenFallbacks = new AtomicLong

  override def append(e: LogEvent): Unit = {
    if (e.getLevel.isMoreSpecificThan(Level.WARN)) warnLines.incrementAndGet()
    val m = e.getMessage.getFormattedMessage
    if (m != null && m.contains("Whole-stage codegen disabled")) codegenFallbacks.incrementAndGet()
  }

  def attach(): Unit = {
    start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }
}
