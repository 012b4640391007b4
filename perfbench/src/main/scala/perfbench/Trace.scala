package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are wall-clock milliseconds; `request` is
  * the height step or query-and-pass it belongs to (empty for listener
  * spans until [[Trace.assign]] places them under a root).
  */
final case class Span(name: String, start: Double, end: Double,
                      id: Long, var parent: Long, var request: String) {
  def ms: Double = end - start
}

/** Counters of one Spark task, kept to sum per request. */
final case class TaskSample(time: Double, runMs: Double, cpuMs: Double,
                            gcMs: Double, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long,
                            peakMem: Long, inputBytes: Long)

/** The traced run's recorder. It registers Spark's public listeners
  * (SparkListener, QueryExecutionListener, StreamingQueryListener) and
  * a GC notification listener; the benchmark wraps its own calls into
  * each layer with [[span]]. Everything stays in memory until the run
  * ends. No program code is changed: every number is taken from
  * outside the layer.
  */
final class Trace(spark: SparkSession) {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskSample]
  /** (time, rddId) of every persisted RDD seen in a submitted stage. */
  val persisted = ArrayBuffer.empty[(Double, Int)]
  /** (end time, phase -> ms) per query execution. */
  val executions = ArrayBuffer.empty[(Double, Map[String, Double])]
  /** (start, end) of every SQL execution that wrote parquet. */
  val parquetWrites = ArrayBuffer.empty[(Double, Double)]
  /** Data epochs: (start, end, durationMs map, heights). */
  val epochs = ArrayBuffer.empty[(Double, Double, Map[String, Double], Long)]
  @volatile var heapAfterGcPeakMb = 0.0

  private def add(s: Span): Unit = spans.synchronized(spans += s)
  private def newId() = nextId.getAndIncrement()

  /** A benchmark-side root span around `f`. */
  def span[A](name: String, request: String)(f: => A): A = {
    val t0 = nowMs
    try f finally add(Span(name, t0, nowMs, newId(), 0L, request))
  }

  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Boolean)]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time.toDouble)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(t =>
        add(Span("job", t, e.time.toDouble, newId(), 0L, "")))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = e.stageInfo.submissionTime.getOrElse(0L).toDouble
      persisted.synchronized(e.stageInfo.rddInfos
        .filter(_.storageLevel.isValid).foreach(r => persisted += t -> r.id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        add(Span("stage", s.toDouble, c.toDouble, newId(), 0L, ""))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.synchronized(tasks += TaskSample(e.taskInfo.finishTime.toDouble,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.inputMetrics.bytesRead))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val write = Option(s.physicalPlanDescription).exists(
          _.contains("InsertIntoHadoopFsRelationCommand"))
        sqlStarts.put(s.executionId, (s.time.toDouble, write))
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(x.executionId)).foreach { case (t, write) =>
          add(Span("sql_execution", t, x.time.toDouble, newId(), 0L, ""))
          if (write) parquetWrites.synchronized(parquetWrites += t -> x.time.toDouble)
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.endTimeMs - v.startTimeMs).toDouble }
      executions.synchronized(executions += ((nowMs, phases.toMap)))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      val heights = src.flatMap(s => for {
        a <- Option(s.startOffset).filter(_ != "null"); b <- Option(s.endOffset)
      } yield b.trim.toLong - a.trim.toLong).getOrElse(0L)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      if (heights > 0 || src.exists(_.startOffset == null)) {
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val t1 = t0 + d.getOrElse("triggerExecution", 0.0)
        epochs.synchronized(epochs += ((t0, t1, d, heights)))
        add(Span("epoch", t0, t1, newId(), 0L, ""))
      }
    }
  }

  private val gcListener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      heapAfterGcPeakMb = math.max(heapAfterGcPeakMb, after / 1048576.0)
    }
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    heapPools
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbenchaccess.Bus.drain(spark)

  /** Places every listener span under the root span whose interval
    * holds its start, and under the innermost span of a shallower kind
    * that holds it; spans outside every root are dropped.
    */
  def assign(): Seq[Span] = {
    val all = spans.synchronized(spans.toVector)
    val roots = all.filter(s => s.parent == 0L && s.request.nonEmpty)
      .sortBy(_.start)
    val starts = roots.map(_.start).toArray
    val placed = ArrayBuffer.empty[Span]
    placed ++= roots
    val inner = all.filterNot(s => s.request.nonEmpty)
      .sortBy(s => (Trace.depth(s.name), s.start))
    inner.foreach { s =>
      val i = java.util.Arrays.binarySearch(starts, s.start) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && s.start <= roots(i).end) {
        val root = roots(i)
        val enclosing = placed.filter(p => p.request == root.request &&
          Trace.depth(p.name) < Trace.depth(s.name) &&
          p.start <= s.start && s.start <= p.end)
        val par = if (enclosing.isEmpty) root
          else enclosing.maxBy(p => (Trace.depth(p.name), p.start))
        s.request = root.request
        s.parent = par.id
        placed += s.copy(start = math.max(s.start, par.start),
          end = math.min(s.end, par.end))
      }
    }
    placed.toVector
  }
}

object Trace {
  /** Nesting order of span kinds: a deeper kind runs inside a shallower. */
  def depth(name: String): Int = name match {
    case "epoch" => 1
    case "sql_execution" => 2
    case "job" => 3
    case "stage" => 4
    case _ => 0
  }

  /** Blocking-path self time per span kind over one root: every instant
    * of the root goes to the deepest span open at that instant (the
    * latest-started among equals), so the parts sum to the root's wall.
    */
  def selfTimes(root: Span, members: Seq[Span]): Map[String, Double] = {
    val ss = (root +: members).filter(s => s.end > s.start)
    val cuts = ss.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val acc = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = ss.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (depth(s.name), s.start))
          acc(top.name) += b - a
        }
      case _ =>
    }
    acc.toMap
  }

  /** Wall time covered by the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
