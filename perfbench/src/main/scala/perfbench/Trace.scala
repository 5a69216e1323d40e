package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.DoubleAdder
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Per-layer counts for one traced op, summed from Spark's own events. */
final class LayerCounts {
  var jobs, stages, tasks, shortTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes, inputBytes, outputBytes = 0L
  var peakExecBytes = 0L
  var singleTaskStageMs = 0L
  var blocksEvicted = 0L
  var peakStorageBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compileMs = 0.0
  var classesCompiled = 0L
}

/** The traced run's instruments, all attached from outside the program: a
  * `SparkListener` (jobs, stages, tasks, shuffle, spill, storage blocks), a
  * `QueryExecutionListener` (Catalyst phase times from each execution's
  * `QueryPlanningTracker`), Spark's static `CodegenMetrics` (classes
  * compiled) and the code generator's own per-compile timing, read from its
  * log line. Events arrive asynchronously, so [[begin]] and [[end]] drain the
  * listener bus: everything an op caused lands in that op's counts and
  * nothing from the harness's checks does.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var current: LayerCounts = _
  private val compileMs = new DoubleAdder
  private var compilesAtBegin, compileMsAtBegin = 0.0

  // RDD blocks held in memory, to tell evictions apart and track the peak
  private val blockMem = mutable.HashMap.empty[RDDBlockId, Long]
  private var storageBytes = 0L

  private def onCurrent(f: LayerCounts => Unit): Unit = synchronized {
    val c = current
    if (c != null) f(c)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = onCurrent(_.jobs += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = onCurrent { c =>
      val s = e.stageInfo
      c.stages += 1
      if (s.numTasks == 1)
        for (a <- s.submissionTime; b <- s.completionTime) c.singleTaskStageMs += b - a
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onCurrent { c =>
      c.tasks += 1
      if (e.taskInfo.duration < 10) c.shortTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      }
    }

    // A block leaving memory while its RDD is still persisted was evicted;
    // one leaving because its RDD was unpersisted was released.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      e.blockUpdatedInfo.blockId match {
        case id: RDDBlockId =>
          val info = e.blockUpdatedInfo
          val mem = if (info.storageLevel.useMemory) info.memSize else 0L
          val before = blockMem.getOrElse(id, 0L)
          if (mem > 0) blockMem(id) = mem else blockMem.remove(id)
          storageBytes += mem - before
          val c = current
          if (c != null) {
            if (before > 0 && mem == 0 && sc.getPersistentRDDs.contains(id.rddId))
              c.blocksEvicted += 1
            c.peakStorageBytes = math.max(c.peakStorageBytes, storageBytes)
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = onCurrent { c =>
      val p = qe.tracker.phases
      def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
  }

  // "Code generated in <t> ms", logged once per compiled class
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compilePattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val codegenAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case compilePattern(t) => compileMs.add(t.toDouble)
      case _ =>
    }
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenAppender.start()
    val cfg = logContext.getConfiguration
    cfg.addAppender(codegenAppender)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(codegenAppender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    logContext.updateLoggers()
  }

  def detach(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    logContext.getConfiguration.removeLogger(codegenLogger)
    logContext.updateLoggers()
    codegenAppender.stop()
  }

  private def compiles: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  def begin(): Unit = {
    ListenerBusDrain(sc)
    synchronized {
      val c = new LayerCounts
      c.peakStorageBytes = storageBytes
      current = c
    }
    compilesAtBegin = compiles
    compileMsAtBegin = compileMs.sum
  }

  def end(): LayerCounts = {
    ListenerBusDrain(sc)
    val c = synchronized { val c = current; current = null; c }
    c.classesCompiled = (compiles - compilesAtBegin).toLong
    c.compileMs = compileMs.sum - compileMsAtBegin
    c
  }
}

/** Highest post-GC occupancy of the old generation, from the collectors'
  * notifications.
  */
final class OldGenPeak extends NotificationListener {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))
    .map(_.getName).toSet
  @volatile var peakBytes = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, usage) =>
        if (oldPools(pool)) synchronized { peakBytes = math.max(peakBytes, usage.getUsed) }
      }
    }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}
