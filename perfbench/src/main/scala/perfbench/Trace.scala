package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for none). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans recorded in memory and written out when the run ends. A disabled
  * tracer only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { spans.size + 1 }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      synchronized { spans += Span(id, name, parent, t0, -1L) }
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans(id - 1) = spans(id - 1).copy(endNs = t1) }
      }
    }

  /** A span timed elsewhere (a streaming trigger), under the current span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(spans.size + 1, name, stack.headOption.getOrElse(0), startNs, endNs)
    }

  /** Duration in ms of the first span named `name`. */
  def ms(name: String): Double = synchronized {
    spans.find(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).getOrElse(0.0)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Spark execution counters for one scope (a micro-batch or an operator
  * call). Task times are in ms. */
final class ExecScope {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = new java.util.HashMap[Int, ArrayBuffer[Long]]()

  /** max / median task time in the stage where that ratio is largest, over
    * stages of at least two tasks; 1 when there is no such stage. */
  def skew: Double = {
    val ratios = taskMsByStage.values.asScala.filter(_.size >= 2).map { ts =>
      val med = math.max(1.0, Stats.median(ts.map(_.toDouble)))
      ts.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** A `SparkListener` that sorts jobs, tasks and task metrics into scopes:
  * a micro-batch (`batch:<query id>:<batch id>`, from Spark's job
  * properties) or the benchmark's own `perfbench.scope` property around an
  * operator call. */
final class ExecCollector extends SparkListener {
  val scopes = new ConcurrentHashMap[String, ExecScope]()
  private val stageScope = new ConcurrentHashMap[Int, String]()

  private def scopeOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId"))
        .map(b => s"batch:${p.getProperty("sql.streaming.queryId")}:$b")
        .orElse(Option(p.getProperty(ExecCollector.ScopeKey)))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    scopeOf(e.properties).foreach { s =>
      val sc = scopes.computeIfAbsent(s, _ => new ExecScope)
      sc.synchronized(sc.jobs += 1)
      e.stageIds.foreach(id => stageScope.put(id, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { s =>
      val sc = scopes.get(s)
      sc.synchronized {
        sc.tasks += 1
        sc.taskMsByStage.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]()) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          sc.cpuNs += m.executorCpuTime
          sc.gcMs += m.jvmGCTime
          sc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          sc.spillBytes += m.diskBytesSpilled
        }
      }
    }
}

object ExecCollector {
  val ScopeKey = "perfbench.scope"
}

/** Collects every `StreamingQueryProgress` of the session. */
final class ProgressCollector extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Counts generated-code compilations that failed (the code generator
  * logs each at ERROR and Spark then runs the interpreted fallback), and
  * keeps the first line of each message. Attached to the root logger. */
final class CodegenFallbackCounter
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getLoggerName.endsWith("CodeGenerator") &&
        e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR)) {
      val thrown = Option(e.getThrown).map(t => " | " + t.getMessage.linesIterator.take(1).mkString)
      messages.add(e.getMessage.getFormattedMessage.linesIterator.take(1).mkString +
        thrown.getOrElse(""))
    }

  def count: Int = messages.size
}

object CodegenFallbackCounter {
  def attach(): CodegenFallbackCounter = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new CodegenFallbackCounter
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

/** Peak heap in use: the heap occupancy just before each garbage
  * collection, from the collectors' notifications, and the current use. */
final class HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (before > peak) peak = before }
    }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = Heap.usedBytes() }

  def peakBytes: Long = synchronized(math.max(peak, Heap.usedBytes()))

  def close(): Unit =
    beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
}

object Heap {
  val MB = 1024.0 * 1024.0

  def usedBytes(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Heap in use after forced full collections. Spark's context cleaner
    * frees broadcast and shuffle blocks asynchronously once a collection
    * has queued their references, so collect until the figure settles. */
  def retainedBytes(): Long = {
    var last = Long.MaxValue
    var now = { System.gc(); usedBytes() }
    var rounds = 0
    while (rounds < 10 && last - now > (1L << 20)) {
      Thread.sleep(200)
      last = now
      System.gc()
      now = usedBytes()
      rounds += 1
    }
    now
  }
}
