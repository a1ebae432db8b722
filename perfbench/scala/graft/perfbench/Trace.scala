package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span on the
  * same thread (0 at the top); `op` groups the spans of one request
  * or row. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Long, end: Long)

/** In-memory span recorder. Off (the untraced runs) it is a plain call:
  * no clock reads, no allocation. Spans are written out when the run
  * ends, never during it. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Durations (ms) of every span with this name, in start order. */
  def ms(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.end - s.start) / 1e6)
}

/** Scheduler, scan and shuffle counters from the listener bus, plus the
  * op each job was tagged with (the `perfbench.op` local property). */
final class Counters extends SparkListener {
  val jobs, stages, tasks, busyMs, inputBytes, inputRows,
    shuffleBytes, spillBytes = new LongAdder
  private val opJobs = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Counters.OpKey))).getOrElse("-")
    opJobs.computeIfAbsent(op, _ => new LongAdder).increment()
  }

  /** Jobs so far per `perfbench.op` tag ("-" for untagged jobs, such as
    * those the HTTP server's own threads start). */
  def jobsByOp: Map[String, Long] = opJobs.asScala.map { case (k, v) => k -> v.sum }.toMap

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.add(m.executorRunTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRows.add(m.inputMetrics.recordsRead)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    Map("jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "busy_ms" -> busyMs.sum, "input_bytes" -> inputBytes.sum,
      "input_rows" -> inputRows.sum, "shuffle_bytes" -> shuffleBytes.sum,
      "spill_bytes" -> spillBytes.sum)
  }
}

object Counters {
  val OpKey = "perfbench.op"

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** JVM-wide figures: GC time and heap peak since [[reset]], and the
  * block-store and pinned-RDD high-water marks sampled by [[sample]]. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}

  private var gcBase = 0L
  @volatile var pinsMax = 0
  @volatile var blockMemMaxBytes = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def reset(): Unit = {
    gcBase = gcMs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    pinsMax = 0
    blockMemMaxBytes = 0L
  }

  def gcSeconds: Double = (gcMs - gcBase) / 1e3

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  def sample(sc: SparkContext): Unit = synchronized {
    pinsMax = math.max(pinsMax, sc.getPersistentRDDs.size)
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum
    blockMemMaxBytes = math.max(blockMemMaxBytes, used)
  }
}
