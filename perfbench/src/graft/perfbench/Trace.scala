package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics folded for one span (its own jobs, not its children's). */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L // executor run time, summed over tasks
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** stage id -> task durations (ms), for the dominant stage's skew */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: SpanStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max ÷ median task time of the stage with the most task time; 1.0
    * when no stage ran more than one task. */
  def taskSkew: Double = {
    val multi = stageTaskMs.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).sorted
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, allocBytes: Long, gcMs: Long,
    storageStartBytes: Long, storageEndBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call into a layer, and a `SparkListener` that folds
  * task metrics per span through job groups. Storage (persisted block)
  * tracking is always on: it backs `cache_peak_mb` in untraced runs
  * too. With `enabled = false`, `span` only runs its body. */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false

  private val GroupPrefix = "perfbench-"
  private val stats = new java.util.concurrent.ConcurrentHashMap[Int, SpanStats]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val blockMem = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val storageNow = new java.util.concurrent.atomic.AtomicLong(0L)
  private val storagePeak = new java.util.concurrent.atomic.AtomicLong(0L)

  private def spanOf(props: java.util.Properties): Int = {
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    if (g != null && g.startsWith(GroupPrefix))
      g.substring(GroupPrefix.length).toInt
    else -1
  }
  private def statsOf(id: Int): SpanStats =
    stats.computeIfAbsent(id, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      if (id >= 0) statsOf(id).synchronized { statsOf(id).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = spanOf(e.properties)
      if (id >= 0) {
        stageSpan.put(e.stageInfo.stageId, id)
        statsOf(id).synchronized { statsOf(id).stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (id >= 0 && m != null) {
        val s = statsOf(id)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      val old = Option(blockMem.put(key, mem)).getOrElse(0L)
      val now = storageNow.addAndGet(mem - old)
      storagePeak.accumulateAndGet(now, (a, b) => math.max(a, b))
    }
  }
  sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val a0 = Jvm.allocatedBytes(); val g0 = Jvm.gcMs(); val m0 = storageNow.get()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + stack.head, "", interruptOnCancel = false)
      spans += Span(id, name, parent, runId, t0, t1,
        Jvm.allocatedBytes() - a0, Jvm.gcMs() - g0, m0, storageNow.get())
    }
  }

  /** Waits for the listener bus, so every finished task is counted. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Stats of span `id` plus all its descendants. */
  def inclusive(id: Int): SpanStats = {
    val out = new SpanStats
    val ids = mutable.Set(id)
    spans.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    ids.foreach(i => Option(stats.get(i)).foreach(out.add))
    out
  }

  def storagePeakBytes: Long = storagePeak.get()
  def storageBytes: Long = storageNow.get()
  def resetPeak(): Unit = storagePeak.set(storageNow.get())
}

object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the live threads (executor task threads
    * are pooled, so they outlive the spans that use them). */
  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      t += math.max(0L, b.getCollectionTime) }
    t
  }
}
