package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener events. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def ms(): Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** A timed interval recorded by the benchmark around its own calls. */
final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double = Double.NaN)

final class Spans {
  val all = ArrayBuffer.empty[Span]
  def open(name: String, parent: Int): Span = {
    val s = Span(all.length, parent, name, Clock.ms())
    all += s
    s
  }
  def close(s: Span): Span = { s.end = Clock.ms(); s }
  def add(name: String, parent: Int, start: Double, end: Double): Span = {
    val s = Span(all.length, parent, name, start, end)
    all += s
    s
  }
}

/** One garbage collection, from the JVM's GC notifications. */
final case class GcEvent(collector: String, start: Double, durationMs: Double, heapAfter: Long) {
  /** G1's concurrent cycle is reported but does not stop the application. */
  def isPause: Boolean = !collector.contains("Concurrent")
}

/** Always on (heap_peak_mb is an end-to-end metric): records every GC with
  * the heap in use right after it. */
final class GcMonitor extends NotificationListener {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val events = ArrayBuffer.empty[GcEvent]

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val gc = info.getGcInfo
      val after = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized {
        events += GcEvent(info.getGcName, jvmStart + gc.getStartTime, gc.getDuration.toDouble, after)
      }
    }

  def snapshot(): Vector[GcEvent] = synchronized(events.toVector)
}

/** Task totals for one Spark stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
  var durSum = 0.0
  var durMax = 0.0
}

final case class JobRec(id: Int, submit: Double, stages: Seq[Int], var end: Double = Double.NaN)

/** The benchmark's Spark listener (traced runs only): jobs, per-stage task
  * totals and RDD storage changes, held in memory. Events are kept only
  * while `recording` is on, that is during traced jobs. */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageAgg]
  /** (arrival time, total bytes of cached RDD blocks after the update) */
  val storage = ArrayBuffer.empty[(Double, Long)]
  private val blockBytes = scala.collection.mutable.Map.empty[(Int, Int), Long] // (rdd, split)
  private var stored = 0L
  @volatile var lastEvent: Double = Clock.ms()
  @volatile var recording = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) jobs += JobRec(e.jobId, e.time.toDouble, e.stageIds)
    lastEvent = Clock.ms()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    lastEvent = Clock.ms()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && jobs.exists(_.stages.contains(e.stageId))) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.resultBytes += m.resultSize
      val d = e.taskInfo.duration.toDouble
      a.durSum += d
      a.durMax = math.max(a.durMax, d)
    }
    lastEvent = Clock.ms()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    // tracked in untraced jobs too: the running total must stay exact
    b.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, id.splitIndex)
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      stored += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      storage += ((Clock.ms(), stored))
    }
    lastEvent = Clock.ms()
  }

  /** Unpersisting an RDD drops its blocks without block-update events. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blockBytes.keys.filter(_._1 == e.rddId).toList
    if (gone.nonEmpty) {
      gone.foreach(k => stored -= blockBytes.remove(k).getOrElse(0L))
      storage += ((Clock.ms(), stored))
    }
    lastEvent = Clock.ms()
  }

  /** Listener events arrive asynchronously: wait until none has arrived for
    * a while (bounded), so the job and task totals are complete. */
  def drain(quietMs: Double = 300, maxMs: Double = 5000): Unit = {
    val t0 = Clock.ms()
    while (Clock.ms() - lastEvent < quietMs && Clock.ms() - t0 < maxMs) Thread.sleep(20)
  }

  /** Peak cached-RDD bytes seen in [t0, t1]. */
  def peakStored(t0: Double, t1: Double): Long = synchronized {
    val before = storage.takeWhile(_._1 < t0).lastOption.map(_._2).getOrElse(0L)
    storage.iterator.filter(s => s._1 >= t0 && s._1 <= t1).map(_._2).foldLeft(before)(math.max)
  }
}
