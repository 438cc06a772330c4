package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark scheduler did inside one measurement window. */
final case class ExecWindow(
    wallS: Double, threads: Int, tasks: Int, jobs: Int, stages: Int,
    busyS: Double, cpuS: Double, gcS: Double, idleS: Double,
    taskMsP50: Double, taskMsMax: Double, stageSkew: Double,
    inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
    cachePeakMb: Double, cacheDiskMb: Double) {
  def busyFrac: Double = if (wallS > 0) busyS / (wallS * threads) else 0.0
  def counters: Map[String, Double] = Map("tasks" -> tasks, "jobs" -> jobs, "stages" -> stages,
    "busy_s" -> busyS, "cpu_s" -> cpuS, "gc_s" -> gcS, "idle_s" -> idleS,
    "input_bytes" -> inputBytes.toDouble, "shuffle_bytes" -> shuffleBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble)
}

private final case class TaskEnd(stage: Int, launch: Long, finish: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, in: Long, shuffleW: Long, spill: Long)

/** Task, stage, job and cache-block counters, collected by a listener the
  * benchmark registers itself. `open` starts a window, `close` drains the
  * listener bus and summarises the window. */
final class ExecCounters(sc: SparkContext, threads: Int) extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[TaskEnd]
  private var jobs = 0
  private var stages = 0
  // rdd id -> partition -> (memory, disk) bytes of its cached blocks
  private val blocks = mutable.Map.empty[Int, mutable.Map[Int, (Long, Long)]]
  private var peakMem = 0L
  private var peakDisk = 0L
  private var t0 = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskEnd(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    // the largest cached dataset, not the sum over datasets: the previous
    // pass's cache is dropped asynchronously and may overlap the next one
    b.blockId.asRDDId.foreach { id =>
      val parts = blocks.getOrElseUpdate(id.rddId, mutable.Map.empty)
      if (b.storageLevel.isValid) parts(id.splitIndex) = (b.memSize, b.diskSize)
      else parts.remove(id.splitIndex)
      peakMem = math.max(peakMem, parts.valuesIterator.map(_._1).sum)
      peakDisk = math.max(peakDisk, parts.valuesIterator.map(_._2).sum)
      if (parts.isEmpty) blocks.remove(id.rddId)
    }
  }

  def open(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      tasks.clear(); jobs = 0; stages = 0; peakMem = 0L; peakDisk = 0L
      t0 = System.currentTimeMillis()
    }
  }

  def close(): ExecWindow = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val t1 = System.currentTimeMillis()
      val ms = tasks.map(_.runMs.toDouble).sorted
      // time with no task running: planning, scheduling, result handling
      var covered = 0L
      var end = t0
      tasks.sortBy(_.launch).foreach { t =>
        val s = math.max(t.launch, end)
        if (t.finish > s) { covered += t.finish - s; end = t.finish }
      }
      val skew = tasks.groupBy(_.stage).valuesIterator.filter(_.size > 1).map { ts =>
        val d = ts.map(_.runMs.toDouble).sorted
        d.last / math.max(Stats.median(d), 1.0)
      }.maxOption.getOrElse(1.0)
      ExecWindow((t1 - t0) / 1e3, threads, tasks.size, jobs, stages,
        tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.gcMs).sum / 1e3,
        math.max(0L, t1 - t0 - covered) / 1e3,
        Stats.median(ms), ms.lastOption.getOrElse(0.0), skew,
        tasks.map(_.in).sum, tasks.map(_.shuffleW).sum, tasks.map(_.spill).sum,
        peakMem / 1048576.0, peakDisk / 1048576.0)
    }
  }
}

/** Wall time of each file write, keyed by the last element of its output
  * path (`sink_all`, `agg_counts`, ...). */
final class WriteTimes extends QueryExecutionListener {
  val seconds = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val path = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
    }
    path.foreach(p => synchronized {
      seconds.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += durationNs / 1e9
    })
  }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
}

/** JVM-side readings: JIT compile time, GC time, and the heap in use just
  * after each collection (the live set plus what the collector kept). */
object Jvm {
  private val comp = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val runtime = ManagementFactory.getRuntimeMXBean
  @volatile private var heapAfterGcPeak = 0L
  @volatile private var since = 0L

  def jitMs: Long = comp.getTotalCompilationTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum

  def install(): Unit = gcs.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            // notifications arrive late: count only collections that
            // started after the last reset
            synchronized {
              if (info.getGcInfo.getStartTime >= since && used > heapAfterGcPeak) heapAfterGcPeak = used
            }
          }
      }, null, null)
    case _ =>
  }

  /** Collect the garbage earlier passes left in the old generation, then
    * start a new peak: what the next pass adds is measured from a clean
    * heap, not from wherever the collector's cycle happened to be. */
  def resetHeapPeak(): Unit = {
    System.gc()
    synchronized { heapAfterGcPeak = 0L; since = runtime.getUptime }
  }
  def heapPeakMb: Double = heapAfterGcPeak / 1048576.0
}

/** One traced interval with the execution counters of its window. Spans
  * of one run share `run`; `parent` names the prefix a layer extends. */
final case class Span(name: String, parent: String, run: String, startNs: Long, endNs: Long,
    counters: Map[String, Double])

final class Spans(run: String, ec: ExecCounters) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  /** Run `body` inside a counter window and keep its span. */
  def record[A](name: String, parent: String)(body: => A): (A, Span, ExecWindow) = {
    ec.open()
    val s = System.nanoTime()
    val a = body
    val e = System.nanoTime()
    val win = ec.close()
    val sp = Span(name, parent, run, s, e, win.counters)
    buf += sp
    (a, sp, win)
  }

  def all: Seq[Span] = buf.toSeq
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
