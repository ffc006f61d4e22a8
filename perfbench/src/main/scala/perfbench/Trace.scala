package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative job/stage/task counters fed by one SparkListener. Spans
  * read them as differences between their open and close snapshots.
  */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  /** (stageId, launch ms, finish ms) of every finished task. */
  private val taskTimes = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
    taskTimes += ((e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  def snapshot: Snap = synchronized {
    Snap(jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, gcMs, taskTimes.size)
  }
  def tasksSince(from: Int): Seq[(Int, Long, Long)] = synchronized {
    taskTimes.slice(from, taskTimes.size).toSeq
  }
}

final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, cpuNs: Long, gcMs: Long, taskIndex: Int)

/** One closed span: a call into a layer, timed from the harness. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    wallS: Double, processCpuS: Double, jobs: Long, stages: Long, tasks: Long,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    executorCpuS: Double, taskGcS: Double, jvmGcS: Double, heapPeakMb: Double,
    driverIdleShare: Double, stageSkew: Double, costliestStageTasks: Long) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> startMs,
    "wall_s" -> wallS, "process_cpu_s" -> processCpuS, "jobs" -> jobs,
    "stages" -> stages, "tasks" -> tasks, "shuffle_read_mb" -> shuffleReadMb,
    "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
    "executor_cpu_s" -> executorCpuS, "task_gc_s" -> taskGcS,
    "jvm_gc_s" -> jvmGcS, "heap_peak_mb" -> heapPeakMb,
    "driver_idle_share" -> driverIdleShare, "stage_skew" -> stageSkew,
    "costliest_stage_tasks" -> costliestStageTasks)
}

/** Process-level clocks shared by traced and untraced runs. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def processCpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = gcBeans.map(_.getCollectionTime).sum / 1e3
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Records spans in memory; written out once the run ends. Spans nest
  * through an explicit stack, so a span's parent is the span open
  * around it.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new SparkCounters
  spark.sparkContext.addSparkListener(counters)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val t0Ms = System.currentTimeMillis()

  def spans: Seq[Span] = closed.toSeq

  def detach(): Unit = spark.sparkContext.removeSparkListener(counters)

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    ListenerBusDrain(spark.sparkContext)
    val before = counters.snapshot
    val (cpu0, gc0) = (Clocks.processCpuS, Clocks.gcS)
    Clocks.resetHeapPeak()
    val startMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - n0) / 1e9
      val endMs = System.currentTimeMillis()
      ListenerBusDrain(spark.sparkContext)
      val after = counters.snapshot
      val tasks = counters.tasksSince(before.taskIndex)
      val children = closed.filter(_.parent == id)
      val heap = (Clocks.heapPeakMb +: children.map(_.heapPeakMb).toSeq).max
      val (skew, stageTasks) = stageShape(tasks)
      val s = Span(id, parent, name, startMs - t0Ms, wall,
        Clocks.processCpuS - cpu0, after.jobs - before.jobs,
        after.stages - before.stages, after.tasks - before.tasks,
        mb(after.shuffleRead - before.shuffleRead),
        mb(after.shuffleWrite - before.shuffleWrite),
        mb(after.spill - before.spill), (after.cpuNs - before.cpuNs) / 1e9,
        (after.gcMs - before.gcMs) / 1e3, Clocks.gcS - gc0, heap,
        idleShare(tasks, startMs, endMs), skew, stageTasks)
      closed += s
      (out, s)
    } finally stack.pop()
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** Share of [start, end] during which no task was running. */
  private def idleShare(tasks: Seq[(Int, Long, Long)], start: Long, end: Long): Double = {
    if (end <= start) return 0.0
    var busy = 0L
    var cursor = start
    for ((_, a, b) <- tasks.sortBy(_._2)) {
      val lo = math.max(a, cursor)
      val hi = math.min(b, end)
      if (hi > lo) { busy += hi - lo; cursor = hi }
    }
    1.0 - busy.toDouble / (end - start)
  }

  /** Max/median task time of the span's costliest stage (largest summed
    * task time), and that stage's task count.
    */
  private def stageShape(tasks: Seq[(Int, Long, Long)]): (Double, Long) = {
    if (tasks.isEmpty) return (0.0, 0L)
    val byStage = tasks.groupBy(_._1).values.map(_.map(t => t._3 - t._2).sorted)
    val costliest = byStage.maxBy(_.sum)
    val median = costliest(costliest.size / 2)
    (if (median > 0) costliest.last.toDouble / median else 1.0,
      costliest.size.toLong)
  }
}
