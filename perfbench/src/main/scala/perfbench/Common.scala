package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

object Common {

  /** The `spark.*` and `jvm.*` layer metrics of one traced pass, whose
    * operations are the spans `ops`.
    */
  def sparkMetrics(pass: Span, ops: Seq[Span]): Map[String, Double] = {
    val opWall = ops.map(_.wallS).sum
    Map(
      "spark.jobs" -> pass.jobs.toDouble,
      "spark.stages" -> pass.stages.toDouble,
      "spark.tasks" -> pass.tasks.toDouble,
      "spark.shuffle_read_mb" -> pass.shuffleReadMb,
      "spark.shuffle_write_mb" -> pass.shuffleWriteMb,
      "spark.spill_mb" -> pass.spillMb,
      "spark.executor_cpu_s" -> pass.executorCpuS,
      "spark.gc_s" -> pass.taskGcS,
      "spark.jobs_per_query" -> ops.map(_.jobs).sum.toDouble / ops.size,
      "spark.driver_idle_share" ->
        (if (opWall > 0) ops.map(o => o.driverIdleShare * o.wallS).sum / opWall else 0.0),
      "jvm.heap_peak_mb" -> pass.heapPeakMb,
      "jvm.gc_s" -> pass.jvmGcS,
    )
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
