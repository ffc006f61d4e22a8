package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation a user submits (a catalogue query or one transform):
  * the wall and process CPU of its timed part, and its error if it threw
  * or its output failed the check.
  */
final case class Op(name: String, wallS: Double, cpuS: Double, error: Option[String]) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "wall_s" -> wallS, "cpu_s" -> cpuS, "error" -> error.orNull)
}

/** One pass of a workload. Its wall and CPU are the sums over its
  * operations, so output checks between operations are not counted.
  */
final case class Pass(ops: Seq[Op], traced: Boolean) {
  def wallS: Double = ops.map(_.wallS).sum
  def cpuS: Double = ops.map(_.cpuS).sum
  def toMap: Map[String, Any] = Map("wall_s" -> wallS, "cpu_s" -> cpuS,
    "traced" -> traced, "ops" -> ops.map(_.toMap))
}

trait Workload {
  /** The untimed warm-up pass that ends the set-up; checked like any pass. */
  def warmup(spark: SparkSession): Seq[Op]
  /** One measured pass; every result is fully materialized and checked. */
  def pass(spark: SparkSession, label: String): Seq[Op]
  /** The same work, split into one span per layer call. */
  def tracedPass(spark: SparkSession, tracer: Tracer, label: String): Seq[Op]
  /** Per-layer metrics of the traced pass, from its spans. */
  def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double]
}

/** Closed-loop, single-client benchmark harness. Usage (see run.py):
  *
  * {{{
  * Harness --workload W --data DIR --work DIR --expect FILE --result FILE
  *         --seconds S --trace 0|1
  * Harness --dump-oracle FILE --workload W
  * }}}
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    opts.get("dump-oracle") match {
      case Some(file) => dumpOracle(workload, file)
      case None => run(workload, opts)
    }
  }

  private def dumpOracle(workload: String, file: String): Unit = {
    val sql = Catalogue.queries(workload).map(q => q.name -> q.oracle.orNull).toMap
    write(Paths.get(file), Map("queries" -> Catalogue.queries(workload).map(_.name),
      "oracle_sql" -> sql))
  }

  private def write(path: Path, value: Any): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter.writeValueAsString(value))
  }

  private def readJson(path: String): Map[String, Any] =
    mapper.readValue(Files.readString(Paths.get(path)), classOf[Map[String, Any]])

  private def newSession(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.exprs.register(spark)
    spark
  }

  private def run(name: String, opts: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (data, work) = (opts("data"), opts("work"))
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val expect = readJson(opts("expect"))
    val workload: Workload = name match {
      case "transform" => new TransformWorkload(data, work, expect)
      case other => new CatalogueWorkload(Catalogue.queries(other), data, expect)
    }

    // set-up: JVM start to a warmed session
    val spark = newSession(work)
    val warmOps = workload.warmup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val passes = mutable.ArrayBuffer.empty[Pass]
    var layer = Map.empty[String, Double]
    var spans = Seq.empty[Span]
    val m0 = System.nanoTime()
    if (!traced) {
      // at least three passes: the first after the warm-up is still
      // slowed by JIT compilation, so the median is a later pass.
      // `--seconds 0` runs the set-up only.
      while (seconds > 0 && (passes.size < 3 || (System.nanoTime() - m0) / 1e9 < seconds))
        passes += Pass(workload.pass(spark, s"pass-${passes.size}"), traced = false)
    } else {
      // one untraced pass, then the traced pass: their difference is
      // the tracing overhead
      val plain = Pass(workload.pass(spark, "pass-untraced"), traced = false)
      val tracer = new Tracer(spark)
      val tracedPass = Pass(workload.tracedPass(spark, tracer, "pass-traced"), traced = true)
      passes ++= Seq(plain, tracedPass)
      layer = workload.layerMetrics(spark, tracer) ++ Map(
        "trace.untraced_wall_s" -> plain.wallS,
        "trace.traced_wall_s" -> tracedPass.wallS,
        "trace.overhead_share" -> (tracedPass.wallS / plain.wallS - 1.0))
      spans = tracer.spans
      tracer.detach()
    }
    spark.stop()

    val allOps = warmOps ++ passes.flatMap(_.ops)
    write(Paths.get(opts("result")), Map(
      "workload" -> name,
      "trace" -> traced,
      "jvm" -> Map(
        "java_version" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "cpus" -> Runtime.getRuntime.availableProcessors(),
        "shuffle_partitions" -> Runtime.getRuntime.availableProcessors(),
        "spark_local_dir" -> s"$work/spark-local",
        "graft_settings" -> (
          sys.env.filter(_._1.startsWith("SPARK_GRAFT_")) ++
            sys.props.toMap.filter(_._1.startsWith("graft.")))),
      "setup_s" -> setupS,
      "warmup_ops" -> warmOps.map(_.toMap),
      "passes" -> passes.map(_.toMap),
      "attempted" -> allOps.size,
      "failed" -> allOps.count(_.error.isDefined),
      "failures" -> allOps.filter(_.error.isDefined).map(_.toMap),
      "layer" -> layer,
      "spans" -> spans.map(_.toMap),
    ))
  }

  /** Runs `timed` as one operation, then `check` on its result outside
    * the timing. A throw from either becomes the operation's error.
    */
  def attempt[T](name: String)(timed: => T)(check: T => Option[String]): Op = {
    val (cpu0, n0) = (Clocks.processCpuS, System.nanoTime())
    val out =
      try Right(timed)
      catch { case e: Throwable => Left(message(e)) }
    val (wall, cpu) = ((System.nanoTime() - n0) / 1e9, Clocks.processCpuS - cpu0)
    val err = out match {
      case Left(m) => Some(m)
      case Right(v) => try check(v) catch { case e: Throwable => Some(message(e)) }
    }
    Op(name, wall, cpu, err)
  }

  private def message(e: Throwable): String = e.toString.takeWhile(_ != '\n').take(300)
}
