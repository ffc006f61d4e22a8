package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.Engine
import graft.operators.InspectorPipeline
import graft.sources.{GeoJson, NdjsonSink}

/** The paper's dataflow: `Engine.transformToNdjson` from GeoJSON landing
  * files to tagged NDJSON, written to a fresh directory on every pass.
  */
final class TransformWorkload(data: String, work: String, expect: Map[String, Any])
    extends Workload {
  private val dirs = Engine.Dirs(
    s"$data/consolidated.geojson", s"$data/toponyms.geojson",
    s"$data/sheets.geojson", s"$data/layer-boroughs.json")
  private var lastCounts = Map.empty[String, Long]
  private var lastOut: Path = _
  private var features: DataFrame = _

  private def out(label: String): String = s"$work/ndjson/$label"

  private def transform(spark: SparkSession, label: String): Op = {
    val dir = out(label)
    Harness.attempt("transform")(Engine.transformToNdjson(spark, dirs, dir))(_ => check(dir))
  }

  def warmup(spark: SparkSession): Seq[Op] = Seq(transform(spark, "warmup"))
  def pass(spark: SparkSession, label: String): Seq[Op] = Seq(transform(spark, label))

  def tracedPass(spark: SparkSession, tracer: Tracer, label: String): Seq[Op] = {
    val dir = out(label)
    def kept(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    def read(name: String)(df: => DataFrame): DataFrame =
      tracer.span(s"sources.geojson_read.$name")(kept(df))._1
    val op = Harness.attempt("transform") {
      tracer.span("transform") {
        val (cons, topo, sheets, layers) = tracer.span("sources.geojson_read") {
          (read("consolidated")(GeoJson.consolidated(spark, dirs.consolidated)),
            read("toponyms")(GeoJson.toponyms(spark, dirs.toponyms)),
            read("sheets")(GeoJson.sheets(spark, dirs.sheets)),
            read("layer_boroughs")(GeoJson.layerBoroughs(spark, dirs.layerBoroughs)))
        }._1
        features = cons
        val built = tracer.span("operators.inspector_consolidated") {
          val c = InspectorPipeline.consolidated(spark, cons, sheets, layers)
          InspectorPipeline.ConsolidatedOut(kept(c.records), kept(c.indexedBuildings))
        }._1
        val toponyms = tracer.span("operators.inspector_toponyms") {
          kept(InspectorPipeline.toponyms(spark, topo, sheets, layers, built.indexedBuildings))
        }._1
        tracer.span("sources.ndjson_sink") {
          NdjsonSink.write(built.records.unionByName(toponyms), dir)
        }
      }
    }(_ => check(dir))
    Seq(op)
  }

  def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val spans = tracer.spans.map(s => s.name -> s).toMap
    val pass = spans("transform")
    val dropped = features.count() - features.select(col("feature.properties.id")).distinct().count()
    spark.catalog.clearCache()
    val inputMb = Seq(dirs.consolidated, dirs.toponyms, dirs.sheets, dirs.layerBoroughs)
      .map(p => Files.size(Paths.get(p))).sum / 1048576.0
    val parts = partFiles(lastOut)
    def n(key: String): Double = lastCounts.getOrElse(key, 0L).toDouble
    Common.sparkMetrics(pass, Seq(pass)) ++ Map(
      "sources.geojson_read_s" -> spans("sources.geojson_read").wallS,
      "sources.geojson_read_tasks" -> spans("sources.geojson_read.consolidated").costliestStageTasks.toDouble,
      "sources.geojson_input_mb" -> inputMb,
      "sources.ndjson_sink_s" -> spans("sources.ndjson_sink").wallS,
      "sources.ndjson_mb_written" -> parts.map(Files.size(_)).sum / 1048576.0,
      "sources.ndjson_files" -> parts.size.toDouble,
      "operators.inspector_consolidated_s" -> spans("operators.inspector_consolidated").wallS,
      "operators.inspector_consolidated_shuffle_mb" ->
        spans("operators.inspector_consolidated").shuffleWriteMb,
      "operators.inspector_dedup_dropped" -> dropped.toDouble,
      "operators.inspector_toponyms_s" -> spans("operators.inspector_toponyms").wallS,
      "operators.inspector_spatial_task_skew" -> spans("operators.inspector_toponyms").stageSkew,
      "operators.inspector_sameas" -> n("relation:st:sameAs"),
      "operators.inspector_no_match_logs" -> n("log:no_match"),
      "operators.inspector_no_index_logs" -> n("log:no_index"),
      "operators.inspector_no_borough_logs" -> n("log:no_borough"),
    )
  }

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted

  /** Compares the written NDJSON with the generator's expectations: line
    * counts per record type, relation type and log reason, and the
    * SHA-256 of the sorted lines. Keeps only the latest output.
    */
  private def check(dir: String): Option[String] = {
    val path = Paths.get(dir)
    val lines = partFiles(path)
      .flatMap(p => Files.readAllLines(p, StandardCharsets.UTF_8).asScala).toArray
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val sha = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => sha.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    val digest = sha.digest().map("%02x".format(_)).mkString
    val counts = TransformWorkload.classify(lines)
    if (lastOut != null && lastOut != path) Common.deleteTree(lastOut)
    lastOut = path
    lastCounts = counts
    val want = expect("counts").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toLong }
    if (counts != want) Some(s"NDJSON counts $counts != expected $want")
    else if (digest != expect("sorted_sha256")) Some(s"NDJSON digest $digest != expected")
    else None
  }
}

object TransformWorkload {
  private val LogReasons = Seq(
    "Can't find borough for layer " -> "no_borough",
    "Can't find building for toponym " -> "no_match",
    "Error computing intersection for toponym " -> "no_index")
  private val Tag = "^\\{\"type\":\"(object|relation|log)\",\"obj\":".r
  private val RelType = "\"type\":\"([^\"]*)\"\\}\\}$".r.unanchored
  private val ObjType = "^\\{\"type\":\"object\",\"obj\":\\{\"id\":\"[^\"]*\",\"type\":\"([^\"]*)\"".r.unanchored
  private val LogError = "\"error\":\"([^\"]*)\"".r.unanchored

  /** Counts lines per record type and per sub-kind. Keys match the
    * generator's `counts`.
    */
  def classify(lines: Array[String]): Map[String, Long] = {
    val keys = lines.iterator.flatMap { l =>
      Tag.findFirstMatchIn(l).map(_.group(1)) match {
        case Some("object") =>
          Seq("object", "object:" + (l match { case ObjType(t) => t; case _ => "?" }))
        case Some("relation") =>
          Seq("relation", "relation:" + (l match { case RelType(t) => t; case _ => "?" }))
        case Some("log") =>
          val reason = l match {
            case LogError(e) => LogReasons.collectFirst { case (p, k) if e.startsWith(p) => k }
            case _ => None
          }
          Seq("log", "log:" + reason.getOrElse("other"))
        case _ => Seq("unparsed")
      }
    }
    keys.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }
}
