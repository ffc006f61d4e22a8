package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NdjsonSink

/** Cost and dimension contracts of `Engine.transform` on the golden
  * fixtures (FIXTURES.md §6): a job budget per transform, no cached
  * relation left behind, and last-wins layer boroughs.
  */
class InspectorTransformSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def res(name: String): String =
    getClass.getResource(s"/inspector/$name").getPath

  private def dirs(layerBoroughs: String = res("layer-boroughs.json")) = Engine.Dirs(
    consolidated = res("consolidated.geojson"),
    toponyms = res("toponyms.geojson"),
    sheets = res("sheets.geojson"),
    layerBoroughs = layerBoroughs,
  )

  /** Jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  private def lines(d: Engine.Dirs): Map[String, Int] =
    NdjsonSink.lines(Engine.transform(spark, d)).collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length).toMap

  // Two dimension collects, a dedup shuffle and its H4 pass per phase,
  // then the write with the spatial join's stages: 11 jobs here and on
  // the 5k-building benchmark corpus.
  test("a transform to NDJSON stays within its job budget") {
    val out = Files.createTempDirectory("inspector-jobs").toString
    Engine.transformToNdjson(spark, dirs(), s"$out/warm")
    val jobs = jobsOf(Engine.transformToNdjson(spark, dirs(), s"$out/measured"))
    assert(jobs <= 11, s"transformToNdjson ran $jobs jobs, budget 11")
  }

  test("transforms leave no cached relation behind") {
    val out = Files.createTempDirectory("inspector-cache").toString
    Engine.transformToNdjson(spark, dirs(), s"$out/a")
    Engine.transformToNdjson(spark, dirs(), s"$out/b")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // layersById is a last-wins keyBy (building-inspector.js:390-392): a
  // repeated layer id must neither duplicate records nor keep the
  // first borough.
  test("a repeated layer id is last-wins and duplicates no record") {
    val lb = Files.createTempFile("layer-boroughs", ".json")
    lb.toFile.deleteOnExit()
    Files.writeString(lb,
      """[{"id":1130,"borough":"Queens"},{"id":1142,"borough":"Manhattan"},""" +
        """{"id":1130,"borough":"Brooklyn"}]""")
    val repeated = Engine.transform(spark, dirs(lb.toString))
    val dupIds = repeated.filter(col("rtype") === "object")
      .groupBy("id").count().filter(col("count") > 1).count()
    assert(dupIds == 0, "object ids are unique")
    assert(lines(dirs(lb.toString)) == lines(dirs()))
  }
}
