package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 streaming GeoJSON source must yield the same features, in
  * the same ingest order, as Spark's built-in multiLine JSON reader of
  * the whole document.
  */
class GeoJsonV2Spec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark's own whole-document read: one multiLine task, features
    * exploded by position.
    */
  private def builtIn(path: String, feature: StructType) =
    spark.read
      .schema(StructType(Seq(
        StructField("type", StringType),
        StructField("features", ArrayType(feature)))))
      .option("multiLine", value = true)
      .json(path)
      .select(posexplode(col("features")).as(Seq("ingest_order", "feature")))

  /** (ingest_order, feature as JSON) in ingest order. */
  private def rows(df: DataFrame): Array[(Long, String)] =
    df.orderBy("ingest_order")
      .select(col("ingest_order").cast("long"), to_json(col("feature")))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  test("v2 source matches the multiLine reader on the fixture, in order") {
    val path = getClass.getResource("/inspector/consolidated.geojson").getPath
    val v2 = spark.read.format("geojson").load(path)
      .select(col("ingest_order"),
        from_json(col("feature_json"), GeoJson.consolidatedFeatureSchema).as("feature"))
    val expected = rows(builtIn(path, GeoJson.consolidatedFeatureSchema))
    assert(expected.nonEmpty && rows(v2).sameElements(expected))
    assert(rows(GeoJson.consolidated(spark, path)).sameElements(expected))

    // one partition per file below the chunk threshold
    assert(v2.rdd.getNumPartitions == 1)
    val both = spark.read.format("geojson").load(s"$path,$path")
    assert(both.rdd.getNumPartitions == 2)
    assert(both.count() == 2 * expected.length)
  }

  test("a landing file of thousands of features reads on every core, in exact order") {
    val n = 5000
    val features = (0 until n).map { i =>
      s"""{"type":"Feature","properties":{"sheet_id":${i % 37},"consensus":"t$i"},""" +
        s""""geometry":{"type":"Point","coordinates":[-73.${1000 + i}1,40.${i % 97}5]}}"""
    }
    val f = java.io.File.createTempFile("graft-landing", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath,
        s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}""")
      val read = GeoJson.toponyms(spark, f.getPath)
      assert(read.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
      val got = rows(read)
      assert(got.map(_._1).sameElements(0L until n.toLong))
      assert(got.sameElements(rows(builtIn(f.getPath, GeoJson.toponymFeatureSchema))))
    } finally f.delete()
  }

  // from_json captures a raw subtree by re-printing its tokens, so a
  // float literal comes out in its shortest round-trip form — as the
  // reference's JSON.parse + JSON.stringify prints it — where Spark's
  // whole-file reader would keep the landing file's bytes.
  test("raw coordinates print float literals in shortest round-trip form") {
    val f = java.io.File.createTempFile("graft-literals", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath,
        """{"type":"FeatureCollection","features":[{"type":"Feature",""" +
          """"properties":{"sheet_id":1,"consensus":"a"},""" +
          """"geometry":{"type":"Point","coordinates":[-73.1000,40,1.5e2]}}]}""")
      val coords = GeoJson.toponyms(spark, f.getPath)
        .select(col("feature.geometry.coordinates")).head().getString(0)
      assert(coords == "[-73.1,40,150.0]")
      val verbatim = builtIn(f.getPath, GeoJson.toponymFeatureSchema)
        .select(col("feature.geometry.coordinates")).head().getString(0)
      assert(verbatim == "[-73.1000,40,1.5e2]")
    } finally f.delete()
  }

  test("a file above chunkBytes splits into byte-range tasks with exact rows") {
    // Synthesize a "big" FeatureCollection with mixed formatting:
    // pretty-printed whitespace, braces/commas inside string values —
    // the inputs a naive brace-resync would misparse.
    val n = 500
    val features = (0 until n).map { i =>
      val name = s"""block {$i}, "quoted", [brace]"""
      s"""{ "type": "Feature",
         |  "properties": {"id": "f$i", "name": ${jsonStr(name)}, "idx": $i},
         |  "geometry": {"type": "Point", "coordinates": [${i % 180}.5, 40.$i]} }""".stripMargin
    }
    val doc = s"""{"type": "FeatureCollection",
                 |"features": [
                 |${features.mkString(",\n")}
                 |]}""".stripMargin
    val f = java.io.File.createTempFile("graft-big", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath, doc)
      val whole = spark.read.format("geojson").load(f.getPath)
      val split = spark.read.format("geojson")
        .option("chunkBytes", "4096").load(f.getPath)
      assert(split.rdd.getNumPartitions > 4,
        s"expected many byte-range tasks, got ${split.rdd.getNumPartitions}")
      assert(whole.rdd.getNumPartitions == 1)
      // identical rows AND identical per-file ingest_order
      val a = whole.orderBy("ingest_order").collect().map(r => (r.getLong(1), r.getString(2)))
      val b = split.orderBy("ingest_order").collect().map(r => (r.getLong(1), r.getString(2)))
      assert(a.length == n && b.length == n)
      assert(a.sameElements(b))
      assert(b.map(_._1).sameElements(0L until n.toLong))
      // feature payloads survive byte-exact re-serialization checks
      assert(b(7)._2.contains("\"id\":\"f7\""))
    } finally f.delete()
  }

  test("byte-range splits survive multi-byte UTF-8 boundaries and ']' inside strings") {
    // Adversarial fixture for the splitter: every feature's name is a
    // long run of 2- and 3-byte UTF-8 sequences (é = C3 A9, 中 = E4 B8
    // AD) so a 512-byte chunk boundary lands INSIDE a multi-byte
    // sequence with near-certainty, plus the exact character sequences
    // a naive resync would mistake for structure: "]}", "]}]", and a
    // lone "]" — the features-array terminator — inside string values.
    val n = 60
    val features = (0 until n).map { i =>
      val multibyte = ("é中" * 40) + s"]}] $i ] \\\" }]"
      s"""{"type":"Feature","properties":{"id":"f$i","name":${jsonStr(multibyte)},"idx":$i},""" +
        s""""geometry":{"type":"Point","coordinates":[${i % 180}.5,40.$i]}}"""
    }
    val doc =
      s"""{"type":"FeatureCollection","features":[${features.mkString(",")}]}"""
    val f = java.io.File.createTempFile("graft-utf8", ".geojson")
    try {
      java.nio.file.Files.writeString(f.toPath, doc)
      val whole = spark.read.format("geojson").load(f.getPath)
      val split = spark.read.format("geojson")
        .option("chunkBytes", "512").load(f.getPath)
      assert(split.rdd.getNumPartitions > 8,
        s"fixture too small to force splits: ${split.rdd.getNumPartitions} tasks")
      val a = whole.orderBy("ingest_order").collect()
        .map(r => (r.getLong(1), r.getString(2)))
      val b = split.orderBy("ingest_order").collect()
        .map(r => (r.getLong(1), r.getString(2)))
      assert(a.length == n && b.sameElements(a),
        s"split parse diverged from whole-file parse: ${b.length} vs ${a.length} rows")
      // the multi-byte payload round-trips intact through the split
      // reader (no replacement chars, no truncated sequences)
      assert(b.forall(_._2.contains("é中")), "multi-byte text corrupted by a split")
      assert(b.head._2.contains("]}]"), "string-literal ']' content lost")
    } finally f.delete()
  }

  test("streaming source ingests newly-landed files incrementally, in order") {
    def collection(ids: Seq[Int]): String = {
      val fs = ids.map(i =>
        s"""{"type": "Feature", "properties": {"id": "f$i"}, "geometry": null}""")
      s"""{"type": "FeatureCollection", "features": [${fs.mkString(",")}]}"""
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-stream")
    def land(name: String, doc: String): Unit = {
      // write-then-rename: the landing-dir atomicity discipline
      val tmp = dir.resolve(s".$name.tmp")
      java.nio.file.Files.writeString(tmp, doc)
      java.nio.file.Files.move(tmp, dir.resolve(name))
    }
    land("page1.geojson", collection(Seq(0, 1, 2)))
    val q = spark.readStream.format("geojson").load(dir.toString)
      .writeStream.outputMode("append").format("memory")
      .queryName("geojson_stream_sink").start()
    try {
      q.processAllAvailable()
      land("page2.geojson", collection(Seq(10, 11)))
      q.processAllAvailable()
      val rows = spark.table("geojson_stream_sink")
        .collect()
        .map(r => (new java.io.File(r.getString(0)).getName, r.getLong(1),
          r.getString(2).contains("\"id\":\"f")))
      assert(rows.length == 5, s"got ${rows.mkString(";")}")
      assert(rows.forall(_._3), "feature_json payloads survived")
      // per-file ingest_order restarts per page, as in the batch scan
      assert(rows.filter(_._1 == "page1.geojson").map(_._2).sorted.sameElements(Seq(0L, 1L, 2L)))
      assert(rows.filter(_._1 == "page2.geojson").map(_._2).sorted.sameElements(Seq(0L, 1L)))
      // no file is ingested twice across batches
      land("page1.geojson.done", "{}") // non-.geojson noise is ignored
      q.processAllAvailable()
      assert(spark.table("geojson_stream_sink").count() == 5)
    } finally q.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""
}
