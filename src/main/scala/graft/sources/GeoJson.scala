package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoJSON FeatureCollection readers (SURVEY.md §2.1 S4/S5/S6).
  *
  * Schemas are fixed and explicit — never inferred — because the
  * inputs carry two shapes Spark inference cannot hold: the variant
  * `consensus_address` ('NONE' | array, building-inspector.js:142) and
  * heterogeneous geometry coordinates (Point = array<double>, Polygon
  * = array^3<double>). Both are declared StringType, which makes
  * Spark's JSON parser capture the raw JSON subtree as compact text
  * (float literals in shortest round-trip form, as the reference's
  * JSON.parse + JSON.stringify prints them); callers re-parse with
  * `from_json` once the geometry type is known. This keeps every row
  * parseable in one pass with zero UDFs.
  *
  * Each reader emits `ingest_order` (the feature's index in the
  * collection) because the reference's first-seen dedup semantics
  * (building-inspector.js:92-100) are defined by file order.
  *
  * Scale note: a FeatureCollection document is read through the
  * `geojson` DataSource V2 source ([[graft.sources.v2.GeoJsonDataSource]]),
  * which splits one file into byte ranges of whole features, and each
  * feature is parsed by `from_json` with the fixed schema — so one
  * landing file parses on every core, with `ingest_order` still its
  * exact index in the file. At 100 TB the download step writes NDJSON
  * (one feature per line) and [[featuresNdjson]] reads it with the same
  * schema.
  */
object GeoJson {

  /** Raw-captured geometry: `coordinates` is the JSON subtree text. */
  val geometrySchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", StringType),
  ))

  val geometryCollectionSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", StringType),
    StructField("geometries", ArrayType(geometrySchema)),
  ))

  val consolidatedFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("id", StringType),
      StructField("sheet_id", LongType),
      StructField("map_id", StringType),
      StructField("consensus_color", StringType),
      StructField("consensus_address", StringType), // raw: 'NONE' | [...]
    ))),
    StructField("geometry", geometryCollectionSchema),
  ))

  val toponymFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("sheet_id", LongType),
      StructField("consensus", StringType),
    ))),
    StructField("geometry", geometrySchema),
  ))

  val sheetFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("id", LongType),
      StructField("map_id", StringType),
      StructField("layer", StructType(Seq(
        StructField("external_id", LongType),
        StructField("year", StringType),
      ))),
    ))),
  ))

  /** Smallest byte-range split: small files (sheets, boroughs) stay
    * one task.
    */
  private val MinChunkBytes = 64L * 1024

  /** One FeatureCollection document → (ingest_order, feature) rows, in
    * about `defaultParallelism` byte-range tasks.
    */
  def features(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val size = new java.io.File(path).length()
    val chunkBytes = math.max(MinChunkBytes, size / spark.sparkContext.defaultParallelism + 1)
    spark.read.format("geojson")
      .option("chunkBytes", chunkBytes)
      .load(path)
      .select(col("ingest_order"), from_json(col("feature_json"), schema).as("feature"))
  }

  /** NDJSON variant: one feature per line, order by file position. */
  def featuresNdjson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .json(path)
      .withColumn("ingest_order", monotonically_increasing_id())
      .select(col("ingest_order"), struct(col("type"), col("properties"), col("geometry")).as("feature"))

  def consolidated(spark: SparkSession, path: String): DataFrame =
    features(spark, path, consolidatedFeatureSchema)

  def toponyms(spark: SparkSession, path: String): DataFrame =
    features(spark, path, toponymFeatureSchema)

  def sheets(spark: SparkSession, path: String): DataFrame =
    features(spark, path, sheetFeatureSchema)

  /** layer-boroughs.json: plain JSON array of {id, borough}
    * (reference: layer-boroughs.json, loaded building-inspector.js:388).
    */
  def layerBoroughs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(
        StructField("id", LongType),
        StructField("borough", StringType),
      )))
      .option("multiLine", value = true)
      .json(path)

  /** Parse a raw Polygon coordinates subtree to typed rings. */
  def polygonRings(raw: Column): Column =
    from_json(raw, ArrayType(ArrayType(ArrayType(DoubleType))))

  /** Parse a raw Point coordinates subtree to [x, y]. */
  def pointCoords(raw: Column): Column =
    from_json(raw, ArrayType(DoubleType))
}
