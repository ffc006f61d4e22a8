package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.exprs._
import graft.sources.GeoJson

/** The reference's `transform` step re-expressed as one declarative
  * Spark plan (SURVEY.md §3): consolidated buildings phase + toponym
  * phase with the per-layer spatial join.
  *
  * Every output record lands in ONE superset-schema DataFrame
  * (`RecordType`) tagged by `rtype`
  * ('object' | 'relation' | 'log'), mirroring the reference's tagged
  * union (building-inspector.js:108-136). The NDJSON sink serializes
  * it; tests canonicalize and compare.
  *
  * Scale design: the two dimension tables (sheets, layer-boroughs) are
  * collected once per transform into driver-side last-wins maps
  * ([[Dims]]) and read as map literals — no dimension re-read, window
  * or broadcast exchange. Each phase shuffles its fact stream once by
  * id for first-seen dedup and checkpoints the deduped rows lazily; the
  * H4 pre-flight check is the one full pass that materializes them.
  * Every record of a deduped row then comes out of ONE generator
  * (`inline` over an array of record structs), so nothing is persisted
  * and each phase is a single narrow pass in the final job. The spatial
  * join is an equi-join on layerId with a bbox prefilter and the exact
  * `st_contains` as residual — the layerId key gives the same pruning
  * the reference's per-layer R-tree does (geo-indices.js:22-56), and
  * skewed layers are handled by AQE.
  */
object InspectorPipeline {

  /** Intermediate per-building-phase result: emitted records plus the
    * polygon "index" side reused by the toponym phase (the reference's
    * build→probe barrier, building-inspector.js:404-409, realized as a
    * reused DataFrame).
    */
  final case class ConsolidatedOut(records: DataFrame, indexedBuildings: DataFrame)

  // ---------------------------------------------------------------- dims

  /** What a feature inherits from its sheet (J1). */
  final case class Sheet(map_id: String, layer_id: Option[Long], year: Option[Int])

  /** sheetsById and layersById as the reference builds them: last-wins
    * keyBy in file order (D3, building-inspector.js:384-392). Both are
    * dimension-sized, so they live on the driver and enter the plan as
    * map literals.
    */
  final case class Dims(sheets: Map[Long, Sheet], boroughs: Map[Long, String]) {
    /** The sheet struct of `sheetId`; null when the sheet is missing. */
    def sheetOf(sheetId: Column): Column = try_element_at(typedLit(sheets), sheetId)

    /** The borough of `layerId`; null when the layer has none. */
    def boroughOf(layerId: Column): Column = try_element_at(typedLit(boroughs), layerId)
  }

  object Dims {
    /** One collect per table. `sheets` is (ingest_order, feature) rows;
      * `layers` is the (id, borough) array in file order. Null ids
      * never match a lookup, so they are dropped.
      */
    def collect(sheets: DataFrame, layers: DataFrame): Dims = {
      val sheetRows = sheets
        .select(
          col("ingest_order").cast("long"),
          col("feature.properties.id"),
          col("feature.properties.map_id"),
          col("feature.properties.layer.external_id"),
          col("feature.properties.layer.year").cast("int"))
        .filter(col("id").isNotNull)
        .collect().sortBy(_.getLong(0))
      val sheetMap = sheetRows.map { r =>
        r.getLong(1) -> Sheet(
          r.getString(2),
          Option(r.get(3)).map(_ => r.getLong(3)),
          Option(r.get(4)).map(_ => r.getInt(4)))
      }.toMap
      val boroughs = layers.select(col("id"), col("borough"))
        .filter(col("id").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      Dims(sheetMap, boroughs)
    }
  }

  /** H4 fail-fast (J1): the reference dereferences
    * `sheetsById[feature.properties.sheet_id]` unconditionally
    * (building-inspector.js:103-104) and `stopOnError` aborts the whole
    * run on the resulting TypeError (:268,322). So before emitting we
    * assert — on the DEDUPED set, because a later duplicate is never
    * dereferenced by the reference — that every referenced sheet
    * exists, and abort with the offending ids.
    *
    * The check is one narrow top-1 pass over every partition, which
    * also materializes the caller's lazy checkpoint; the sorted
    * distinct sample for the message is computed only on failure.
    */
  private def assertSheetsPresent(deduped: DataFrame, what: String): Unit = {
    val missing = deduped.filter(col("sheet").isNull).select(col("sheet_id"))
    if (missing.orderBy(col("sheet_id")).limit(1).collect().nonEmpty) {
      val ids = missing.distinct()
        .orderBy(col("sheet_id")) // stable sample → reproducible abort message
        .limit(20)
        .collect()
        .map(_.get(0))
      throw new IllegalStateException(
        s"$what references missing sheet id(s): ${ids.mkString(", ")} " +
          "(reference aborts: building-inspector.js:103-104 + stopOnError)")
    }
  }

  /** First-seen dedup by `key` in file order, the sheet looked up, and
    * the result checkpointed lazily for [[assertSheetsPresent]] to
    * materialize.
    */
  private def dedupAndCheck(df: DataFrame, key: String, dims: Dims, what: String,
      derived: Map[String, Column] = Map.empty): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ingest_order"))
    val deduped = df
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("sheet", dims.sheetOf(col("sheet_id")))
      .withColumns(derived)
      .localCheckpoint(eager = false)
    assertSheetsPresent(deduped, what)
    deduped
      .withColumn("layer_id", col("sheet.layer_id"))
      .withColumn("year", col("sheet.year"))
      .withColumn("borough", dims.boroughOf(col("layer_id")))
  }

  // ------------------------------------------------------- consolidated

  /** The consolidated phase with its own collect of the dimensions;
    * `Engine.transform` collects them once for both phases.
    */
  def consolidated(
      spark: SparkSession,
      features: DataFrame,
      sheets: DataFrame,
      layers: DataFrame): ConsolidatedOut =
    consolidated(spark, features, Dims.collect(sheets, layers))

  def consolidated(spark: SparkSession, features: DataFrame, dims: Dims): ConsolidatedOut = {
    val feats = features.select(
      col("ingest_order"),
      col("feature.properties.id").as("building_id"),
      col("feature.properties.sheet_id").as("sheet_id"),
      // F1: parseInt(map_id) (building-inspector.js:102)
      col("feature.properties.map_id").cast("int").as("map_id"),
      col("feature.properties.consensus_color").as("consensus_color"),
      col("feature.properties.consensus_address").as("address_raw"),
      try_element_at(col("feature.geometry.geometries"), lit(1)).as("geom0"),
      col("feature.geometry.geometries").as("geometries"),
    )

    // D1: first-seen dedup by building id, BEFORE the degenerate-ring
    // filter — a duplicate whose first occurrence is degenerate must
    // stay suppressed (H2; building-inspector.js:92-100 vs :138-140).
    // The rings are parsed once, into the checkpoint.
    val deduped = dedupAndCheck(feats, "building_id", dims, "consolidated",
      Map("rings" -> GeoJson.polygonRings(col("geom0.coordinates"))))

    // F6: drop everything (object, relations, log, addresses) when the
    // polygon's outer ring has < 4 points (building-inspector.js:138-140).
    // JS quirk preserved: a non-Polygon geometries[0] (coordinates[0]
    // is a number; undefined < 4 === false) is NOT dropped.
    val ok = deduped
      .filter(col("rings").isNull || size(try_element_at(col("rings"), lit(1))) >= 4)

    val id = col("building_id")

    // G1/P2/P5: positional addresses (building-inspector.js:142-177);
    // 'NONE', null and unparseable values carry none.
    val addresses = coalesce(
      from_json(when(col("address_raw") =!= "NONE", col("address_raw")), AddressesType),
      array().cast(AddressesType))
    val addressRecords = flatten(transform(addresses, (a, i) => {
      val addressId = concat(id, lit("-"), i + 1)
      array(
        objectRecord(addressId, "st:Address", a.getField("flag_value"),
          data(a.getField("flag_value"), lit(null)),
          // geometry = geometries[i + 1]; absent → omitted (js :162)
          rawGeometryJson(try_element_at(col("geometries"), i + 2))),
        relationRecord(addressId, id, "st:in"))
    }))

    val building = Seq(
      // P1: building object (building-inspector.js:108-125)
      objectRecord(id, "st:Building", lit(null),
        // F2: truthiness guard — '' and null both mean absent
        data(lit(null), when(length(col("consensus_color")) > 0,
          split(col("consensus_color"), ","))),
        rawGeometryJson(col("geom0"))),
      boroughLog,
    ) ++ mapwarperRelations(id) // P4 (building-inspector.js:126,183-202)
    val records = emit(ok, concat(array(building: _*), addressRecords))

    // Spatial index side: only st:Building objects with Polygon
    // geometry are indexed (geo-indices.js:14-16, 25-36).
    val outer = try_element_at(col("rings"), lit(1))
    val indexed = ok
      .filter(col("geom0.type") === "Polygon" && col("rings").isNotNull)
      .select(
        col("layer_id").as("b_layer_id"),
        col("building_id").as("b_id"),
        col("rings").as("b_rings"),
        array_min(transform(outer, p => element_at(p, 1))).as("b_xmin"),
        array_max(transform(outer, p => element_at(p, 1))).as("b_xmax"),
        array_min(transform(outer, p => element_at(p, 2))).as("b_ymin"),
        array_max(transform(outer, p => element_at(p, 2))).as("b_ymax"),
      )

    ConsolidatedOut(records, indexed)
  }

  // ------------------------------------------------------------ toponyms

  /** The toponym phase with its own collect of the dimensions. */
  def toponyms(
      spark: SparkSession,
      features: DataFrame,
      sheets: DataFrame,
      layers: DataFrame,
      indexedBuildings: DataFrame): DataFrame =
    toponyms(spark, features, Dims.collect(sheets, layers), indexedBuildings)

  def toponyms(
      spark: SparkSession,
      features: DataFrame,
      dims: Dims,
      indexedBuildings: DataFrame): DataFrame = {

    // P3/F3/F4: toponym-{sheetId}-{base62(md5(coords.join(',')))}
    // (building-inspector.js:206-209). The join runs on the RAW
    // coordinates subtree with JS recursive-flatten semantics: the
    // reference derives the id for EVERY toponym before the Point
    // gate, so a Polygon toponym's id comes from its flattened ring
    // coordinates, not from a null Point parse.
    val withId = features.select(
      col("ingest_order"),
      col("feature.properties.sheet_id").as("sheet_id"),
      col("feature.properties.consensus").as("consensus"),
      col("feature.geometry").as("geometry"),
      concat(lit("toponym-"), col("feature.properties.sheet_id"), lit("-"),
        base62_encode_hex(md5(js_coord_join_raw(col("feature.geometry.coordinates")))))
        .as("toponym_id"),
    )

    // D2: first-seen dedup by synthetic id (building-inspector.js:211-214).
    // J1 + J2; toponym mapId comes from the SHEET's map_id
    // (building-inspector.js:218), unlike buildings.
    val joined = dedupAndCheck(withId, "toponym_id", dims, "toponyms")
      .withColumn("map_id", col("sheet.map_id").cast("int"))

    val id = col("toponym_id")
    val toponym = Seq(
      objectRecord(id, "st:Building", col("consensus"),
        data(lit(null), lit(null)),
        rawGeometryJson(col("geometry"))),
      boroughLog,
    ) ++ mapwarperRelations(id)
    val records = emit(joined, array(toponym: _*))

    // J3: per-layer point-in-polygon probe, Points only
    // (geo-indices.js:18-20,38-50; building-inspector.js:280-313).
    val probes = joined
      .filter(col("geometry.type") === "Point")
      .select(id, col("layer_id"),
        GeoJson.pointCoords(col("geometry.coordinates")).as("coords"))
      .filter(col("coords").isNotNull)
      .withColumn("px", element_at(col("coords"), 1))
      .withColumn("py", element_at(col("coords"), 2))

    // "No geospatial index for layer" = the toponym's layer has no
    // indexed polygons at all (geo-indices.js:44-46) → error log.
    val layersWithIndex = indexedBuildings.select(col("b_layer_id").as("i_layer_id")).distinct()

    // Equi-join on layerId + bbox prefilter, exact contains as residual;
    // each left-outer row is one record: a sameAs edge, a no-match log
    // or a no-index log.
    val spatial = probes
      .join(broadcast(layersWithIndex), col("layer_id") === col("i_layer_id"), "left_outer")
      .join(
        indexedBuildings,
        col("layer_id") === col("b_layer_id") &&
          col("px") >= col("b_xmin") && col("px") <= col("b_xmax") &&
          col("py") >= col("b_ymin") && col("py") <= col("b_ymax") &&
          st_contains(col("b_rings"), col("coords")),
        "left_outer",
      )
    val spatialRecords = emit(spatial, array(
      when(col("b_id").isNotNull, relationRecord(id, col("b_id"), "st:sameAs"))
        .when(col("i_layer_id").isNotNull,
          logRecord(concat(lit("Can't find building for toponym "), id)))
        .otherwise(logRecord(concat(lit("Error computing intersection for toponym "), id)))))

    records.unionByName(spatialRecords)
  }

  // ----------------------------------------------------------- records

  private val PayloadType: StructType = StructType(Seq(
    StructField("number", StringType),
    StructField("sheetId", LongType),
    StructField("layerId", LongType),
    StructField("mapId", IntegerType),
    StructField("colors", ArrayType(StringType)),
    StructField("borough", StringType),
  ))

  /** The superset record: object fields, relation fields, log error. */
  private val RecordType: StructType = StructType(Seq(
    StructField("rtype", StringType),
    StructField("id", StringType),
    StructField("otype", StringType),
    StructField("valid_since", IntegerType),
    StructField("valid_until", IntegerType),
    StructField("name", StringType),
    StructField("data", PayloadType),
    StructField("geometry_json", StringType),
    StructField("rel_from", StringType),
    StructField("rel_to", StringType),
    StructField("rel_type", StringType),
    StructField("error", StringType),
  ))

  private val AddressesType = ArrayType(StructType(Seq(StructField("flag_value", StringType))))

  /** A record struct: named fields are set (cast to their declared
    * types, structs by position), the rest are null.
    */
  private def record(rtype: String, fields: (String, Column)*): Column = {
    val set = (fields :+ ("rtype" -> lit(rtype))).toMap
    struct(RecordType.fields.toSeq.map { f =>
      set.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Objects of one phase share the row's sheet year as their validity. */
  private def objectRecord(id: Column, otype: String, name: Column, data: Column,
      geometryJson: Column): Column =
    record("object", "id" -> id, "otype" -> lit(otype), "valid_since" -> col("year"),
      "valid_until" -> col("year"), "name" -> name, "data" -> data,
      "geometry_json" -> geometryJson)

  private def relationRecord(from: Column, to: Column, relType: String): Column =
    record("relation", "rel_from" -> from, "rel_to" -> to, "rel_type" -> lit(relType))

  private def logRecord(error: Column): Column = record("log", "error" -> error)

  /** S8/J2 side-output: borough log (falsy check, building-inspector.js:129-136). */
  private def boroughLog: Column =
    when(col("borough").isNull || col("borough") === "",
      logRecord(concat(lit("Can't find borough for layer "), col("layer_id"))))

  /** 2 edges per object: mapwarper/{mapId} and mapwarper/layer-{layerId}
    * (building-inspector.js:183-202).
    */
  private def mapwarperRelations(id: Column): Seq[Column] = Seq(
    relationRecord(id, concat(lit("mapwarper/"), col("map_id")), "st:in"),
    relationRecord(id, concat(lit("mapwarper/layer-"), col("layer_id")), "st:in"),
  )

  /** One output row per non-null element of a record-struct array. */
  private def emit(df: DataFrame, records: Column): DataFrame =
    df.select(inline(filter(records, _.isNotNull)))

  /** Superset `data` payload of the row's sheet, layer, map and
    * borough; to_json omits nulls, matching how JS `undefined` fields
    * vanish from the reference's NDJSON.
    */
  private def data(number: Column, colors: Column): Column =
    struct(
      number.as("number"),
      col("sheet_id").as("sheetId"),
      col("layer_id").as("layerId"),
      col("map_id").as("mapId"),
      colors.as("colors"),
      col("borough").as("borough"),
    )

  /** Rebuild the raw GeoJSON text of a captured geometry struct
    * (type + raw coordinates subtree).
    */
  private def rawGeometryJson(geom: Column): Column =
    when(geom.isNotNull && geom.getField("coordinates").isNotNull,
      concat(lit("{\"type\":\""), geom.getField("type"),
        lit("\",\"coordinates\":"), geom.getField("coordinates"), lit("}")))
}
