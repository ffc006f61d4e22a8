package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tagged-record NDJSON sink (SURVEY.md §2.1 S7): each record is one
  * line `{"type":"object"|"relation"|"log","obj":{...}}`, matching the
  * writer the reference hands records to
  * (building-inspector.js:265-267,319-321,398).
  *
  * Null fields are omitted (to_json default), mirroring JS `undefined`
  * fields vanishing under JSON.stringify. Geometry travels as the raw
  * JSON subtree captured at ingest ([[GeoJson]]), spliced in as is, so
  * coordinates are never re-parsed or re-rounded here.
  *
  * The reference's strictly-sequential write order is not semantic
  * (SURVEY §2.7); the sink stays parallel. Tests canonicalize by
  * sorting records.
  */
object NdjsonSink {

  /** Render the unified record DataFrame to one NDJSON line column. */
  def lines(records: DataFrame): DataFrame = {
    val objJson = when(col("rtype") === "relation",
      to_json(struct(
        col("rel_from").as("from"),
        col("rel_to").as("to"),
        col("rel_type").as("type"),
      )))
      .when(col("rtype") === "log",
        to_json(struct(col("error"))))
      .otherwise(spliceGeometry(
        to_json(struct(
          col("id"),
          col("otype").as("type"),
          col("valid_since").as("validSince"),
          col("valid_until").as("validUntil"),
          col("name"),
          col("data"),
        )),
        col("geometry_json"),
      ))
    records.select(
      concat(lit("{\"type\":\""), col("rtype"), lit("\",\"obj\":"), objJson, lit("}"))
        .as("value"))
  }

  /** Insert `,"geometry":<raw>` before the closing brace. */
  private def spliceGeometry(objJson: Column, geometryJson: Column): Column =
    when(geometryJson.isNull, objJson).otherwise(
      concat(
        substr(objJson, lit(1), length(objJson) - 1),
        lit(",\"geometry\":"), geometryJson, lit("}"),
      ))

  def write(records: DataFrame, path: String): Unit =
    lines(records).write.mode("overwrite").text(path)
}
