package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** gr_closeness_centrality with NO landmark: when no supplier is in
  * nation 0 the BFS has nothing to expand, and the query must return
  * its empty result instead of reading a NULL count row. sf0.001 is
  * such a fixture; this crafted one pins the case independently.
  */
class ClosenessZeroLandmarkSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("zero landmarks yield an empty result, not a crash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("closeness-nolandmark").toString
    Seq((1L, 1L), (2L, 3L)).toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (11L, 2L), (10L, 2L)).toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val fn = SparkEntry.queries.collectFirst {
      case (n, f) if n == "gr_closeness_centrality" => f
    }.get
    val result = fn(spark, dir)
    assert(result.columns.toSeq ==
      Seq("seed", "reached", "sum_hops", "harmonic_e6", "closeness_e6"))
    assert(result.collect().isEmpty)
  }
}
