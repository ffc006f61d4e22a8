package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Q, QueryCatalog}
import graft.functions.exprs
import graft.model.Tables

object Catalogue {
  /** Iterative loops and custom kernels, in a fixed order. */
  val Heavy: Seq[String] = Seq(
    "gr_closeness_centrality", "gr_pagerank", "td_minhash_jaccard_verify")

  /** Reference-surface and relational families: short queries whose
    * cost is mostly per-query overhead.
    */
  val LightFamilies: Set[String] = Set(
    "d1", "d2", "d3", "f1", "f2", "f3", "f4", "f6", "g1", "j1", "j2", "j3",
    "p1", "p2", "p4", "s4", "u1", "q1", "q5", "qs", "qj", "qt", "qw", "sql")

  def queries(workload: String): Seq[Q] = workload match {
    case "catalogue_heavy" =>
      val byName = QueryCatalog.all.map(q => q.name -> q).toMap
      Heavy.map(byName)
    case "catalogue_light" =>
      QueryCatalog.all.filter(q => LightFamilies(q.name.takeWhile(_ != '_')))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** SHA-256 over the sorted canonical rows, columns ordered by name;
    * computed the same way from the DuckDB oracle by `gen_catalogue.py`.
    * Non-integral numbers keep 6 significant digits, so last-digit float
    * noise between the two engines does not count as a mismatch.
    */
  def canonicalSha(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(i => (columns(i), i))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val sha = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => sha.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    sha.digest().map("%02x".format(_)).mkString
  }

  private val Six = new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN)

  private def number(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros()
    if (s.signum == 0) "0"
    else if (s.scale <= 0) s.toBigIntegerExact.toString
    else s.round(Six).stripTrailingZeros().toPlainString
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case d: java.math.BigDecimal => number(d)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else number(new java.math.BigDecimal(d))
}

/** A fixed list of catalogue queries over one generated sf directory. */
final class CatalogueWorkload(queries: Seq[Q], data: String, expect: Map[String, Any])
    extends Workload {
  private val oracle = expect.getOrElse("oracle", Map.empty).asInstanceOf[Map[String, Any]]
  private val querySpans = mutable.ArrayBuffer.empty[Span]
  private var kernelSpans = Seq.empty[Span]

  /** One query: build its plan and collect every row (the timed part),
    * then compare row count and canonical digest with the DuckDB oracle.
    * A query without oracle SQL must return rows.
    */
  private def query(spark: SparkSession, q: Q): Op = {
    val op = Harness.attempt(q.name) {
      val df = q.fn(spark, data)
      (df.collect().toSeq, df.schema.fieldNames.toSeq)
    } { case (rows, columns) =>
      oracle.get(q.name).map(_.asInstanceOf[Map[String, Any]]) match {
        case Some(want) =>
          val wantRows = want("rows").toString.toLong
          if (rows.size != wantRows) Some(s"rows ${rows.size} != oracle $wantRows")
          else if (Catalogue.canonicalSha(columns, rows) != want("sha256"))
            Some("result differs from the DuckDB oracle")
          else None
        case None => if (rows.isEmpty) Some("empty result (no oracle)") else None
      }
    }
    spark.catalog.clearCache()
    op
  }

  def warmup(spark: SparkSession): Seq[Op] = pass(spark, "warmup")

  def pass(spark: SparkSession, label: String): Seq[Op] = queries.map(query(spark, _))

  def tracedPass(spark: SparkSession, tracer: Tracer, label: String): Seq[Op] = {
    val ops = tracer.span("pass") {
      queries.map { q =>
        val (op, s) = tracer.span(s"query.${q.name}")(query(spark, q))
        querySpans += s
        op
      }
    }._1
    kernelSpans = kernels(spark, tracer)
    ops
  }

  /** Calls each custom kernel once through its `exprs` entry, on a column
    * of the workload's tables, and materializes the result.
    */
  private def kernels(spark: SparkSession, tracer: Tracer): Seq[Span] = {
    import spark.implicits._
    val li = Tables.lineitem(spark, data)
    // built (and cached) by the sorted_long_set span, read by pack_suffix_keys
    val baskets = li.groupBy($"l_orderkey")
      .agg(exprs.sorted_long_set($"l_partkey").as("parts"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def run(name: String)(df: => DataFrame): Span =
      tracer.span(s"functions.$name")(df.collect())._2
    val words = Tables.documents(spark, data).select(split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
    val spans = Seq(
      run("gram_sum")(Tables.embeddings(spark, data)
        .agg(exprs.gram_sum($"embedding", 64).as("gs")).select(size($"gs"))),
      run("shingles3")(words.agg(sum(size(exprs.shingles3($"w"))))),
      run("sorted_long_set")(baskets.agg(sum(size($"parts")))),
      run("pack_suffix_keys")(baskets
        .select(posexplode($"parts").as(Seq("i", "u")), $"parts")
        .agg(sum(size(exprs.pack_suffix_keys($"parts", $"i", $"u"))))),
      run("top_k_pairs")(li.groupBy($"l_suppkey")
        .agg(exprs.top_k_pairs($"l_partkey", $"l_linenumber".cast("long"), 16).as("top"))
        .agg(sum(size($"top.v")))),
      run("kmv_distinct")(li.agg(exprs.kmv_distinct($"l_partkey".cast("string"), 256))),
    )
    baskets.unpersist()
    spans
  }

  def layerMetrics(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val pass = tracer.spans.find(_.name == "pass").get
    val perQuery = querySpans.flatMap { s =>
      Seq(s"${s.name}.wall_s" -> s.wallS, s"${s.name}.jobs" -> s.jobs.toDouble,
        s"${s.name}.tasks" -> s.tasks.toDouble, s"${s.name}.executor_cpu_s" -> s.executorCpuS,
        s"${s.name}.shuffle_mb" -> (s.shuffleReadMb + s.shuffleWriteMb))
    }
    val perKernel = kernelSpans.flatMap { s =>
      Seq(s"${s.name}_s" -> s.wallS, s"${s.name}_cpu_s" -> s.executorCpuS)
    }
    Common.sparkMetrics(pass, querySpans.toSeq) ++ perQuery ++ perKernel
  }
}
