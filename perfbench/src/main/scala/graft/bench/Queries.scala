package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The fixed query list of the `queries_sf001` workload and its checks. */
object Queries {
  /** Per module: its slowest query in the sf0.1 bench record of the
    * round-17 head (`BENCH_LOCAL.json`), then a sub-second one. */
  val List: Seq[(String, String)] = Seq(
    "Relational" -> "q55_scale", "Relational" -> "q30_topk",
    "Events" -> "e22_scale", "Events" -> "e8_first_last",
    "Scalars" -> "sc3_math_funcs", "Scalars" -> "sc7_edit_distance",
    "TextOps" -> "t19_tfidf_terms", "TextOps" -> "t21_doc_validity",
    "Dedup" -> "d17_survivorship", "Dedup" -> "d1_dedup_exact",
    "Similarity" -> "s12_sq8_recall", "Similarity" -> "s10_vec_validity",
    "Multimodal" -> "mm2_decode_features", "Multimodal" -> "mm1_media_table")

  val Modules: Seq[String] = List.map(_._1).distinct

  /** The set-up warm-up query. */
  val WarmUp = "q30_topk"

  val Excluded: Map[String, String] = Map(
    "MappingQueries" -> "reads the dbsink reference checkout (fixture files), which a benchmark checkout does not hold")

  /** Fails fast if a listed query moved out of its module. */
  def validate(): Unit = {
    val byModule = Map(
      "Relational" -> graft.queries.Relational.queries, "Events" -> graft.queries.Events.queries,
      "Scalars" -> graft.queries.Scalars.queries, "TextOps" -> graft.queries.TextOps.queries,
      "Dedup" -> graft.queries.Dedup.queries, "Similarity" -> graft.queries.Similarity.queries,
      "Multimodal" -> graft.queries.Multimodal.queries)
    List.foreach { case (m, q) =>
      require(byModule(m).contains(q), s"query $q is not in module $m")
    }
  }

  def frame(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Runs a query to completion through a noop write; returns seconds. */
  def force(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    frame(spark, name, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Row count and an order-insensitive hash of the rendered rows. Doubles
    * are rounded to 10 significant digits (floats to 6) so a change in
    * summation order does not change the hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(12).map("%02x".format(_)).mkString)
  }

  private def num(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      .stripTrailingZeros.toString

  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d, 10)
    case f: Float => num(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
