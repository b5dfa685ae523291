package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the star-schema corpus the capability queries read:
  * `region nation customer supplier part orders lineitem events documents
  * embeddings`, one parquet directory each, with the column names, types
  * and value domains of the TPC-H-ish test data the queries were written
  * against. `scale` is in the same units as that data's scale factor
  * (0.01 = 60k lineitem rows).
  *
  * Every value derives from xxhash64(seed, tag, row id), so a corpus is the
  * same for the same (seed, scale) on any machine and any partitioning. */
object QueryCorpus {
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  def generate(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val k = scale / 0.01
    def n(base: Int): Long = math.max(1L, math.round(base * k))
    /** Uniform in [0, 1) from (seed, tag, c). */
    def u(tag: String, c: Column): Column =
      pmod(xxhash64(lit(seed), lit(tag), c), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)
    def pick(tag: String, c: Column, n: Long): Column = floor(u(tag, c) * n).cast("long")
    def oneOf(tag: String, c: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(tag, c, xs.size) + 1).cast("int"))
    def money(tag: String, c: Column, lo: Double, hi: Double): Column =
      round(lit(lo) + u(tag, c) * (hi - lo), 2)
    def day(tag: String, c: Column, from: String, days: Int): Column =
      date_add(to_date(lit(from)), pick(tag, c, days).cast("int")).cast("timestamp")
    val id = col("id")
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000); val nOrd = n(15000)

    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nat", id, 25).cast("int").as("c_nationkey"),
      money("c_bal", id, -999.99, 9999.99).as("c_acctbal"),
      oneOf("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nat", id, 25).cast("int").as("s_nationkey"),
      money("s_bal", id, -999.99, 9999.99).as("s_acctbal")))
    write("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", oneOf("p_adj", id, Seq("blue", "green", "red", "small", "large",
        "shiny", "rusty", "tiny")), oneOf("p_noun", id, Seq("anvil", "bolt", "gear",
        "widget", "spring", "valve", "lever", "ring"))).as("p_name"),
      concat(lit("Brand#"), pick("p_brand", id, 25) + 1).as("p_brand"),
      oneOf("p_type", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (pick("p_size", id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pick("p_price", id, 1000) / 10.0).as("p_retailprice")))
    write("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      pick("o_cust", id, nCust).as("o_custkey"),
      oneOf("o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_price", id, 1000, 500000).as("o_totalprice"),
      day("o_date", id, "1995-01-01", 2400).as("o_orderdate"),
      oneOf("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", spark.range(nOrd)
      .select(id.as("o"), explode(sequence(lit(1L), pick("l_n", id, 7) + 1)).as("ln"))
      .withColumn("id", col("o") * 8 + col("ln"))
      .select(col("o").as("l_orderkey"), pick("l_part", id, nPart).as("l_partkey"),
        pick("l_supp", id, nSupp).as("l_suppkey"), col("ln").cast("int").as("l_linenumber"),
        (pick("l_qty", id, 50) + 1).cast("double").as("l_quantity"),
        money("l_ext", id, 900, 105000).as("l_extendedprice"),
        (pick("l_disc", id, 11) / 100.0).as("l_discount"),
        (pick("l_tax", id, 9) / 100.0).as("l_tax"),
        oneOf("l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf("l_ls", id, Seq("F", "O")).as("l_linestatus"),
        day("l_ship", id, "1995-01-02", 2500).as("l_shipdate")))
    write("events", spark.range(n(10000)).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pick("e_ts", id, 30L * 86400 * 1000000))
        .as("ts"),
      pick("e_user", id, 150).as("user_id"),
      oneOf("e_type", id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money("e_val", id, 0.01, 490).as("value"),
      format_string("{\"k\": %d}", pick("e_k", id, 100)).as("props")))
    // Documents: 10-100 vocabulary words; ~5% carry the near-duplicate
    // marker (a base text plus " dup"), ~0.2% are exact duplicates.
    val nDocs = n(500)
    def words(c: Column): Column = {
      val len = pick("d_len", c, 91) + 10
      array_join(transform(sequence(lit(1L), len), i =>
        element_at(array(Vocab.map(lit): _*), (pick("d_w", c * 1000 + i, Vocab.size) + 1).cast("int"))),
        " ")
    }
    val kind = u("d_kind", id)
    val base = pick("d_base", id, nDocs)
    write("documents", spark.range(nDocs)
      .select(id.as("doc_id"),
        when(kind < 0.048, concat(words(base), lit(" dup")))
          .when(kind < 0.050, words(base)).otherwise(words(id)).as("text"),
        when(u("d_lang", id) < 0.4, lit("en"))
          .otherwise(oneOf("d_lang2", id, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // Embeddings: unit-norm 64-dim vectors (Box-Muller normals), labels 0-9.
    val dims = 64
    val normals = transform(sequence(lit(0L), lit(dims - 1L)), j =>
      sqrt(lit(-2.0) * ln(lit(1.0) - u("v_a", id * 64 + j))) *
        cos(lit(2 * math.Pi) * u("v_b", id * 64 + j)))
    write("embeddings", spark.range(n(500)).select(id.as("vec_id"), normals.as("raw"),
        pick("v_label", id, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label")))
  }
}
