package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import perfbench.Seeded.{below, uniform}

/** Generator of the registry's tables: the TPC-H-like star schema plus
  * `events`, `documents` and `embeddings`, with the column names,
  * types, value domains and size ratios of the project's sf* test
  * tables (see TESTDATA.md), one parquet file per table under
  * `<dir>/<table>.parquet`. Deterministic in (seed, sf).
  */
object RegistryData {

  /** Bump when the generated content changes: cached copies and the
    * recorded slot counts belong to one version.
    */
  val Version = 1

  private def oneOf(seed: Long, tag: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (below(seed, tag, xs.size) + 1).cast("int"))
  private def money(seed: Long, tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uniform(seed, tag) * (hi - lo), 2)
  private def day(seed: Long, tag: Int, from: String, days: Int): Column =
    to_timestamp_ntz(date_add(lit(java.sql.Date.valueOf(from)),
      below(seed, tag, days).cast("int")).cast("string"))

  val Words: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nDocs = math.max(500L, n(50000))
    val nEmb = math.max(500L, n(20000))
    def range(k: Long) = spark.range(0, k, 1, 1)
    val region = range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(seed, 1, 25).cast("int").as("c_nationkey"),
      money(seed, 2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(seed, 4, 25).cast("int").as("s_nationkey"),
      money(seed, 5, -999.99, 9999.99).as("s_acctbal"))
    val part = range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(seed, 6, Seq("blue", "old", "small", "new", "large",
        "hot", "cold", "red")), oneOf(seed, 7, Seq("widget", "gizmo", "ring",
        "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), (below(seed, 8, 25) + 1).cast("string")).as("p_brand"),
      oneOf(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (below(seed, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice"))
    val orders = range(nOrders).select(col("id").as("o_orderkey"),
      below(seed, 11, nCust).as("o_custkey"),
      oneOf(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(seed, 14, "1995-01-01", 2405).as("o_orderdate"),
      oneOf(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = range(4 * nOrders).select(
      below(seed, 16, nOrders).as("l_orderkey"),
      below(seed, 17, nPart).as("l_partkey"),
      below(seed, 18, nSupp).as("l_suppkey"),
      (below(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
      (below(seed, 20, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 21, 900.0, 105000.0).as("l_extendedprice"),
      round(uniform(seed, 22) * 0.1, 2).as("l_discount"),
      round(uniform(seed, 23) * 0.08, 2).as("l_tax"),
      oneOf(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(seed, 25, Seq("F", "O")).as("l_linestatus"),
      day(seed, 26, "1995-01-02", 2498).as("l_shipdate"))
    // event times increase with the id across January 2024
    val nEvents = n(1000000)
    val span = 30L * 86400L * 1000000L
    val events = range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L) +
        ((col("id") + uniform(seed, 27)) * (span / nEvents)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      below(seed, 28, math.max(1L, nCust / 10)).as("user_id"),
      oneOf(seed, 29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log(lit(1.0) - uniform(seed, 30)) * 40.0, 2).as("value"),
      format_string("{\"k\": %d}", below(seed, 31, 100)).as("props"))
    // 5% near-duplicates (an earlier text + " dup"), the rest random
    // word runs from the 30-word vocabulary
    val textOf: Column => Column = id => {
      val len = (pmod(xxhash64(lit(seed), id, lit(32)), lit(91L)) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(1), len), i =>
        element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), id, i), lit(Words.size.toLong)) + 1).cast("int"))))
    }
    val isDup = uniform(seed, 33) < 0.05 && col("id") > 0
    val documents = range(nDocs)
      .withColumn("text", when(isDup,
        concat(textOf(below(seed, 34, nDocs) % col("id")), lit(" dup")))
        .otherwise(textOf(col("id"))))
      .select(col("id").as("doc_id"), col("text"),
        oneOf(seed, 35, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    // unit vectors around 10 label centres
    val dim = 64
    val label = below(seed, 36, 10)
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(lit(seed + 1), label, i), lit(2001L)) - 1000) / 1000.0 +
        (pmod(xxhash64(lit(seed), col("id"), i), lit(2001L)) - 1000) / 2000.0)
    val embeddings = range(nEmb).withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        label.cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** The tables for (sf, seed) under `root`, generated on first use.
    * A marker written last makes an interrupted generation start over.
    */
  def ensure(spark: SparkSession, root: String, sf: Double, seed: Long): String = {
    val dir = s"$root/registry-v$Version/sf$sf-seed$seed"
    val done = new java.io.File(s"$dir/_COMPLETE")
    if (!done.exists()) {
      tables(spark, sf, seed).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      java.nio.file.Files.writeString(done.toPath, "")
    }
    dir
  }
}
