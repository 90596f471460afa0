package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator of the harness tables (schemas in FIXTURES.md):
  * a TPC-H-ish star schema plus `events`, `documents` and `embeddings`.
  *
  * Every column is a pure function of the row id and a per-column salt
  * (`xxhash64`), so the output does not depend on partitioning or core
  * count, and the committed expected digests stay valid on any host. Row
  * counts, value ranges and vocabularies follow the harness fixtures, so
  * the declared queries (and their DuckDB oracles) see the same shapes. */
object TableGen {
  val DataSeed = 42L

  /** Uniform double in [0, 1) from the row id and a column salt. */
  private def u(salt: Int): Column =
    shiftrightunsigned(xxhash64(col("id"), lit(DataSeed * 1000 + salt)), 11)
      .cast("double") / 9007199254740992.0

  /** Uniform long in [lo, hi]. */
  private def ri(salt: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(salt) * (hi - lo + 1))).cast("long")

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), ri(salt, 1, values.size).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def day(salt: Int, from: String, days: Long): Column =
    date_add(lit(from).cast("date"), ri(salt, 0, days - 1).cast("int"))
      .cast("timestamp_ntz")

  val Words: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(perSf: Double, min: Long = 1): Long = math.max(min, math.round(perSf * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000, 500); val nEmb = n(20000, 500)
    def rows(k: Long): DataFrame = spark.range(k).toDF()
    val region = rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(4, 0, 24).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), ri(8, 1, 25)).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      ri(10, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
    val orders = rows(nOrd).select(col("id").as("o_orderkey"),
      ri(11, 0, nCust - 1).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(nLine).select(ri(16, 0, nOrd - 1).as("l_orderkey"),
      ri(17, 0, nPart - 1).as("l_partkey"),
      ri(18, 0, nSupp - 1).as("l_suppkey"),
      ri(19, 1, 7).cast("int").as("l_linenumber"),
      ri(20, 1, 50).cast("double").as("l_quantity"),
      money(21, 900.0, 105000.0).as("l_extendedprice"),
      (ri(22, 0, 10) / 100.0).as("l_discount"),
      (ri(23, 0, 8) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2499).as("l_shipdate"))
    // Ascending event time over January 2024: one slot per event, jittered
    // inside the slot, so event_id order is time order as in the fixture.
    val slotUs = 30L * 86400L * 1000000L / nEv
    val events = rows(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotUs + floor(u(27) * slotUs).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      ri(28, 0, math.max(1, nCust / 10) - 1).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(0.01) - log(lit(1.0) - u(30)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ri(31, 0, 99)).as("props"))
    // Word soup of 10..90 tokens; one doc in 40 repeats an earlier doc's
    // text plus a trailing "dup" token (the fixture's near-duplicates).
    val soup = (id: Column, salt: Int) => concat_ws(" ", transform(
      sequence(lit(0), (lit(10) + pmod(xxhash64(id, lit(salt)), lit(81))).cast("int") - 1),
      i => element_at(array(Words.map(lit): _*),
        (pmod(xxhash64(id, i, lit(salt + 1)), lit(Words.size.toLong)) + 1).cast("int"))))
    val isDup = col("id") > 0 && pmod(xxhash64(col("id"), lit(32)), lit(40)) === 0
    val text = when(isDup, concat(soup(pmod(xxhash64(col("id"), lit(35)), col("id")), 33), lit(" dup")))
      .otherwise(soup(col("id"), 33))
    val documents = rows(nDoc).select(col("id").as("doc_id"), text.as("text"),
      pick(36, Seq("de", "en", "en", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Unit-normalised 64-d vectors scattered around one centroid per label.
    val label = ri(37, 0, 9)
    val raw = (0 until 64).map { j =>
      sin(label * (j + 1) * 0.7) * 0.15 +
        (pmod(xxhash64(col("id"), lit(38), lit(j)), lit(20001)) - 10000) / 100000.0
    }
    val norm = sqrt(raw.map(c => c * c).reduce(_ + _))
    val embeddings = rows(nEmb).select(col("id").as("vec_id"),
      array(raw.map(c => (c / norm).cast("float")): _*).as("embedding"),
      label.cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each). */
  def write(spark: SparkSession, sf: Double, dir: String): Unit =
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
