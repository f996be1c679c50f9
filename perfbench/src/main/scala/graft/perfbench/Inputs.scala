package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic source tables with the schemas the library reads
  * (`graft.sources.Tables`): a TPC-H-like star schema, an `events`
  * stream and a `documents` corpus. Every value is a pure function of
  * (seed, table, column, row id), so one seed always yields the same
  * tables and a document's text can be recomputed from its id alone.
  * Timestamps are written as TIMESTAMP_NTZ, as the reference data
  * ships them. Row counts follow TPC-H scaling: `sf` = 0.01 gives
  * 60 000 lineitem rows.
  */
final class Inputs(spark: SparkSession, seed: Long, sf: Double) {
  val nCustomer: Long = rows(150000)
  val nSupplier: Long = rows(10000)
  val nPart: Long = rows(200000)
  val nOrders: Long = rows(1500000)
  val nLineitem: Long = rows(6000000)
  val nEvents: Long = rows(1000000)
  val nUsers: Long = rows(15000)
  val nDocuments: Long = rows(50000)

  private def rows(perSf: Long): Long = math.max(1L, math.round(perSf * sf))

  /** Uniform integer in [0, m) for column `salt` of the row `id`. */
  private def uni(salt: String, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))

  private def pick(salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uni(salt, values.size) + 1).cast("int"))

  private def day(salt: String, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), uni(salt, days).cast("int"))
      .cast("timestamp_ntz")

  private def money(salt: String, cents: Long, base: Double = 0.0): Column =
    round(uni(salt, cents) / 100.0 + base, 2)

  def region: DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Inputs.Regions.map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name"))

  def nation: DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer: DataFrame =
    spark.range(nCustomer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni("c_nationkey", 25).cast("int").as("c_nationkey"),
      money("c_acctbal", 1000000).as("c_acctbal"),
      pick("c_mktsegment", Inputs.Segments).as("c_mktsegment"))

  def supplier: DataFrame =
    spark.range(nSupplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni("s_nationkey", 25).cast("int").as("s_nationkey"),
      money("s_acctbal", 1000000).as("s_acctbal"))

  def part: DataFrame =
    spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick("p_adj", Inputs.PartAdjectives),
        pick("p_noun", Inputs.PartNouns)).as("p_name"),
      concat(lit("Brand#"), uni("p_brand", 25) + 1).as("p_brand"),
      pick("p_type", Inputs.PartTypes).as("p_type"),
      (uni("p_size", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 1).as("p_retailprice"))

  def orders: DataFrame =
    spark.range(nOrders).select(col("id").as("o_orderkey"),
      uni("o_custkey", nCustomer).as("o_custkey"),
      pick("o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_totalprice", 50000000, 1000.0).as("o_totalprice"),
      day("o_orderdate", "1995-01-01", 2404).as("o_orderdate"),
      pick("o_orderpriority", Inputs.Priorities).as("o_orderpriority"))

  def lineitem: DataFrame = {
    val qty = (uni("l_quantity", 50) + 1).cast("double")
    spark.range(nLineitem).select(
      uni("l_orderkey", nOrders).as("l_orderkey"),
      uni("l_partkey", nPart).as("l_partkey"),
      uni("l_suppkey", nSupplier).as("l_suppkey"),
      (uni("l_linenumber", 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + uni("l_price", 1000) / 10.0), 2).as("l_extendedprice"),
      (uni("l_discount", 11) / 100.0).as("l_discount"),
      (uni("l_tax", 9) / 100.0).as("l_tax"),
      pick("l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_linestatus", Seq("F", "O")).as("l_linestatus"),
      day("l_shipdate", "1995-01-02", 2499).as("l_shipdate"))
  }

  /** 30 days of events from 2024-01-01, in event_id order. */
  def events: DataFrame = {
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val startMicros = 1704067200L * 1000000L
    spark.range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(startMicros) + col("id") * stepMicros +
        uni("ts", stepMicros)).cast("timestamp_ntz").as("ts"),
      uni("user_id", nUsers).as("user_id"),
      pick("event_type", Inputs.EventTypes).as("event_type"),
      round(lit(0.01) - log((uni("value", 1000000) + 1) / 1000001.0) * 30.0, 2)
        .as("value"),
      format_string("{\"k\": %d}", uni("props", 100)).as("props"))
  }

  /** One in twenty documents is another document's text plus " dup". */
  def documents: DataFrame = {
    val dupOf = uni("dup_of", nDocuments)
    val isDup = pmod(col("id"), lit(20)) === 19
    val text = when(isDup, concat(Inputs.textExpr(seed, dupOf), lit(" dup")))
      .otherwise(Inputs.textExpr(seed, col("id")))
    spark.range(nDocuments).select(col("id").as("doc_id"), text.as("text"),
      pick("lang", Inputs.Langs).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def tables: Seq[(String, DataFrame)] = Seq(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents)

  /** Writes the named tables as `<dir>/<name>.parquet`, one file each. */
  def write(dir: String, names: Seq[String]): Unit =
    tables.filter { case (name, _) => names.contains(name) }.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

object Inputs {
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val PartAdjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val PartNouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  // en carries 40% of the corpus, as in the reference data
  val Langs = Seq("en", "en", "en", "en", "en", "en", "de", "de", "es", "es",
    "fr", "fr", "zh", "zh", "zh")
  val Words = Seq("a", "the", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window")

  val MinWords = 12
  val MaxWords = 80

  /** Text of document `id`: MinWords..MaxWords words drawn from Words. */
  def textExpr(seed: Long, id: Column): Column = {
    val n = pmod(xxhash64(lit(seed), lit("n_words"), id), lit(MaxWords - MinWords + 1)) +
      MinWords
    val words = array(Words.map(lit): _*)
    array_join(transform(sequence(lit(1L), n), i =>
      element_at(words, (pmod(xxhash64(lit(seed), lit("word"), id, i),
        lit(Words.size.toLong)) + 1).cast("int"))), " ")
  }
}
