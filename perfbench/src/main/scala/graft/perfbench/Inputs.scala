package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a pure function of
  * (seed, table, row id), so the same seed writes the same tables
  * whatever the partitioning. Shapes follow the TPC-H-like testdata
  * (orders/customer/lineitem, documents), generated rather than read so
  * the benchmark needs nothing outside its checkout. */
object Inputs {

  /** 1995-01-01T00:00:00Z, and the span of order dates that follows it
    * (to 2001-08-01, the testdata `orders` range). Spine timestamps are
    * drawn from the same range, so TTL'd views see both hits and
    * misses. */
  val Epoch1995 = 788918400L
  val OrderDays = 2404

  /** Uniform double in [0, 1) keyed by (seed, tag, key...). */
  def u(seed: Long, tag: String, key: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: key): _*), lit(1L << 40))
      .cast("double") / lit((1L << 40).toDouble)

  private def pick(values: Seq[String], r: Column): Column =
    element_at(typedLit(values), (floor(r * values.size) + 1).cast("int"))

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Feature-store tables for `pit_export`: `orders`, `customer`, the
    * per-customer daily lineitem aggregate `cust_lineitem_daily`, and
    * the entity spine `spine` (o_custkey, event_timestamp, req_id). */
  def featureStore(spark: SparkSession, dir: String, seed: Long,
      customers: Int, orders: Int, spineRows: Int): Unit = {
    val id = col("id")
    val o = spark.range(orders).select(
      id.as("o_orderkey"),
      floor(u(seed, "o_cust", id) * customers).cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), u(seed, "o_status", id)).as("o_orderstatus"),
      (floor(u(seed, "o_price", id) * 45000000L) / 100.0 + 900.0).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1995) +
        floor(u(seed, "o_date", id) * OrderDays) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, "o_prio", id)).as("o_orderpriority"))
    write(o, dir, "orders")

    write(spark.range(customers).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, "c_nation", id) * 25).cast("int").as("c_nationkey"),
      (floor(u(seed, "c_bal", id) * 1100000L) / 100.0 - 999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        u(seed, "c_seg", id)).as("c_mktsegment")), dir, "customer")

    // One to seven lines per order; prices in integer cents so the
    // daily sums are exact whatever the summation order.
    val lines = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("line", explode(sequence(lit(1),
        (floor(u(seed, "l_n", col("o_orderkey")) * 7) + 1).cast("int"))))
      .withColumn("qty", floor(u(seed, "l_qty", col("o_orderkey"), col("line")) * 50) + 1)
      .withColumn("cents", col("qty") *
        (floor(u(seed, "l_price", col("o_orderkey"), col("line")) * 110000) + 90000))
    write(lines.groupBy(col("o_custkey"), col("o_orderdate").as("day_ts"))
      .agg(count(lit(1)).as("li_lines"), sum("qty").cast("long").as("li_qty"),
        (sum("cents") / 100.0).as("li_revenue")), dir, "cust_lineitem_daily")

    // 3% of spine rows name a customer with no orders and no profile.
    write(spark.range(spineRows).select(
      (id * 7919 + seed % 7919).as("req_id"),
      floor(u(seed, "s_cust", id) * customers * 1.03).cast("long").as("o_custkey"),
      timestamp_seconds(lit(Epoch1995) +
        floor(u(seed, "s_ts", id) * OrderDays * 86400L)).as("event_timestamp")),
      dir, "spine")
  }

  private val Vocabulary = Seq(
    "the", "a", "data", "spark", "table", "row", "column", "query", "join",
    "scan", "sort", "hash", "group", "filter", "value", "key", "stream",
    "batch", "window", "order", "line", "part", "customer", "vector",
    "small", "big", "fast", "slow", "merge", "agg", "index", "shard",
    "token", "model", "feature", "label", "split", "record", "schema",
    "partition", "cluster", "planner", "executor", "task", "stage", "job",
    "plan", "cache", "spill", "shuffle", "block", "commit", "offset",
    "replica", "quorum", "ledger", "cursor", "buffer", "latency", "tuple",
    "predicate", "operator", "pipeline", "runtime")

  /** `documents` (doc_id, text, lang, source): Zipf-like words over a
    * 64-word vocabulary, 8 to 88 words each. Content is a function of a
    * content id, so 6% of rows repeat an earlier row's text (re-cased
    * or re-spaced: exact duplicates after normalization), 4% are too
    * short for the quality gate, and 5% carry a URL for clean_text to
    * strip. */
  def documents(spark: SparkSession, seed: Long, n: Int, firstId: Long = 0): DataFrame = {
    val id = col("id")
    val dupR = u(seed, "d_dup", id)
    val cid = when(dupR < 0.06 && id > 8, id - 1 - floor(u(seed, "d_src", id) * 8))
      .otherwise(id)
    val nWords = when(u(seed, "d_short", cid) < 0.04,
      floor(u(seed, "d_len", cid) * 3) + 1)
      .otherwise(floor(u(seed, "d_len", cid) * 81) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(typedLit(Vocabulary),
        (floor(pow(u(seed, "d_word", cid, i), 2.0) * Vocabulary.size) + 1).cast("int")))
    val base = array_join(words, " ")
    val withUrl = when(u(seed, "d_url", cid) < 0.05,
      concat(base, lit(" see https://example.org/"), cid.cast("string")))
      .otherwise(base)
    val varied = when(dupR < 0.03, upper(withUrl))
      .when(dupR < 0.06, regexp_replace(withUrl, " ", "  "))
      .otherwise(withUrl)
    spark.range(n).select(
      (id + firstId).as("doc_id"),
      varied.as("text"),
      pick(Seq("en", "de", "fr", "es", "zh"), u(seed, "d_lang", id)).as("lang"),
      concat(lit("src"), floor(u(seed, "d_source", id) * 20).cast("string")).as("source"))
  }
}
