package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row id),
  * so the same seed writes the same rows whatever the partitioning, and the
  * program under test sees only the parquet written here. */
object Inputs {

  /** Uniform double in [0, 1) drawn from (seed, salt, key). */
  def u(seed: Long, salt: Int, key: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), key), 11).cast("double") / 9007199254740992.0

  private def pick(r: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (r * values.size).cast("int") + 1)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** TPC-H-shaped orders and lineitem. Each order has 1..7 lines (mean 4,
    * the TPC-H fan-out), and about 2% of lines have zero quantity so the
    * pipeline's `l_quantity > 0` filter drops rows. */
  def sales(spark: SparkSession, dir: String, seed: Long, orders: Long): Unit = {
    val id = col("id")
    write(spark.range(orders).select(
      id.as("o_orderkey"),
      (u(seed, 1, id) * (orders / 10 + 1)).cast("long").as("o_custkey"),
      pick(u(seed, 2, id), Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, 3, id) * 400000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + (u(seed, 4, id) * 2400).cast("long") * 86400)
        .as("o_orderdate"),
      pick(u(seed, 5, id), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), s"$dir/orders.parquet")

    val rid = col("l_orderkey") * 8 + col("l_linenumber")
    val qty = floor(u(seed, 12, rid) * 51).cast("double")
    write(spark.range(orders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (u(seed, 11, id) * 7).cast("int") + 1)).as("l_linenumber"))
      .select(
        col("l_orderkey"),
        (u(seed, 13, rid) * (orders / 7 + 1)).cast("long").as("l_partkey"),
        (u(seed, 14, rid) * (orders / 150 + 1)).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (u(seed, 15, rid) * 1100 + 900), 2).as("l_extendedprice"),
        (floor(u(seed, 16, rid) * 11) / 100).as("l_discount"),
        (floor(u(seed, 17, rid) * 9) / 100).as("l_tax"),
        pick(u(seed, 18, rid), Seq("A", "N", "R")).as("l_returnflag"),
        pick(u(seed, 19, rid), Seq("F", "O")).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + (u(seed, 20, rid) * 2520).cast("long") * 86400)
          .as("l_shipdate")), s"$dir/lineitem.parquet")
  }

  /** A raw event log with string timestamps. User ids are skewed (id =
    * users·r³, so user 0 alone holds about users^(-1/3) of all events), and
    * each event falls in one of 40 per-user bursts of at most 20 minutes,
    * spread over 30 days, so a 30-minute gap splits a user's events into
    * sessions. About 0.2% of rows have a null user and 0.2% a null ts. */
  def events(spark: SparkSession, dir: String, seed: Long, n: Long, users: Int): Unit = {
    val id = col("id")
    val user = floor(pow(u(seed, 21, id), 3) * users).cast("long")
    val burst = floor(u(seed, 22, id) * 40).cast("long")
    val burstStart = floor(u(seed, 23, user * 64 + burst) * 30 * 86400).cast("long")
    val micros = lit(1704067200L * 1000000L) +
      (burstStart + floor(u(seed, 24, id) * 1200).cast("long")) * 1000000L +
      floor(u(seed, 25, id) * 1000000).cast("long")
    write(spark.range(n).select(
      id.as("event_id"),
      when(u(seed, 26, id) < 0.002, lit(null).cast("string"))
        .otherwise(date_format(timestamp_micros(micros), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as("ts"),
      when(u(seed, 27, id) < 0.002, lit(null).cast("long")).otherwise(user).as("user_id"),
      pick(u(seed, 28, id), Seq("view", "view", "view", "click", "click", "purchase", "signup", "error"))
        .as("event_type"),
      round(u(seed, 29, id) * 200, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, 30, id) * 100).cast("string"), lit("}")).as("props")),
      s"$dir/events.parquet")
  }

  private val vocab = Seq("the", "a", "data", "table", "row", "column", "join", "filter",
    "group", "sort", "order", "key", "value", "scan", "merge", "hash", "window", "stream",
    "batch", "query", "spark", "vector", "line", "part", "customer", "agg", "big", "small",
    "fast", "slow")

  /** A web-crawl-shaped corpus: 20 sources round-robin, 10..100 words drawn
    * from a 30-word vocabulary (text the lang and quality gates keep), a
    * 41% `en` label share, and 5% near-duplicates (an earlier document's
    * text plus a trailing token), plus a blocklist of 50 seeded ids. */
  def documents(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    val id = col("id")
    val words = array(vocab.map(lit): _*)
    val base = spark.range(n).select(id.as("src_id"),
      array_join(transform(sequence(lit(1), (u(seed, 31, id) * 91).cast("int") + 10),
        k => element_at(words, (pmod(xxhash64(lit(seed), lit(32), id, k), lit(30L)) + 1).cast("int"))),
        " ").as("base_text"))
    val r = u(seed, 34, id)
    val docs = spark.range(n)
      .withColumn("src_id", when(u(seed, 33, id) < 0.05 && id > 0,
        floor(u(seed, 35, id) * id).cast("long")).otherwise(id))
      .join(base, "src_id")
      .select(
        id.as("doc_id"),
        when(col("src_id") === id, col("base_text"))
          .otherwise(concat(col("base_text"), lit(" dup"))).as("text"),
        when(r < 0.41, "en").when(r < 0.56, "de").when(r < 0.71, "es").when(r < 0.86, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, s"$dir/documents.parquet")
    write(spark.range(50).select(floor(u(seed, 36, col("id")) * n).cast("long").as("bad_id")),
      s"$dir/blocklist.parquet")
  }
}
