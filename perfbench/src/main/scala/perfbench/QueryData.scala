package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables for the queries workload, with the schemas and value
  * domains of the engine's star-schema testdata (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings), at a scale factor where lineitem has 6,000,000 x sf rows.
  * Each table is one parquet file `<dir>/<name>.parquet`, the layout the
  * queries and their oracle SQL read. */
object QueryData {
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double) = math.max(1L, (base * sf).toLong)
    val (nCust, nSupp, nPart, nOrd) = (n(150000), n(10000), n(200000), n(1500000))
    def h(tag: Int): Column = xxhash64(lit(seed), lit(tag), col("id"))
    def u(tag: Int, m: Long): Column = pmod(h(tag), lit(m))
    def pickOf(tag: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(tag, xs.size) + 1).cast("int"))
    def day(tag: Int, from: Long, days: Long): Column =
      timestamp_seconds(lit(from) + u(tag, days) * 86400L).cast("timestamp_ntz")
    def range(rows: Long) = spark.range(rows).toDF("id")
    val jan1995 = 788918400L

    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$dir/.tmp-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      KvData.deleteTree(tmp)
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    write("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      ((u(2, 1099969L) - 99997L) / 100.0).as("c_acctbal"),
      pickOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(4, 25).cast("int").as("s_nationkey"),
      ((u(5, 1099969L) - 99997L) / 100.0).as("s_acctbal")))
    write("part", range(nPart).select(col("id").as("p_partkey"),
      concat(pickOf(6, Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")), lit(" "),
        pickOf(7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"))).as("p_name"),
      concat(lit("Brand#"), u(8, 25) + 1).as("p_brand"),
      pickOf(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (u(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")))
    write("orders", range(nOrd).select(col("id").as("o_orderkey"),
      u(11, nCust).as("o_custkey"),
      pickOf(12, Seq("F", "O", "P")).as("o_orderstatus"),
      (lit(1000.0) + u(13, 49900000L) / 100.0).as("o_totalprice"),
      day(14, jan1995, 2404).as("o_orderdate"),
      pickOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    val qty = (u(20, 50) + 1).cast("double")
    write("lineitem", range(n(6000000)).select(u(16, nOrd).as("l_orderkey"),
      u(17, nPart).as("l_partkey"), u(18, nSupp).as("l_suppkey"),
      (u(19, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(21, 120000L) / 100.0), 2).as("l_extendedprice"),
      (u(22, 11) / 100.0).as("l_discount"),
      (u(23, 9) / 100.0).as("l_tax"),
      pickOf(24, Seq("A", "N", "R")).as("l_returnflag"),
      pickOf(25, Seq("F", "O")).as("l_linestatus"),
      day(26, jan1995 + 86400L, 2499).as("l_shipdate")))
    val nEv = n(1000000)
    write("events", range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * (2592000000000L / nEv) + u(27, 2592000000000L / nEv))
        .cast("timestamp_ntz").as("ts"),
      u(28, n(15000)).as("user_id"),
      pickOf(29, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      (u(30, 49001) / 100.0 + 0.01).as("value"),
      concat(lit("{\"k\": "), u(31, 100), lit("}")).as("props")))
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    write("documents", range(n(50000))
      .withColumn("nw", (u(32, 90) + 10).cast("int"))
      .select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, nw), i -> element_at($vocab, " +
          s"cast(pmod(xxhash64(${seed}L, id, i), ${Vocab.size}) as int) + 1)))").as("text"),
        pickOf(33, Seq("en", "en", "en", "zh", "de", "fr", "es")).as("lang"),
        concat(lit("src"), u(34, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", range(n(50000)).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> cast(pmod(xxhash64(${seed}L, id, i, 7), 100000) / 100000.0 - 0.5 as float))")
        .as("embedding"),
      u(35, 10).cast("int").as("label")))
  }
}
