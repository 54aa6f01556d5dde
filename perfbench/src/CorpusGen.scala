package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for the registry's TPC-H-ish parquet fixtures
  * (region, nation, customer, supplier, orders, lineitem), with the
  * fixtures' column names, types and value shapes: 2-dp doubles, 1-7
  * lines per order, 25 nations in 5 regions. Parts are keys only: no
  * part table is written, as no measured query reads one. Every value is a hash of
  * (row id, seed, column), so a seed always gives the same rows, and the
  * row counts depend on `sf` only. Parts are drawn uniformly, so the
  * co-purchase graph of the operator lines has few, random edges.
  */
object CorpusGen {

  /** Table name -> rows at scale factor `sf`. */
  def rows(sf: Double): Map[String, Long] = {
    val orders = (1500000 * sf).toLong
    Map("region" -> 5L, "nation" -> 25L, "customer" -> (150000 * sf).toLong,
      "supplier" -> math.max(10L, (10000 * sf).toLong), "part" -> (200000 * sf).toLong,
      "orders" -> orders)
  }

  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val n = rows(sf)
    def h(k: Int): org.apache.spark.sql.Column = xxhash64(col("id"), lit(seed), lit(k))
    def u(k: Int, m: Long): org.apache.spark.sql.Column = pmod(h(k), lit(m))
    def money(k: Int, lo: Double, hi: Double) =
      round(lit(lo) + u(k, 1000000L).cast("double") / 1000000.0 * (hi - lo), 2)
    def day(k: Int, from: String, days: Int) =
      (lit(from).cast("timestamp") + make_dt_interval(u(k, days.toLong).cast("int")))
    def range(m: Long) = spark.range(0, m, 1, 1)
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(n("customer")).select((col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        u(3, 5).cast("int") + 1).as("c_mktsegment")))
    save("supplier", range(n("supplier")).select((col("id") + 1).as("s_suppkey"),
      format_string("Supplier#%09d", col("id") + 1).as("s_name"),
      u(1, 25).cast("int").as("s_nationkey"), money(2, -999.99, 9999.99).as("s_acctbal")))
    save("orders", range(n("orders")).select((col("id") + 1).as("o_orderkey"),
      (u(1, n("customer")) + 1).as("o_custkey"),
      when(u(2, 2) === 0, "F").otherwise("O").as("o_orderstatus"),
      money(3, 1000, 500000).as("o_totalprice"), day(4, "1995-01-01", 2404).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        u(5, 5).cast("int") + 1).as("o_orderpriority")))
    // 1-7 lines per order (4 on average), keyed by order*8 + line. One
    // order in 50 is a bulk order: 7 lines of 44-50 units, over the 300
    // units that q18_big_orders looks for.
    save("lineitem", range(n("orders") * 8)
      .withColumn("ok", (col("id") / 8).cast("long") + 1)
      .withColumn("ln", (col("id") % 8).cast("int"))
      .withColumn("bulk", pmod(xxhash64(col("ok"), lit(seed), lit(1)), lit(50L)) === 0)
      .filter(col("ln") >= 1 && (col("bulk") || col("ln") <= pmod(xxhash64(col("ok"), lit(seed)), lit(7L)) + 1))
      .select(col("ok").as("l_orderkey"), (u(1, n("part")) + 1).as("l_partkey"),
        (u(2, n("supplier")) + 1).as("l_suppkey"), col("ln").as("l_linenumber"),
        when(col("bulk"), u(3, 7) + 44).otherwise(u(3, 50) + 1).cast("double").as("l_quantity"),
        money(4, 900, 105000).as("l_extendedprice"),
        (u(5, 11).cast("double") / 100).as("l_discount"), (u(6, 9).cast("double") / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), u(7, 3).cast("int") + 1).as("l_returnflag"),
        when(u(8, 2) === 0, "F").otherwise("O").as("l_linestatus"),
        day(9, "1995-01-01", 2500).as("l_shipdate")))
  }
}
