package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped `orders` and `lineitem` tables: the only inputs
  * `graft.synth.Transcripts` and `graft.block.Labels` read. Every value is
  * a hash of (seed, salt, key), so one seed always gives the same tables,
  * whatever the partitioning. Table sizes depend only on the order count;
  * the seed moves line counts (1..7 per order), part and supplier keys,
  * quantities, flags and dates. Part and supplier key ranges are those of
  * TPC-H sf0.01 (2000 parts, 100 suppliers), so fewer orders make a
  * conversation sample of an sf0.01 corpus with sf0.01 block densities.
  */
object Data {
  /** Orders of TPC-H sf0.01 (= 1.5M × sf). */
  val Sf001Orders = 15000L
  private val Parts = 2000L
  private val Supps = 100L
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def write(spark: SparkSession, dir: String, orders: Long,
            seed: Long): Unit = {
    def draw(salt: String, mod: Long, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(mod))
    def pick(values: Seq[String], salt: String, keys: Column*): Column =
      element_at(array(values.map(lit): _*),
        (draw(salt, values.size.toLong, keys: _*) + 1).cast("int"))
    val keys = spark.range(orders).select(col("id").as("k"))
    keys.select(col("k").as("o_orderkey"),
        pick(Priorities, "prio", col("k")).as("o_orderpriority"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val line = Seq(col("k"), col("n"))
    keys
      .select(col("k"),
        explode(sequence(lit(1), (draw("lines", 7, col("k")) + 1)
          .cast("int"))).as("n"))
      .select(col("k").as("l_orderkey"),
        draw("part", Parts, line: _*).as("l_partkey"),
        draw("supp", Supps, line: _*).as("l_suppkey"),
        col("n").as("l_linenumber"),
        (draw("qty", 50, line: _*) + 1).cast("double").as("l_quantity"),
        pick(Seq("A", "N", "R"), "flag", line: _*).as("l_returnflag"),
        pick(Seq("F", "O"), "status", line: _*).as("l_linestatus"),
        date_add(lit("1992-01-02").cast("date"),
          draw("ship", 2526, line: _*).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }
}
