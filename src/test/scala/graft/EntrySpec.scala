package graft

import org.apache.spark.sql.functions._

/** `SparkEntry.entry`, called as the driver calls it: the M0 feature
  * pipeline's materialized table must hold rows, and those rows must be the
  * customer ⋈ orders aggregate computed directly over the same fixture. */
class EntrySpec extends SparkSpec {

  test("entry() materializes the customer-order feature; rows equal a direct groupBy") {
    val out = SparkEntry.entry(spark)
    val cols = Seq("c_custkey", "n_orders", "total_spend", "last_order")
    val got = out.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    val direct = Tables.load(spark, sfDir, "customer")
      .join(Tables.load(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_spend"),
        max(col("o_orderdate")).as("last_order"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == direct)
  }
}
