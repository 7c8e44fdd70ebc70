package graft.core

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Feature containers — a feature with sub-features (reference: README.md:22)
  * — modeled as nested StructType columns (SURVEY §1.1): one table keyed by
  * entity, each sub-feature group one struct column, accessed by dot path.
  * The whole container participates in record-level hashing/memoization like
  * any flat column. */
class FeatureContainerSpec extends SparkSpec {
  import spark.implicits._

  private val container = FeatureDef(
    name = "customer_container",
    entityKeys = Seq("c_custkey"),
    codeVersion = "v1",
    transform = df => df.groupBy("c_custkey").agg(
      struct(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
        .as("order_stats"),
      struct(
        min(col("o_orderdate")).as("first"),
        max(col("o_orderdate")).as("last")).as("recency")))

  test("container feature: struct sub-features materialize, memoize, and query by dot path") {
    val root = tmpDir("container")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val input = Tables.load(spark, sfDir, "customer")
      .join(Tables.load(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"))

    val r1 = PipelineRunner.runBucketed(container, input, store, registry)
    assert(!r1.memoHit && r1.report.nNovel > 0)
    // sub-feature access by dot path
    val t = store.read(container.name, container.entityKeys)
    val row = t.select(col("c_custkey"), col("order_stats.n_orders"),
      col("order_stats.spend"), col("recency.last"))
      .orderBy("c_custkey").limit(1).collect()(0)
    assert(row.getLong(1) > 0 && row.getDouble(2) > 0)

    // struct payloads hash stably: rerun is a record-level memo hit
    val r2 = PipelineRunner.runBucketed(container, input, store, registry)
    assert(r2.memoHit && r2.report.nNovel == 0)

    // changing ONE sub-feature of ONE entity recomputes exactly that record
    val drop = input.select(min("o_orderkey")).collect()(0).getLong(0)
    val r3 = PipelineRunner.runBucketed(container, input.filter(col("o_orderkey") =!= drop),
      store, registry)
    assert(r3.report.nNovel == 1)
  }
}
