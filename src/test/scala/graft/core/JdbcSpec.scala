package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** JDBC source/sink parity (reference: Postgres catalog + offline store,
  * README.md:16, sqlmodel dep projects/feray/pyproject.toml:27). Derby ships
  * with Spark, so the same `df.write.jdbc` path that would target Postgres is
  * exercised end-to-end against an embedded Derby database. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc round-trip: write a feature table, read it back, push a filter") {
    val url = s"jdbc:derby:${tmpDir("derby")}/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    val df = Seq((1L, "a", 10.5), (2L, "b", 20.5), (3L, "c", 30.5))
      .toDF("entity_id", "name", "score")
    df.write.mode("overwrite").jdbc(url, "features", props)

    val back = spark.read.jdbc(url, "features", props)
    assert(back.count() == 3)
    assert(back.schema.fieldNames.toSet == Set("entity_id", "name", "score"))
    // predicate pushdown to the JDBC source (shows up as a WHERE in the
    // generated SQL; observable: filtered count without full scan semantics)
    val filtered = back.filter(col("score") > 15.0)
    assert(filtered.count() == 2)
    // partitioned parallel read (the 100 TB ingest shape: one task per range)
    val ranged = spark.read.jdbc(url, "features", "entity_id", 1L, 4L, 2, props)
    assert(ranged.rdd.getNumPartitions == 2)
    assert(ranged.count() == 3)
  }

  test("JdbcRegistry: the full runner works against a JDBC catalog") {
    val url = s"jdbc:derby:${tmpDir("derby")}/catdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val store = new BucketedStore(tmpDir("jdbc_store"), numBuckets = 16)
    val registry = new JdbcRegistry(url, "graft_runs", props)
    val feature = FeatureDef("cnt_by_seg", Seq("c_mktsegment"), "v1",
      df => df.groupBy("c_mktsegment").agg(count(lit(1)).as("n")))
    val input = graft.Tables.load(spark, sfDir, "customer")
    val up = Seq("customer-v1")
    val r1 = PipelineRunner.runBucketed(feature, input, store, registry, upstreamDataVersions = up)
    assert(!r1.memoHit && r1.report.status == "ok")
    // second run: the fingerprint short-circuit reads the last run back
    // THROUGH JDBC
    val r2 = PipelineRunner.runBucketed(feature, input, store, registry, upstreamDataVersions = up)
    assert(r2.memoHit && r2.report.nNovel == 0)
    assert(r2.report.fingerprint == r1.report.fingerprint)
    assert(registry.runs(Some("cnt_by_seg")).count() == 2)
  }
}
