package graft.core

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The M0 contract (SURVEY §7): feature runs end-to-end; an identical second
  * run is a record-level memo hit computing 0 novel rows; a changed input
  * recomputes exactly the changed records. */
class RunnerSpec extends SparkSpec {

  private def mkFeature(code: String = "v1") = FeatureDef(
    name = "customer_order_stats",
    entityKeys = Seq("c_custkey"),
    codeVersion = code,
    transform = df => df
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spend"),
        max(col("o_orderdate")).as("last_order")))

  private def inputDf = {
    val cust = Tables.load(spark, sfDir, "customer")
    val ord = Tables.load(spark, sfDir, "orders")
    cust.join(ord, col("c_custkey") === col("o_custkey"))
  }

  test("M0: run, memo-hit on rerun, incremental on change") {
    val root = tmpDir("graft_store")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val feature = mkFeature()

    // first run: everything is novel
    val r1 = PipelineRunner.runBucketed(feature, inputDf, store, registry,
      checks = Seq(Checks.notNull("c_custkey"), Checks.unique(Seq("c_custkey")), Checks.rowCountMin(1)))
    assert(!r1.memoHit)
    assert(r1.report.nNovel > 0)
    assert(r1.report.status == "ok")
    assert(r1.report.nRows == r1.report.nNovel)

    // identical second run: record-level memo hit, zero novel records
    val r2 = PipelineRunner.runBucketed(feature, inputDf, store, registry)
    assert(r2.memoHit)
    assert(r2.report.nNovel == 0)
    assert(r2.report.storeVersion == r1.report.storeVersion, "no new version on memo hit")
    assert(r2.report.dataVersion == r1.report.dataVersion)

    // drop one customer's orders → exactly that record recomputes
    val changed = inputDf.filter(col("o_orderkey") =!= inputDf
      .select(min("o_orderkey")).collect()(0).getLong(0))
    val r3 = PipelineRunner.runBucketed(feature, changed, store, registry)
    assert(!r3.memoHit)
    assert(r3.report.nNovel == 1, s"expected exactly 1 novel record, got ${r3.report.nNovel}")
    // the upsert replaced, not appended: row count unchanged
    assert(r3.report.nRows == r1.report.nRows)

    // code-version bump → full recompute: every row is novel, and the
    // whole novel set is merged (collected on the driver) as ONE version
    val v2 = mkFeature("v2")
    val vBefore = store.versions(v2.name)
    val r4 = PipelineRunner.runBucketed(v2, inputDf, store, registry)
    assert(r4.report.nNovel == r1.report.nRows)
    assert(r4.report.nNovel == r4.report.nRows)
    assert(store.versions(v2.name) == vBefore :+ (vBefore.last + 1), "exactly one new version")
    assert(r4.report.storeVersion == vBefore.last + 1)
    val stored = store.read(v2.name, v2.entityKeys)
    assert(stored.where(col(Versioning.CodeVersionCol) =!= "v2").isEmpty,
      "every stored row carries the new code version")
    val cols = Seq("c_custkey", "n_orders", "total_spend", "last_order")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(rows(stored) == rows(v2.transform(inputDf)))
  }

  test("feature-level fingerprint short-circuits before any job") {
    val root = tmpDir("graft_store")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val feature = mkFeature()
    val up = Seq("upstream-v1")
    val r1 = PipelineRunner.runBucketed(feature, inputDf, store, registry, upstreamDataVersions = up)
    assert(!r1.memoHit)
    val r2 = PipelineRunner.runBucketed(feature, inputDf, store, registry, upstreamDataVersions = up)
    assert(r2.memoHit && r2.report.nNovel == 0)
    // upstream version change → fingerprint differs so the run executes,
    // but identical input rows still memo-hit at the RECORD level (0 novel)
    val r3 = PipelineRunner.runBucketed(feature, inputDf, store, registry, upstreamDataVersions = Seq("upstream-v2"))
    assert(r3.report.fingerprint != r2.report.fingerprint)
    assert(r3.report.nNovel == 0)
  }

  test("the registry is read only when upstream data versions are given") {
    val root = tmpDir("graft_store")
    val store = new BucketedStore(root, numBuckets = 16)
    final class CountingRegistry extends Registry(root) {
      var reads = 0
      override def latestRun(feature: String): Option[RunReport] = {
        reads += 1
        super.latestRun(feature)
      }
    }
    val registry = new CountingRegistry
    var transforms = 0
    val base = mkFeature()
    val feature = base.copy(transform = df => { transforms += 1; base.transform(df) })
    PipelineRunner.runBucketed(feature, inputDf, store, registry)
    PipelineRunner.runBucketed(feature, inputDf, store, registry)
    assert(registry.reads == 0, "no upstream versions: the registry is not read")
    val up = Seq("upstream-v1")
    PipelineRunner.runBucketed(feature, inputDf, store, registry, upstreamDataVersions = up)
    assert(registry.reads == 1)
    assert(transforms == 3)
    // the second identical run short-circuits on the fingerprint: one
    // registry read, and the transform never runs
    val r = PipelineRunner.runBucketed(feature, inputDf, store, registry, upstreamDataVersions = up)
    assert(r.memoHit && r.report.nNovel == 0)
    assert(registry.reads == 2)
    assert(transforms == 3, "a fingerprint hit runs no transform")
  }

  test("failed check is reported and recorded") {
    val root = tmpDir("graft_store")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val r = PipelineRunner.runBucketed(mkFeature(), inputDf, store, registry,
      checks = Seq(Checks.rowCountMin(Long.MaxValue)))
    assert(r.report.status == "check_failed")
    assert(r.report.checkFailures.nonEmpty)
    assert(registry.runs(Some("customer_order_stats")).count() == 1)
  }

  test("runGraph: topo order, upstream data versions chain into fingerprints") {
    val root = tmpDir("graft_graph")
    val store = new BucketedStore(root, numBuckets = 16)
    val registry = new Registry(root)
    val base = FeatureDef("order_totals", Seq("o_custkey"), "v1",
      df => df.groupBy("o_custkey").agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend")))
    val derived = FeatureDef("spend_tier", Seq("o_custkey"), "v1",
      df => df.select(col("o_custkey"),
        when(col("spend") > 100000, "high").otherwise("low").as("tier")))
    val graph = FeatureGraph(Seq(base, derived), deps = Map("spend_tier" -> Seq("order_totals")))
    def inputs(f: FeatureDef, st: BucketedStore) = f.name match {
      case "order_totals" => Tables.load(spark, sfDir, "orders")
      case "spend_tier" => st.read("order_totals", Seq("o_custkey"))
    }
    val r1 = PipelineRunner.runGraph(graph, inputs, store, registry)
    assert(!r1("order_totals").memoHit && !r1("spend_tier").memoHit)
    assert(store.read("spend_tier", Seq("o_custkey")).count() > 0)
    // nothing changed: BOTH features short-circuit (downstream via the
    // upstream data-version fingerprint)
    val r2 = PipelineRunner.runGraph(graph, inputs, store, registry)
    assert(r2("order_totals").memoHit && r2("spend_tier").memoHit)
    assert(r2("spend_tier").report.nNovel == 0)
  }
}
