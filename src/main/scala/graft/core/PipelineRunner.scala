package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialization runner: the engine's replacement for the reference's
  * orchestration lifecycle (reference: E2/E3 in SURVEY.md §3 — Dagster asset
  * fn → Ray tasks → materialization report; defs/ray/ray_integration.py:44-55,
  * ray_external.py:10-15).
  *
  * One run =
  *  1. feature-level fingerprint short-circuit (A8/A10): same code version +
  *     same upstream data versions as the last ok run ⇒ skip before any job.
  *  2. transform (user DataFrame code — Catalyst plans it).
  *  3. append system columns (record hash / code version, A11).
  *  4. record-level memoization (A10): `left_anti` join against the stored
  *     (entityKeys, __data_hash, __code_version) — only NOVEL records are
  *     new work. The anti-join is one keyed shuffle on the entity key; the
  *     stored side prunes to 3 small columns.
  *  5. MERGE-upsert novel records into the [[BucketedStore]] (A5): only the
  *     hash-buckets the novel records touch get rewritten.
  *  6. checks in one aggregate pass (A7); run report → registry (A3/A5).
  *
  * Per-record failure tolerance (A2) lives in the transform itself via
  * [[graft.ops.SafeMap]] — errors are data, so a run is never half-lost.
  */
object PipelineRunner {

  final case class RunResult(report: RunReport, memoHit: Boolean)

  /** Materialize a whole feature DAG in topological order. Each feature's
    * input is built by `inputFor` (from raw tables and/or upstream feature
    * tables in the store); upstream DATA VERSIONS chain into each downstream
    * fingerprint, so an unchanged upstream short-circuits the downstream run
    * (A8 automation: recompute iff upstream changed or output missing). */
  def runGraph(
      graph: FeatureGraph,
      inputFor: (FeatureDef, BucketedStore) => DataFrame,
      store: BucketedStore,
      registry: Registry,
      checks: Map[String, Seq[Check]] = Map.empty)
      (implicit spark: SparkSession): Map[String, RunResult] = {
    val done = scala.collection.mutable.LinkedHashMap[String, RunResult]()
    graph.topoOrder.foreach { f =>
      val upstreamVersions = graph.deps.getOrElse(f.name, Nil)
        .map(up => done(up).report.dataVersion)
      done += f.name -> runBucketed(f, inputFor(f, store), store, registry,
        checks.getOrElse(f.name, Nil), upstreamDataVersions = upstreamVersions)
    }
    done.toMap
  }

  /** One run of `feature` over `input` into `store` (steps 1-6 above). The
    * upsert is the FILE-LEVEL merge, so an incremental run's write cost is
    * proportional to the change, not the table. The short-circuit reads the
    * registry (a Spark job) only when `upstreamDataVersions` is non-empty:
    * without them the fingerprint is the code version alone, which the
    * record-level memo already covers. */
  def runBucketed(
      feature: FeatureDef,
      input: DataFrame,
      store: BucketedStore,
      registry: Registry,
      checks: Seq[Check] = Seq.empty,
      upstreamDataVersions: Seq[String] = Nil)
      (implicit spark: SparkSession): RunResult = {
    val startedAt = new java.sql.Timestamp(System.currentTimeMillis())
    val runId = java.util.UUID.randomUUID().toString
    val fingerprint = Versioning.pipelineFingerprint(feature.codeVersion, upstreamDataVersions)

    // 1. feature-level short-circuit: nothing upstream changed → no job
    if (upstreamDataVersions.nonEmpty) registry.latestRun(feature.name) match {
      case Some(last) if last.fingerprint == fingerprint =>
        val report = last.copy(runId = runId, nNovel = 0L, memoHit = true,
          startedAt = startedAt, finishedAt = new java.sql.Timestamp(System.currentTimeMillis()))
        registry.record(report)
        return RunResult(report, memoHit = true)
      case _ => ()
    }

    // 2-4. transform + system columns, then only the novel records
    val transformed = Versioning.withSystemColumns(feature.transform(input), feature)
    val memoKey = feature.entityKeys :+ Versioning.DataHashCol :+ Versioning.CodeVersionCol
    val prev = store.latestVersion(feature.name)
    val novel = prev match {
      case None => transformed
      case Some(_) =>
        val storedIds = store.read(feature.name, feature.entityKeys).select(memoKey.map(col): _*)
        transformed.join(storedIds, memoKey, "left_anti")
    }
    // 5. upsert (cache: novel is counted, then written)
    novel.cache()
    try {
      val nNovel = novel.count()
      val memoHit = nNovel == 0 && prev.isDefined
      val storeVersion = prev match {
        case Some(v) if memoHit => v
        case Some(_) => store.merge(feature.name, novel, feature.entityKeys)
        case None => store.write(novel, feature.name, feature.entityKeys)
      }
      // 6. checks + data version + row count over the materialized table,
      // fused into ONE aggregation job
      val materialized = store.read(feature.name, feature.entityKeys)
      val row = materialized.agg(
        sum(col(Versioning.DataHashCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("__h"),
        (count(lit(1)).as("__n") +: checks.map(_.agg)): _*).collect()(0)
      val hashSum = if (row.isNullAt(0)) "0" else row.getDecimal(0).toBigInteger.toString(16)
      val nRows = row.getLong(1)
      val checkResults = checks.zipWithIndex.map { case (c, i) =>
        val v = row.get(i + 2)
        CheckResult(c.name, v != null && c.pass(v), String.valueOf(v))
      }
      val failures = checkResults.filterNot(_.passed).map(r => s"${r.name}=${r.observed}")
      val report = RunReport(feature.name, runId, feature.codeVersion,
        s"$hashSum-$nRows", fingerprint = fingerprint, storeVersion = storeVersion,
        nRows = nRows, nNovel = nNovel, memoHit = memoHit,
        status = if (failures.isEmpty) "ok" else "check_failed",
        startedAt = startedAt,
        finishedAt = new java.sql.Timestamp(System.currentTimeMillis()),
        checkFailures = failures)
      registry.record(report)
      RunResult(report, memoHit)
    } finally novel.unpersist()
  }
}
