package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BucketedStore, Checks, FeatureDef, PipelineRunner, Registry, RunReport, Versioning}
import graft.streaming.Fastlane

/** `feature_lane`: one BucketedStore carrying a batch feature (a per-key
  * aggregate over an event log, materialized with PipelineRunner) and a
  * serving feature (per-key latest value, written by single-row fastlane
  * serves). After one cold backfill the run makes a fixed number of cycles
  * of refresh (about 1% of keys changed), memo-hit rerun, a burst of serves
  * on Zipf-skewed keys and point lookups over both features. */
final class FeatureLane(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload(spark, tr) {
  import spark.implicits._

  val NKeys = 1500
  val NEvents = 100000
  val ChangedKeyShare = 0.01
  val Serves = 6
  val Lookups = 20
  val Cycles = 1
  val NumBuckets = 32

  private val aggFeature = FeatureDef("key_agg", Seq("key"), "v1", df =>
    df.groupBy("key").agg(count(lit(1)).as("n"), sum("value").as("total"),
      max("value").as("top")))
  private val latestFeature = FeatureDef("key_latest", Seq("key"), "v1", df =>
    df.groupBy("key").agg(max_by(col("value"), col("seq")).as("latest"),
      max("seq").as("seq")))
  private val checks = Seq(Checks.notNull("total"), Checks.unique(Seq("key")),
    Checks.rowCountMin(NKeys.toLong))

  private var root: String = _
  private var bootstrap: DataFrame = _
  private var deltaRows: Map[Int, Seq[(Long, Long)]] = Map.empty
  private var store: BucketedStore = _
  private var registry: Registry = _
  private var advisory = 0L
  // driver-side truth: per-key (count, total, top) and last served value
  private val aggTruth = mutable.HashMap.empty[Long, (Long, Long, Long)]
  private val latestTruth = mutable.HashMap.empty[Long, Long]
  private var rng: Random = _
  private val zipf = new Gen.Zipf(NKeys, 1.1)
  private var seq = 0L

  private val backfillMs, refreshMs, memoMs, serveMs, lookupMs =
    mutable.ArrayBuffer.empty[Double]
  private var lastReport: Option[RunReport] = None
  private val reportsOk = mutable.ArrayBuffer.empty[Boolean]
  private val memoFlags = mutable.ArrayBuffer.empty[Boolean]
  private val lookupMismatches = mutable.ArrayBuffer.empty[String]
  private val refreshNovel = mutable.ArrayBuffer.empty[Double]
  private val storeStats = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
  private val writeAmp, rewriteFrac = mutable.ArrayBuffer.empty[Double]
  private val batchLane = mutable.ArrayBuffer.empty[(Long, Double)] // input rows, ms

  def advisoryBytes: Long = advisory
  private def input: DataFrame = spark.read.schema("key LONG, value LONG").parquet(s"$root/events")

  def generate(repeat: Int): Unit = {
    root = s"$work/feature-$repeat"
    rm(root)
    rng = new Random(seed)
    aggTruth.clear(); latestTruth.clear(); seq = 0L
    val base = Gen.events(rng, NKeys, NEvents)
    base.foreach(e => fold(e.key, e.value))
    base.toDF().repartition(4).write.parquet(s"$root/events")
    // every cycle's changed keys, written once here, moved in per cycle
    val deltas = (1 to Cycles).flatMap { c =>
      (0 until (NKeys * ChangedKeyShare).toInt).map(_ =>
        (c, rng.nextInt(NKeys).toLong, rng.nextInt(1000000).toLong))
    }
    deltas.toDF("cycle", "key", "value").repartition(1, col("cycle"))
      .write.partitionBy("cycle").parquet(s"$root/deltas")
    deltaRows = deltas.groupBy(_._1).map { case (c, xs) => c -> xs.map(x => (x._2, x._3)) }
    advisory = graft.BenchConf.advisoryFor(s"$root/events", Runtime.getRuntime.availableProcessors())
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
    store = new BucketedStore(s"$root/store", numBuckets = NumBuckets)
    registry = new Registry(s"$root/registry")(spark)
    // bootstrap the serving feature: every key's initial latest value
    val boot = (0 until NKeys).map(k => (k.toLong, rng.nextInt(1000000).toLong, 0L))
    boot.foreach { case (k, v, _) => latestTruth(k) = v }
    bootstrap = boot.toDF("key", "value", "seq")
  }

  private def fold(k: Long, v: Long): Unit = {
    val (n, t, m) = aggTruth.getOrElse(k, (0L, 0L, Long.MinValue))
    aggTruth(k) = (n + 1, t + v, math.max(m, v))
  }

  /** Bootstrap the serving feature (a serve of every key's initial value),
    * then single-row serves and a lookup on a throwaway store, so the
    * serving path is JIT-compiled. The backfill, the first timed operation,
    * warms the batch lane. */
  def warmUp(): Unit = {
    Fastlane.serveOnceBucketed(latestFeature, bootstrap, store)(spark)
    val ws = new BucketedStore(s"$root/warm", numBuckets = NumBuckets)
    (0L to 1L).foreach(i => Fastlane.serveOnceBucketed(latestFeature,
      Seq((1L, i, i)).toDF("key", "value", "seq"), ws)(spark))
    ws.lookup(latestFeature.name, Seq("key"), Seq(1L)).collect()
  }

  // ---- traced-run store accounting, taken outside every span

  private def versionCount: Double =
    Seq(aggFeature.name, latestFeature.name).map(f => store.versions(f).size).sum.toDouble

  /** Run `body` as operation `op`; when tracing, diff the store around it. */
  private def storeOp[T](op: String, samples: mutable.ArrayBuffer[Double])(body: => T): Option[T] = {
    if (!tr.enabled) return timed(op, samples)(body)
    val (v0, f0) = (versionCount, dirFiles(s"$root/store"))
    val r = timed(op, samples)(body)
    val (bytes, files) = added(f0, dirFiles(s"$root/store"))
    storeStats.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
      ((versionCount - v0, bytes, files))
    r
  }

  private def runAgg(op: String, samples: mutable.ArrayBuffer[Double]): Unit = {
    val df = input
    val rows = aggTruth.values.map(_._1).sum
    storeOp(op, samples) {
      tr.call("core.runner", "PipelineRunner.runBucketed") {
        PipelineRunner.runBucketed(aggFeature, df, store, registry, checks)(spark)
      }
    }.foreach { r =>
      batchLane += ((rows, samples.last))
      lastReport = Some(r.report)
      reportsOk += (r.report.status == "ok")
      if (op == "memo_hit") memoFlags += r.memoHit
      if (op == "refresh") {
        refreshNovel += r.report.nNovel.toDouble / rows
        if (tr.enabled) writeAmp += storeStats("refresh").last._2 / (r.report.nNovel * bytesPerRow)
      }
    }
  }

  /** A fixed amount of work: the backfill, then [[Cycles]] cycles. */
  def run(): Unit = {
    runAgg("backfill", backfillMs)
    (1 to Cycles).foreach { cycle =>
      // (a) about 1% of keys get a new event; refresh
      new java.io.File(s"$root/deltas/cycle=$cycle").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$root/events/delta-$cycle-${f.getName}")))
      deltaRows(cycle).foreach { case (k, v) => fold(k, v) }
      if (tr.enabled) traceRefreshShape(deltaRows(cycle).map(_._1).distinct)
      runAgg("refresh", refreshMs)
      // (b) unchanged input: memo hit
      runAgg("memo_hit", memoMs)
      // (c) single-row serves on Zipf-skewed keys
      val served = mutable.ArrayBuffer.empty[Long]
      (1 to Serves).foreach { _ =>
        val k = zipf.sample(rng).toLong
        val v = rng.nextInt(1000000).toLong
        seq += 1
        val row = Seq((k, v, seq)).toDF("key", "value", "seq")
        storeOp("serve", serveMs) {
          tr.call("core.store", "Fastlane.serveOnceBucketed") {
            Fastlane.serveOnceBucketed(latestFeature, row, store)(spark)
          }
        }.foreach { _ => latestTruth(k) = v; served += k }
      }
      // (d) point lookups over both features: just-served and cold keys
      (1 to Lookups).foreach { i =>
        val k = if (i % 2 == 0 && served.nonEmpty) served(rng.nextInt(served.size))
          else rng.nextInt(NKeys).toLong
        val (feature, want) =
          if (i % 4 < 2) (latestFeature.name, latestTruth.get(k).map(v => s"$v").toSeq)
          else (aggFeature.name, aggTruth.get(k).map { case (n, t, m) => s"$n,$t,$m" }.toSeq)
        storeOp("lookup", lookupMs) {
          val df = tr.call("core.store", "BucketedStore.lookup") {
            store.lookup(feature, Seq("key"), Seq(k))
          }
          tr.call("spark", "collect")(df.collect())
        }.foreach { rows =>
          val got = rows.toSeq.map(r =>
            if (feature == latestFeature.name) s"${r.getAs[Long]("latest")}"
            else s"${r.getAs[Long]("n")},${r.getAs[Long]("total")},${r.getAs[Long]("top")}")
          if (got != want) lookupMismatches += s"$feature[$k] got $got want $want"
        }
      }
    }
  }

  /** Refresh shape, taken before the refresh and outside its span: the
    * fraction of buckets the changed keys touch, and the stored bytes per
    * row that turn the refresh's novel rows into bytes. */
  private var bytesPerRow = Double.NaN
  private def traceRefreshShape(keys: Seq[Long]): Unit = {
    val changed = Versioning.withSystemColumns(
      aggFeature.transform(input.where(col("key").isin(keys: _*))), aggFeature)
    rewriteFrac += store.rewriteFraction(aggFeature.name, changed, aggFeature.entityKeys)
    val current = store.read(aggFeature.name, aggFeature.entityKeys)
    val bytes = current.inputFiles.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    bytesPerRow = bytes.toDouble / math.max(1L, current.count())
  }

  val checksRun = 4
  def check(): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    if (reportsOk.contains(false)) f += "a run report failed its Checks"
    if (memoFlags.contains(false)) f += "an unchanged rerun was not a memo hit"
    lastReport.foreach { rep =>
      val fresh = Versioning.dataVersion(
        Versioning.withSystemColumns(aggFeature.transform(input), aggFeature))
      if (rep.dataVersion != fresh)
        f += s"dataVersion ${rep.dataVersion} != from-scratch $fresh"
    }
    if (lookupMismatches.nonEmpty)
      f += s"${lookupMismatches.size} lookups disagree, first: ${lookupMismatches.head}"
    f.toSeq
  }

  def e2e: Seq[(String, (Double, String))] =
    Seq(
      "backfill_s" -> (backfillMs.head / 1000.0, "s"),
      "refresh_s" -> (Stats.median(refreshMs.toSeq) / 1000.0, "s"),
      "memo_hit_s" -> (Stats.median(memoMs.toSeq) / 1000.0, "s"),
      "serve_p50_ms" -> (Stats.median(serveMs.toSeq), "ms"),
      "serve_p90_ms" -> (Stats.pct(serveMs.toSeq, 0.9), "ms"),
      "lookup_p50_ms" -> (Stats.median(lookupMs.toSeq), "ms"),
      "lookup_p90_ms" -> (Stats.pct(lookupMs.toSeq, 0.9), "ms"),
      "batch_lane_rows_per_s" ->
        (batchLane.map(_._1).sum / (batchLane.map(_._2).sum / 1000.0), "rows/s"))

  def sampleCounts: Seq[(String, Int)] = Seq("backfill" -> backfillMs.size,
    "refresh" -> refreshMs.size, "memo_hit" -> memoMs.size, "serve" -> serveMs.size,
    "lookup" -> lookupMs.size)

  override def traceExtras: Map[String, Double] = {
    val perOp = storeStats.toSeq.flatMap { case (op, xs) =>
      Seq(s"core.store.commits.$op" -> Stats.mean(xs.map(_._1)),
        s"core.store.bytes_written.$op" -> Stats.mean(xs.map(_._2)),
        s"core.store.files_written.$op" -> Stats.mean(xs.map(_._3)))
    }
    perOp.toMap ++ Map(
      "core.store.write_amp.refresh" -> Stats.mean(writeAmp),
      "core.store.rewrite_frac.refresh" -> Stats.mean(rewriteFrac),
      "core.store.versions_end" -> versionCount / 2,
      "core.runner.novel_ratio.refresh" -> Stats.mean(refreshNovel))
  }
}
