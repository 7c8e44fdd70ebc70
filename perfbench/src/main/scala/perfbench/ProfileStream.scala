package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.BucketedStore
import graft.ops.{Similarity, Stats => OpStats, TextOps}
import graft.streaming.Fastlane

/** `profile_stream`: seeded micro-batches offered one at a time to three
  * Fastlane profile loops (token, 64-d embedding, numeric by source), each on
  * its default trigger. The next batch is offered only after all three have
  * committed. After every batch a dashboard read runs four drift routes
  * against stored reference profiles. */
final class ProfileStream(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload(spark, tr) {
  val BatchRows = 400
  val TimedBatches = 1
  // batch 1 is ingested during set-up
  val MaxBatches = 1 + TimedBatches
  val Window = 3
  val Dim = 64
  val TopM = 20
  val BaseVocab = 3000
  val VocabGrowth = 40
  val NullSourceShare = 0.1
  val RefRows = 1000
  val Schema = "doc_id LONG, text STRING, embedding ARRAY<FLOAT>, value DOUBLE, source STRING"
  val Loops = Seq("token", "embedding", "numeric_by_group")

  private var root: String = _
  private var store: BucketedStore = _
  private var advisory = 0L
  private var batches: Map[Int, Seq[Gen.StreamRow]] = Map.empty
  private val offered = mutable.ArrayBuffer.empty[(Int, Seq[String])] // batch, files
  private var nextBatch = 1
  private val batchMs, driftMs, dashboardMs = mutable.ArrayBuffer.empty[Double]
  private var timedRows = 0L
  private val loopRuns = mutable.ArrayBuffer.empty[(String, String, Double)] // runId, loop, start ms
  private val writes = mutable.ArrayBuffer.empty[(Double, (Double, Double))] // commits, (bytes, files)

  def advisoryBytes: Long = advisory

  def generate(repeat: Int): Unit = {
    import spark.implicits._
    root = s"$work/profile-$repeat"
    rm(root)
    offered.clear(); nextBatch = 1; timedRows = 0L
    val vocab = Gen.vocabulary(new scala.util.Random(seed), BaseVocab + VocabGrowth * (MaxBatches + 1))
    val ref = Gen.streamBatch(seed, 0, RefRows, Dim, vocab, BaseVocab, VocabGrowth, NullSourceShare)
    ref.toDF().write.parquet(s"$root/ref")
    val refDf = spark.read.parquet(s"$root/ref")
    TextOps.tokenProfile(refDf, "text").write.parquet(s"$root/ref_token")
    Similarity.embeddingProfile(refDf, "embedding", Dim).write.parquet(s"$root/ref_embedding")
    OpStats.numericProfileByGroup(refDf, "value", "source").write.parquet(s"$root/ref_numeric")
    batches = (1 to MaxBatches).map(b => b ->
      Gen.streamBatch(seed, b, BatchRows, Dim, vocab, BaseVocab, VocabGrowth, NullSourceShare)).toMap
    batches.toSeq.flatMap { case (b, rows) => rows.map(r => (b, r)) }
      .map { case (b, r) => (b, r.doc_id, r.text, r.embedding, r.value, r.source) }
      .toDF("batch", "doc_id", "text", "embedding", "value", "source")
      .repartition(1, col("batch")).write.partitionBy("batch").parquet(s"$root/staging")
    advisory = graft.BenchConf.advisoryFor(s"$root/ref", Runtime.getRuntime.availableProcessors())
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
    store = new BucketedStore(s"$root/store", numBuckets = 16)
  }

  /** Batch 1 goes into the measured store untimed, so every timed batch is
    * a steady-state merge-add; then one dashboard read warms the routes. */
  def warmUp(): Unit = {
    ingest(nextBatch)
    nextBatch += 1
    dashboard(measured = false)
  }

  private def ref(name: String): DataFrame = spark.read.parquet(s"$root/ref_$name")

  /** Offer batch `b` and run the three loops until each has committed it. */
  private def ingest(b: Int): Unit = {
    val src = s"$root/src"
    val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    val files = new java.io.File(s"$root/staging/batch=$b").listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val to = java.nio.file.Paths.get(s"$src/b$b-${f.getName}")
        java.nio.file.Files.move(f.toPath, to)
        to.toString
      }
    offered += ((b, files.toSeq))
    def stream() = spark.readStream.schema(Schema).parquet(src)
    val queries = mutable.LinkedHashMap.empty[StreamingQuery, Span]
    try {
      Loops.foreach { loop =>
        val span = tr.begin("streaming", s"Fastlane.ingest:$loop")
        val t0 = Clock.nowMs()
        val q = loop match {
          case "token" =>
            Fastlane.ingestTokenProfile(stream(), "text", store, "tprof", s"$ckpt/token")(spark)
          case "embedding" =>
            Fastlane.ingestEmbeddingProfile(stream(), "embedding", store, "eprof",
              s"$ckpt/embedding", dim = Dim)(spark)
          case "numeric_by_group" =>
            Fastlane.ingestNumericProfileByGroup(stream(), "value", "source", store, "nprof",
              s"$ckpt/numeric")(spark)
        }
        queries(q) = span
        loopRuns += ((q.runId.toString, loop, t0))
      }
      tr.reparent()
      // each loop's span ends when its own query has terminated
      while (queries.nonEmpty) {
        spark.streams.awaitAnyTermination()
        queries.keys.filterNot(_.isActive).toSeq.foreach { q =>
          tr.end(queries(q))
          queries -= q
          q.exception.foreach(e => throw e)
        }
        spark.streams.resetTerminated()
      }
    } finally queries.keys.foreach(_.stop())
  }

  private def versionCount: Double =
    Seq("tprof", "eprof", "nprof").map(f => store.versions(f).size +
      store.versions(s"${f}_ingest_cursor").size).sum.toDouble

  /** The four drift routes of one dashboard read, one after another. */
  private def dashboard(measured: Boolean): Unit = {
    val t0 = System.nanoTime()
    val windowFiles = offered.takeRight(Window).flatMap(_._2).toSeq
    def route(name: String)(body: => Any): Unit =
      if (!measured) body
      else timed("drift_read", driftMs)(tr.call("ops", s"route:$name")(body))
    route("token_served") {
      val p = tr.call("core.store", "BucketedStore.read")(store.read("tprof", Seq("token")))
      TextOps.tokenDriftFromProfiles(p, ref("token"), TopM).collect()
    }
    route("embedding_served") {
      val p = tr.call("core.store", "BucketedStore.read")(store.read("eprof", Seq("pos", "bin")))
      Similarity.embeddingDriftFromProfiles(p, ref("embedding")).collect()
    }
    route("numeric_by_group_served") {
      val p = tr.call("core.store", "BucketedStore.read")(store.read("nprof", Seq("source", "bin")))
      OpStats.numericShapeDriftByGroupFromProfiles(p, ref("numeric"), "source").collect()
    }
    route("token_by_group_direct") {
      TextOps.tokenDriftByGroup(spark.read.schema(Schema).parquet(windowFiles: _*),
        spark.read.parquet(s"$root/ref"), "text", "source", TopM).collect()
    }
    if (measured) dashboardMs += (System.nanoTime() - t0) / 1e6
  }

  /** A fixed amount of work: [[TimedBatches]] batches, each followed by a
    * whole dashboard read. */
  def run(): Unit =
    while (nextBatch <= MaxBatches) {
      val b = nextBatch
      nextBatch += 1
      val (v0, f0) = if (tr.enabled) (versionCount, dirFiles(s"$root/store")) else (0.0, Map.empty[String, Long])
      timed("batch", batchMs)(ingest(b))
      timedRows += batches(b).size
      if (tr.enabled) writes += ((versionCount - v0, added(f0, dirFiles(s"$root/store"))))
      dashboard(measured = true)
    }

  val checksRun = 7
  def check(): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val rows = offered.flatMap { case (b, _) => batches(b) }
    val all = spark.read.schema(Schema).parquet(s"$root/src")
    def set(df: DataFrame, cols: String*) = df.select(cols.map(col): _*).collect().toSet
    val tokens = rows.map(_.text.split(" ").count(_.nonEmpty).toLong).sum
    val tp = store.read("tprof", Seq("token"))
    val grown = Seq(set(tp, "token", "n"), set(store.read("eprof", Seq("pos", "bin")), "pos", "bin", "n", "s"),
      set(store.read("nprof", Seq("source", "bin")), "source", "bin", "n"))
    val oneBatch = Seq(set(TextOps.tokenProfile(all, "text"), "token", "n"),
      set(Similarity.embeddingProfile(all, "embedding", Dim), "pos", "bin", "n", "s"),
      set(OpStats.numericProfileByGroup(all, "value", "source"), "source", "bin", "n"))
    // the Σn audit: tokens, vector components and non-NULL-source values offered
    val offeredN = Seq(tokens, Dim.toLong * rows.size, rows.count(_.source != null).toLong)
    Seq("token", "embedding", "numeric").zip(grown.zip(oneBatch).zip(offeredN)).foreach {
      case (name, ((g, one), n)) =>
        val sumN = g.toSeq.map(r => r.getLong(r.fieldIndex("n"))).sum
        if (sumN != n) f += s"$name profile sum(n) $sumN != $n offered"
        if (g != one) f += s"stream-grown $name profile differs from a one-batch build"
    }
    val served = TextOps.tokenDriftFromProfiles(tp, ref("token"), TopM).orderBy("rank").collect().toSeq
    val direct = TextOps.tokenDrift(all, spark.read.parquet(s"$root/ref"), "text", TopM)
      .orderBy("rank").collect().toSeq
    if (served.isEmpty || served != direct) f += "profile-served token drift != direct tokenDrift"
    f.toSeq
  }

  def e2e: Seq[(String, (Double, String))] = Seq(
    "ingest_rows_per_s" -> (timedRows / (batchMs.sum / 1000.0), "rows/s"),
    "ingest_batch_p50_ms" -> (Stats.median(batchMs.toSeq), "ms"),
    "ingest_batch_p90_ms" -> (Stats.pct(batchMs.toSeq, 0.9), "ms"),
    "drift_read_p50_ms" -> (Stats.median(driftMs.toSeq), "ms"),
    "drift_read_p90_ms" -> (Stats.pct(driftMs.toSeq, 0.9), "ms"),
    "dashboard_ms" -> (Stats.median(dashboardMs.toSeq), "ms"),
    "first_batch_s" -> (batchMs.head / 1000.0, "s"))

  def sampleCounts: Seq[(String, Int)] = Seq("batch" -> batchMs.size, "drift_read" -> driftMs.size)

  override def traceExtras: Map[String, Double] = {
    // time from a loop's start() to the start of its first trigger
    val firstTrigger = tr.progress.toArray(Array.empty[ProgressRec]).groupBy(_.runId)
      .map { case (id, ps) => id -> ps.map(_.triggerStart).min }
    val starts = loopRuns.flatMap { case (id, _, t0) => firstTrigger.get(id).map(_ - t0) }
    Map("streaming.start_ms" -> Stats.mean(starts),
      "core.store.commits.batch" -> Stats.mean(writes.map(_._1)),
      "core.store.bytes_written.batch" -> Stats.mean(writes.map(_._2._1)),
      "core.store.files_written.batch" -> Stats.mean(writes.map(_._2._2)),
      "core.store.versions_end" -> versionCount / 6)
  }
}
