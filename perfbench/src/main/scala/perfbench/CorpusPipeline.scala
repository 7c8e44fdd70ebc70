package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TrackedCache
import graft.core.TrackedCache.TrackedDataset
import graft.ops.{Dedup, Shards, TextOps}

/** `corpus_pipeline`: a fixed number of full passes of the q292 chain over a
  * generated corpus, each forced with the noop sink as graft.Bench forces a
  * query. Every pass rebuilds the chain from the stored input and releases
  * its tracked persists afterwards, so no pass reuses another's work. */
final class CorpusPipeline(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload(spark, tr) {
  val NDocs = 4000
  val Passes = 2
  private var inputDir: String = _
  private var corpus: Gen.Corpus = _
  private var advisory = 0L
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val digests = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageRows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]

  def advisoryBytes: Long = advisory

  def generate(repeat: Int): Unit = {
    import spark.implicits._
    val root = s"$work/corpus-$repeat"
    rm(root)
    corpus = Gen.corpus(seed, NDocs)
    corpus.docs.toDF().repartition(4).write.parquet(s"$root/documents")
    inputDir = root
    // the ADVICE item: advisoryFor lists top-level files only, so this
    // directory-per-table layout resolves to its 64m fallback
    advisory = graft.BenchConf.advisoryFor(root, Runtime.getRuntime.availableProcessors())
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
  }

  def warmUp(): Unit = pass(observe = false)

  /** One pass of the chain; the output's digest (order-insensitive hash
    * sum, row count, planted rows present) rides the final stage as an
    * observation, so checking it adds no job. Every engine and Spark call
    * of the pass sits in a call span, so the traced run leaves no part of
    * it to the benchmark's own code. */
  private def pass(observe: Boolean): Unit = {
    val (corpusDf, evalSet) = tr.call("spark", "read.parquet") {
      val docs = spark.read.parquet(s"$inputDir/documents")
      (docs.filter(col("doc_id") % 10 < 9).select("doc_id", "text", "source"),
        docs.filter(col("doc_id") % 10 === 9))
    }
    // in the traced run each stage boundary is forced, so each stage's
    // span holds exactly its own jobs; keep ratios come from those counts
    var rowsIn = corpus.docs.count(_.doc_id % 10 != 9).toLong
    def stage(name: String)(body: => DataFrame): DataFrame =
      if (!tr.enabled) body
      else {
        val (out, n) = tr.call("ops", s"stage:$name") {
          val p = body.persistTracked()
          (p, p.count())
        }
        stageRows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((rowsIn, n))
        rowsIn = n
        out
      }
    val fdocs = stage("filter") {
      tr.call("ops", "TextOps.filterPipeline") {
        TextOps.filterPipeline(corpusDf, "doc_id", "text",
          wantedLangs = Seq("en", "de"),
          gopherMinWords = 10, gopherMinStopHits = 1, c4MinSentences = 1,
          passthrough = Seq("text", "source"))
      }.where(col("accept"))
        .select(col("id").as("doc_id"), col("text"), col("source"))
        .persistTracked()
    }
    val pdocs = stage("paragraph_dedup") {
      tr.call("ops", "Dedup.paragraphDedup") {
        Dedup.paragraphDedup(fdocs, "doc_id", "text", 20)
      }.where(col("n_kept") > 0)
        .select(col("id").as("doc_id"), col("clean_text").as("text"))
        .join(fdocs.select("doc_id", "source"), Seq("doc_id"))
        .persistTracked()
    }
    val ndocs = stage("near_dedup") {
      tr.call("ops", "Dedup.dedupCorpusNear") {
        Dedup.dedupCorpusNear(pdocs, "doc_id", "text",
          n = 3, numHashes = 12, bands = 4, threshold = 0.2)
      }.persistTracked()
    }
    val ddocs = stage("decontaminate") {
      val contaminated = tr.call("ops", "TextOps.contaminationReport") {
        TextOps.contaminationReport(ndocs, evalSet,
          "doc_id", "text", "doc_id", "text", n = 3, minShared = 2)
      }.select("doc_id").distinct()
      ndocs.join(contaminated, Seq("doc_id"), "left_anti").persistTracked()
    }
    val mdocs = stage("mixture") {
      tr.call("ops", "TextOps.temperatureMixture") {
        TextOps.temperatureMixture(ddocs.select("doc_id", "source"), "doc_id", "source",
          temperature = 0.5)
      }
    }
    val out = stage("shards") {
      tr.call("ops", "Shards.assign") {
        Shards.assign(mdocs, "doc_id", nShards = 8)
      }.select("doc_id", "source", "shard").orderBy("doc_id")
    }
    val obs = Observation("digest")
    tr.call("spark", "noop") {
      val planted = (corpus.exactDups ++ corpus.contaminated).toSeq
      val observed = if (!observe) out else out.observe(obs,
        sum(xxhash64(col("doc_id"), col("source"), col("shard"))
          .cast("decimal(38,0)")).cast("string").as("h"),
        count(lit(1)).as("n"),
        sum(when(col("doc_id").isin(planted: _*), 1L).otherwise(0L)).as("planted"))
      observed.write.format("noop").mode("overwrite").save()
    }
    if (observe) {
      val m = obs.get
      digests += ((String.valueOf(m("h")), m("n").asInstanceOf[Long],
        m("planted").asInstanceOf[Long]))
    }
    tr.call("spark", "TrackedCache.release")(TrackedCache.release())
  }

  def run(): Unit =
    (1 to Passes).foreach(_ => timed("pass", passMs)(pass(observe = true)))

  val checksRun = 3
  def check(): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    if (digests.map(d => (d._1, d._2)).distinct.size != 1)
      f += s"pass digests differ: ${digests.distinct.mkString(",")}"
    if (digests.exists(_._2 <= 0)) f += "a pass produced no rows"
    if (digests.exists(_._3 != 0))
      f += s"planted duplicates or contaminated docs survived: ${digests.map(_._3).max}"
    // the digest is printed so runs with the same seed can be compared
    System.err.println(s"[perfbench] corpus digest ${digests.headOption.getOrElse("")}")
    f.toSeq
  }

  def e2e: Seq[(String, (Double, String))] = {
    val inputDocs = corpus.docs.count(_.doc_id % 10 != 9).toDouble
    Seq(
      "corpus_docs_per_s" -> (inputDocs / (Stats.median(passMs.toSeq) / 1000.0), "docs/s"),
      "pass_p50_ms" -> (Stats.median(passMs.toSeq), "ms"),
      "pass_p90_ms" -> (Stats.pct(passMs.toSeq, 0.9), "ms"),
      "first_pass_s" -> (passMs.head / 1000.0, "s"))
  }

  def sampleCounts: Seq[(String, Int)] = Seq("pass" -> passMs.size)

  override def traceExtras: Map[String, Double] =
    stageRows.map { case (s, xs) =>
      s"ops.keep_ratio.$s" -> Stats.mean(xs.map { case (i, o) => o.toDouble / math.max(1L, i) })
    }.toMap
}
