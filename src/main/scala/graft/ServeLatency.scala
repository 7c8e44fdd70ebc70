package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fastlane serving-latency measurement (reference promise: low-latency
  * single-row serving — reference: README.md:47-50). Reports the serving
  * lane's wall latency — [[graft.streaming.Fastlane.serveOnceBucketed]]:
  * transform + file-level MERGE into a [[core.BucketedStore]] — as
  * p50/p95/p99 over `calls` single-row invocations into a 1k-row feature,
  * the p50 into a 500k-row feature (SPARK_GRAFT_SERVE_BIG_N), and next to
  * them the full batch-lane cost ([[core.PipelineRunner.runBucketed]]: memo
  * anti-join, merge, checks, report) on the same one-row frame — the gap
  * between the two is what the fastlane exists to avoid.
  *
  * Usage: runMain graft.ServeLatency [calls]  (default 100)
  * Prints two JSON lines, {"metric":"serve_latency", ...} and
  * {"metric":"serve_latency_large_table", ...}.
  *
  * `--sustained [seconds]` (default 120): the THROUGHPUT record — drive the
  * serving lane continuously for N seconds and report serves/sec with
  * p50/p95/p99 over the whole window.
  */
object ServeLatency {
  private val feature = core.FeatureDef(
    name = "user_value_sum",
    entityKeys = Seq("user_id"),
    codeVersion = "v1",
    transform = df => df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").cast("double").as("sum_value")))

  private def fmt(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)

  /** p50/p95/p99 of `lat` (ms). */
  private def pcts(lat: Seq[Double]): (Double, Double, Double) = {
    val s = lat.sorted
    def p(q: Double) = s((q * (s.size - 1)).round.toInt)
    (p(0.5), p(0.95), p(0.99))
  }

  /** Wall ms of each of `n` calls of `call(i)`. */
  private def timed(n: Int)(call: Long => Unit): Seq[Double] = (1 to n).map { i =>
    val t0 = System.nanoTime()
    call(i.toLong)
    (System.nanoTime() - t0) / 1e6
  }

  /** A 64-bucket store in a fresh temp dir, bootstrapped with `seed` so
    * every measured call is a MERGE into an existing table (the serving
    * steady state), not a bootstrap write. */
  private def seeded(seed: DataFrame)(implicit spark: SparkSession): core.BucketedStore = {
    val root = java.nio.file.Files.createTempDirectory("graft_servelat").toString
    val store = new core.BucketedStore(root, numBuckets = 64)
    streaming.Fastlane.serveOnceBucketed(feature, seed, store)
    store
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--sustained")) {
      sustained(args.lift(1).map(_.toInt).getOrElse(120))
      return
    }
    val calls = args.headOption.map(_.toInt).getOrElse(100)
    implicit val spark: SparkSession = LocalSession("ERROR")
    import spark.implicits._
    def oneRow(i: Long) = Seq((i, i * 2.0)).toDF("user_id", "value")
    def serve(store: core.BucketedStore)(i: Long): Unit = {
      streaming.Fastlane.serveOnceBucketed(feature, oneRow(i), store); ()
    }

    val store = seeded((1L to 1000L).map(i => (i, i * 1.5)).toDF("user_id", "value"))
    // warm-up, not billed: codegen, parquet writer and JIT. The p50 still
    // falls between 20 and 100 warm-up calls (~230 → ~185 ms on a 4-core
    // box), so 100 puts the measured calls in the steady state
    timed(100)(i => serve(store)(8000000L + i))
    val (p50, p95, p99) = pcts(timed(calls)(i => serve(store)(4000000L + i)))

    // batch lane on the SAME one-row frame: full run machinery + store write
    val registry = new core.Registry(store.root)
    val batch = timed(10) { i =>
      core.PipelineRunner.runBucketed(feature, oneRow(2000000L + i), store, registry); ()
    }.sorted
    println(s"""{"metric":"serve_latency","calls":$calls,"p50_ms":${fmt(p50)},"p95_ms":${fmt(p95)},"p99_ms":${fmt(p99)},"batch_p50_ms":${fmt(batch(batch.size / 2))},"batch_min_ms":${fmt(batch.head)}}""")

    // at a LARGE stored table the merge still rewrites one bucket
    // (1/numBuckets of the table) per call, so the p50 should stay near
    // the 1k-row one
    val bigN = sys.env.getOrElse("SPARK_GRAFT_SERVE_BIG_N", "500000").toLong
    val big = seeded(spark.range(1L, bigN + 1).select(col("id").as("user_id"),
      (col("id") * 1.5).as("value")))
    timed(5)(i => serve(big)(5000000L + i))
    val (bigP50, _, _) = pcts(timed(15)(i => serve(big)(6000000L + i)))
    println(s"""{"metric":"serve_latency_large_table","rows":$bigN,"p50_ms":${fmt(bigP50)}}""")
    spark.stop()
  }

  /** Sustained-throughput record: serve continuously for `seconds` and
    * report serves/sec + tail latencies. */
  private def sustained(seconds: Int): Unit = {
    implicit val spark: SparkSession = LocalSession("ERROR")
    import spark.implicits._
    def oneRow(i: Long) = Seq((i, i * 2.0)).toDF("user_id", "value")
    val store = seeded((1L to 1000L).map(i => (i, i * 1.5)).toDF("user_id", "value"))
    timed(5)(i => streaming.Fastlane.serveOnceBucketed(feature, oneRow(9500000L + i), store))

    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0L
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      streaming.Fastlane.serveOnceBucketed(feature, oneRow(7000000L + i), store); i += 1
      lat += (System.nanoTime() - t0) / 1e6
    }
    val (p50, p95, p99) = pcts(lat.toSeq)
    println(s"""{"metric":"sustained_serve","route":"bucketed","seconds":$seconds,"serves":${lat.size},"serves_per_sec":${fmt(lat.size.toDouble / seconds)},"p50_ms":${fmt(p50)},"p95_ms":${fmt(p95)},"p99_ms":${fmt(p99)},"max_ms":${fmt(lat.max)}}""")
    spark.stop()
  }
}
