package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fastlane serving-latency measurement (reference promise: low-latency
  * single-row serving — reference: README.md:47-50). Reports warm-session
  * [[graft.streaming.Fastlane.serveOnce]] wall latency (transform + store
  * MERGE included) as p50/p95/p99 over `calls` single-row invocations, next
  * to the full batch-lane cost (PipelineRunner.run: fingerprint, memo
  * anti-join, checks, report, store write) on the same one-row frame — the
  * gap between the two is what the fastlane exists to avoid.
  *
  * Usage: runMain graft.ServeLatency [calls]  (default 100)
  * Prints one JSON line {"metric":"serve_latency", ...}.
  *
  * `--sustained [seconds]` (default 120): the THROUGHPUT record — drive
  * the [[graft.streaming.Fastlane.ServingSession]] and appendDelta routes
  * continuously for N seconds each and report serves/sec with p50/p95/p99
  * over the whole window; the append window runs ONE `store.compact`
  * cycle at half-time (the batch-lane maintenance a production deployment
  * interleaves), so the tail latencies include serving THROUGH a
  * compaction and the record shows the post-compaction window separately.
  */
object ServeLatency {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--sustained")) {
      sustained(args.lift(1).map(_.toInt).getOrElse(120))
      return
    }
    if (args.headOption.contains("--concurrent")) {
      concurrent(args.lift(1).map(_.toInt).getOrElse(30))
      return
    }
    val calls = args.headOption.map(_.toInt).getOrElse(100)
    implicit val spark: SparkSession = LocalSession("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_servelat").toString
    val store = new core.FeatureStore(root)
    val registry = new core.Registry(root)
    val feature = core.FeatureDef(
      name = "user_value_sum",
      entityKeys = Seq("user_id"),
      codeVersion = "v1",
      transform = df => df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").cast("double").as("sum_value")))

    // seed the store so every measured call is a MERGE into an existing
    // table (the serving steady state), not a bootstrap write
    val seed = (1L to 1000L).map(i => (i, i * 1.5)).toDF("user_id", "value")
    store.write(core.Versioning.withSystemColumns(feature.transform(seed), feature),
      feature.name, Map("mode" -> "seed"))

    def oneRow(i: Long) = Seq((i, i * 2.0)).toDF("user_id", "value")

    // warm-up: codegen, parquet committer, Derby — not billed
    (1 to 5).foreach(i => streaming.Fastlane.serveOnce(feature, oneRow(9000000L + i), store)(spark))

    val lat = (1 to calls).map { i =>
      val t0 = System.nanoTime()
      streaming.Fastlane.serveOnce(feature, oneRow(1000000L + i), store)(spark)
      (System.nanoTime() - t0) / 1e6 // ms
    }.sorted
    def pct(p: Double) = lat((p * (lat.size - 1)).round.toInt)

    // warm serving session: version tracked in-session, fused one-action
    // merge, AQE pinned off — the COW route minus its per-call fixed costs
    val session = new streaming.Fastlane.ServingSession(feature, store)
    (1 to 5).foreach(i => session.serve(oneRow(9500000L + i)))
    val sess = (1 to calls).map { i =>
      val t0 = System.nanoTime()
      session.serve(oneRow(7000000L + i))
      (System.nanoTime() - t0) / 1e6
    }.sorted

    // file-level serving merge ([[streaming.Fastlane.serveOnceBucketed]]):
    // rewrites only the served key's bucket (1/numBuckets of the table) —
    // the merge whose latency is independent of table size
    val bstore = new core.BucketedStore(s"$root/bucketed", numBuckets = 64)
    streaming.Fastlane.serveOnceBucketed(feature, seed, bstore) // bootstrap
    (1 to 5).foreach(i =>
      streaming.Fastlane.serveOnceBucketed(feature, oneRow(8000000L + i), bstore))
    val bucketed = (1 to calls).map { i =>
      val t0 = System.nanoTime()
      streaming.Fastlane.serveOnceBucketed(feature, oneRow(4000000L + i), bstore)
      (System.nanoTime() - t0) / 1e6
    }.sorted

    // the O(batch) delta-append serving write ([[streaming.Fastlane
    // .serveAppend]]'s per-batch path): no table rewrite, no merge read —
    // the lowest-latency write the store offers
    val append = (1 to calls).map { i =>
      val out = core.Versioning.withSystemColumns(
        feature.transform(oneRow(3000000L + i)), feature)
      val t0 = System.nanoTime()
      store.appendDelta(feature.name, out)
      (System.nanoTime() - t0) / 1e6
    }.sorted

    // batch lane on the SAME one-row frame: full run machinery + store write
    val batch = (1 to 10).map { i =>
      val t0 = System.nanoTime()
      core.PipelineRunner.run(feature, oneRow(2000000L + i), store, registry)
      (System.nanoTime() - t0) / 1e6
    }.sorted

    def fmt(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    println(s"""{"metric":"serve_latency","calls":$calls,"p50_ms":${fmt(pct(0.5))},"p95_ms":${fmt(pct(0.95))},"p99_ms":${fmt(pct(0.99))},"session_p50_ms":${fmt(sess(sess.size / 2))},"session_p95_ms":${fmt(sess((0.95 * (sess.size - 1)).round.toInt))},"bucketed_p50_ms":${fmt(bucketed(bucketed.size / 2))},"bucketed_p95_ms":${fmt(bucketed((0.95 * (bucketed.size - 1)).round.toInt))},"append_p50_ms":${fmt(append(append.size / 2))},"append_p95_ms":${fmt(append((0.95 * (append.size - 1)).round.toInt))},"batch_p50_ms":${fmt(batch(batch.size / 2))},"batch_min_ms":${fmt(batch.head)}}""")

    // the crossover the bucketed route exists for: at a LARGE stored table,
    // the copy-on-write merge rewrites every row per call (O(table)) while
    // the file-level merge rewrites 1/numBuckets — per-call wall should
    // separate by ~table size / bucket size here and keep separating as the
    // table grows
    val bigN = sys.env.getOrElse("SPARK_GRAFT_SERVE_BIG_N", "500000").toLong
    val big = spark.range(1L, bigN + 1).select(col("id").as("user_id"),
      (col("id") * 1.5).as("value"))
    val root2 = java.nio.file.Files.createTempDirectory("graft_servelat_big").toString
    val flatBig = new core.FeatureStore(root2)
    val buckBig = new core.BucketedStore(s"$root2/bucketed", numBuckets = 64)
    streaming.Fastlane.serveOnce(feature, big, flatBig)
    streaming.Fastlane.serveOnceBucketed(feature, big, buckBig)
    val flatLarge = (1 to 5).map { i =>
      val t0 = System.nanoTime()
      streaming.Fastlane.serveOnce(feature, oneRow(5000000L + i), flatBig)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val buckLarge = (1 to 15).map { i =>
      val t0 = System.nanoTime()
      streaming.Fastlane.serveOnceBucketed(feature, oneRow(6000000L + i), buckBig)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    println(s"""{"metric":"serve_latency_large_table","rows":$bigN,"flat_merge_p50_ms":${fmt(flatLarge(flatLarge.size / 2))},"bucketed_merge_p50_ms":${fmt(buckLarge(buckLarge.size / 2))}}""")
    spark.stop()
  }

  /** Concurrency record: N caller threads sharing ONE [[streaming.Fastlane
    * .ServingSession]] — the r18 contract serializes `serve` (the COW merge
    * commits a store version per call; two interleaved merges would race
    * the version chain), so this measures what that serialization costs
    * callers: aggregate serves/sec should hold ~flat across thread counts
    * (the session is the bottleneck, not the callers) while per-call wall
    * latency grows ~linearly with queue depth. A deployment needing
    * parallel serving capacity runs one session PER feature (clones are
    * cheap — `newSession()` shares the SparkContext), not more threads on
    * one session; this record is the measured argument. */
  private def concurrent(secondsPerLevel: Int): Unit = {
    implicit val spark: SparkSession = LocalSession("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_concserve").toString
    val store = new core.FeatureStore(root)
    val feature = core.FeatureDef(
      name = "user_value_sum",
      entityKeys = Seq("user_id"),
      codeVersion = "v1",
      transform = df => df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").cast("double").as("sum_value")))
    val seed = (1L to 1000L).map(i => (i, i * 1.5)).toDF("user_id", "value")
    store.write(core.Versioning.withSystemColumns(feature.transform(seed), feature),
      feature.name, Map("mode" -> "seed"))

    val session = new streaming.Fastlane.ServingSession(feature, store)
    (1 to 5).foreach(i =>
      session.serve(Seq((9500000L + i, i * 2.0)).toDF("user_id", "value")))

    def fmt(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    for (threads <- Seq(1, 2, 4, 8)) {
      val deadline = System.nanoTime() + secondsPerLevel * 1000000000L
      val buffers = Array.fill(threads)(
        scala.collection.mutable.ArrayBuffer.empty[Double])
      val workers = (0 until threads).map { t =>
        new Thread(() => {
          // serve() plans on the serving clone internally; the caller
          // thread needs no session bookkeeping of its own
          var i = 0L
          while (System.nanoTime() < deadline) {
            val row = Seq((1000000L * (t + 1) + i, i * 2.0))
              .toDF("user_id", "value")
            val t0 = System.nanoTime()
            session.serve(row)
            buffers(t) += (System.nanoTime() - t0) / 1e6
            i += 1
          }
        }, s"serve-caller-$t")
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
      val lat = buffers.flatten.sorted.toSeq
      def p(q: Double) = lat((q * (lat.size - 1)).round.toInt)
      println(s"""{"metric":"concurrent_serve","threads":$threads,"seconds":$secondsPerLevel,"serves":${lat.size},"serves_per_sec":${fmt(lat.size.toDouble / secondsPerLevel)},"p50_ms":${fmt(p(0.5))},"p95_ms":${fmt(p(0.95))},"p99_ms":${fmt(p(0.99))},"max_ms":${fmt(lat.max)}}""")
    }
    spark.stop()
  }

  /** Sustained-throughput record: serve continuously for `seconds` per
    * route and report serves/sec + tail latencies. The append route runs
    * one `store.compact` at half-time IN the serving loop, so its p95/p99
    * and the post-compaction split show what maintenance costs a live
    * server. */
  private def sustained(seconds: Int): Unit = {
    implicit val spark: SparkSession = LocalSession("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_sustained").toString
    val store = new core.FeatureStore(root)
    val feature = core.FeatureDef(
      name = "user_value_sum",
      entityKeys = Seq("user_id"),
      codeVersion = "v1",
      transform = df => df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").cast("double").as("sum_value")))
    val seed = (1L to 1000L).map(i => (i, i * 1.5)).toDF("user_id", "value")
    store.write(core.Versioning.withSystemColumns(feature.transform(seed), feature),
      feature.name, Map("mode" -> "seed"))
    def oneRow(i: Long) = Seq((i, i * 2.0)).toDF("user_id", "value")

    def fmt(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def pcts(lat: Seq[Double]): (Double, Double, Double) = {
      val s = lat.sorted
      def p(q: Double) = s((q * (s.size - 1)).round.toInt)
      (p(0.5), p(0.95), p(0.99))
    }

    // route 1: the warm ServingSession (COW merge on a dedicated clone)
    val session = new streaming.Fastlane.ServingSession(feature, store)
    (1 to 5).foreach(i => session.serve(oneRow(9500000L + i)))
    val deadline1 = System.nanoTime() + seconds * 1000000000L
    var i1 = 0L
    val lat1 = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline1) {
      val t0 = System.nanoTime()
      session.serve(oneRow(7000000L + i1)); i1 += 1
      lat1 += (System.nanoTime() - t0) / 1e6
    }
    val (s1p50, s1p95, s1p99) = pcts(lat1.toSeq)
    println(s"""{"metric":"sustained_serve","route":"serving_session","seconds":$seconds,"serves":${lat1.size},"serves_per_sec":${fmt(lat1.size.toDouble / seconds)},"p50_ms":${fmt(s1p50)},"p95_ms":${fmt(s1p95)},"p99_ms":${fmt(s1p99)},"max_ms":${fmt(lat1.max)}}""")

    // route 2: O(batch) delta appends with ONE compact cycle at half-time
    val deadline2 = System.nanoTime() + seconds * 1000000000L
    val half = System.nanoTime() + seconds * 500000000L
    var i2 = 0L
    var compacted = false
    var compactMs = 0.0
    var postCompactFrom = -1
    val lat2 = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline2) {
      if (!compacted && System.nanoTime() >= half) {
        val t0 = System.nanoTime()
        store.compact(feature.name, feature.entityKeys)
        compactMs = (System.nanoTime() - t0) / 1e6
        compacted = true
        postCompactFrom = lat2.size
      }
      val out = core.Versioning.withSystemColumns(
        feature.transform(oneRow(3000000L + i2)), feature)
      val t0 = System.nanoTime()
      store.appendDelta(feature.name, out); i2 += 1
      lat2 += (System.nanoTime() - t0) / 1e6
    }
    val (a50, a95, a99) = pcts(lat2.toSeq)
    // the compact fields only exist when a compact cycle actually RAN: if
    // the loop exited before half-time, a drop(-1 -> 0) split would report
    // the ENTIRE window as "post-compaction" beside compact_ms=0.0 — a
    // misleading record; omit the fields instead
    val compactFields = if (compacted) {
      val post = lat2.drop(postCompactFrom).toSeq
      val (pc50, pc95, _) = if (post.nonEmpty) pcts(post) else (0.0, 0.0, 0.0)
      s""","compact_ms":${fmt(compactMs)},"post_compact_p50_ms":${fmt(pc50)},"post_compact_p95_ms":${fmt(pc95)},"post_compact_serves":${post.size}"""
    } else ""
    println(s"""{"metric":"sustained_serve","route":"append_delta","seconds":$seconds,"serves":${lat2.size},"serves_per_sec":${fmt(lat2.size.toDouble / seconds)},"p50_ms":${fmt(a50)},"p95_ms":${fmt(a95)},"p99_ms":${fmt(a99)},"max_ms":${fmt(lat2.max)}$compactFields}""")
    spark.stop()
  }
}
