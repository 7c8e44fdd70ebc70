package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The repository benchmark. One JVM, one `local[nproc]` session, one client
  * thread driving one workload in a closed loop:
  *
  * {{{
  * perfbench.Main --workload <corpus_pipeline|feature_lane|profile_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--records <dir>]
  * }}}
  *
  * Every run does a fixed amount of work; `--seconds` is the length the
  * caller expects of the measured region and is kept in the run record next
  * to the measured length (`measured_s`).
  *
  * Prints one row with the workload's end-to-end metrics (every metric
  * name, `-` where a metric belongs to another workload), with `--trace 1`
  * the per-layer table, and as its last line the result object
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  val GenerateRepeats = 2

  /** Engine settings, pinned as constants that mirror graft.Bench's defaults.
    * The AQE advisory size is derived from the generated input. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections: the least of three. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.valueOf(v)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val runSeconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = new java.io.File(args("work")).getAbsolutePath
    val records = new java.io.File(args.getOrElse("records", work)).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg1()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tr = new Tracer(traced)
    val w: Workload = workloadName match {
      case "corpus_pipeline" => new CorpusPipeline(spark, tr, seed, work)
      case "feature_lane" => new FeatureLane(spark, tr, seed, work)
      case "profile_stream" => new ProfileStream(spark, tr, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session + generation + warm-up. Generation is repeated into
    // fresh directories and its median taken; the last repetition's inputs
    // are the ones measured.
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setups = (1 to GenerateRepeats).map(i => seconds(w.generate(i)))
    val warmS = seconds(w.warmUp())
    val setupS = sessionS + Stats.median(setups) + warmS
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      w.advisoryBytes.toString)

    tr.install(spark)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    w.run()
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcDuring = gcMs() - gc0
    tr.reparent()

    val checkFailures = w.check()
    val checkS = (System.nanoTime() - t0) / 1e9 - measuredS
    checkFailures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val heap = liveHeapMb()
    val attempted = w.attempted + w.checksRun
    val failed = w.failed + checkFailures.size
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "error_rate" -> (failed.toDouble / math.max(1, attempted), "ratio"),
      "live_heap_mb" -> (heap, "MiB")) ++ w.e2e

    // the row of every end-to-end metric, '-' where another workload owns it
    val row = Workloads.e2eNames.map { case (n, unit) =>
      e2e.get(n).map { case (v, u) => s"$n=${fmt(v)} $u" }.getOrElse(s"$n=- $unit")
    }
    println(s"workload=$workloadName seed=$seed trace=${if (traced) 1 else 0} " +
      s"cores=$cores loadavg_start=$load0 advisory_bytes=${w.advisoryBytes} " +
      s"samples=${w.sampleCounts.map { case (k, v) => s"$k:$v" }.mkString(",")}")
    println(row.mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Workloads.contract(workloadName, e2e.toMap)
      else {
        tr.drain(spark)
        val layer = new Layers(tr, cores, w.traceExtras ++ Map("jvm.gc_ms" -> gcDuring.toDouble))
        val table = layer.metrics
        table.foreach { case (n, v, u) => println(f"layer $n%-44s ${fmt(v)} $u") }
        new java.io.File(records).mkdirs()
        layer.writeSpans(s"$records/trace-$workloadName-$seed.jsonl")
        layer.summary.foreach(println)
        table.filter(m => workloadName == "corpus_pipeline" || !Layers.corpusOnly(m._1))
      }

    val record = new java.io.File(records)
    record.mkdirs()
    val recordJson = Json.obj(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"), "cores" -> cores.toString,
      "loadavg_start" -> fmt(load0), "advisory_bytes" -> w.advisoryBytes.toString,
      "generate_s" -> setups.map(fmt).mkString("[", ",", "]"),
      "seconds" -> fmt(runSeconds),
      "session_s" -> fmt(sessionS), "warm_up_s" -> fmt(warmS),
      "measured_s" -> fmt(measuredS), "check_s" -> fmt(checkS),
      "samples" -> Json.obj(w.sampleCounts.map { case (k, v) => k -> v.toString }: _*),
      "e2e" -> Json.obj(e2e.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> fmt(v), "unit" -> Json.str(u)) }: _*),
      "check_failures" -> checkFailures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> fmt(v), "unit" -> Json.str(u)) }: _*))
    java.nio.file.Files.write(
      new java.io.File(record, s"$workloadName-$seed-${if (traced) 1 else 0}.json").toPath,
      recordJson.getBytes("UTF-8"))

    w.close()
    spark.stop()
    val correct = checkFailures.isEmpty && w.failed == 0
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> fmt(v), "unit" -> Json.str(u)) }: _*)))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A closed-loop workload. `run` issues a fixed sequence of operations;
  * each one is timed through [[timed]] and, when tracing, is one root span. */
abstract class Workload(val spark: SparkSession, val tr: Tracer) {
  protected implicit def implicitSpark: SparkSession = spark
  /** Generate the seeded inputs into a fresh directory numbered `repeat`. */
  def generate(repeat: Int): Unit
  /** Run the workload's call mix once on throwaway state. */
  def warmUp(): Unit
  def run(): Unit
  /** Output checks, run after the timed loop; returns the failures. */
  def check(): Seq[String]
  def checksRun: Int
  def advisoryBytes: Long
  def e2e: Seq[(String, (Double, String))]
  def sampleCounts: Seq[(String, Int)]
  def traceExtras: Map[String, Double] = Map.empty
  def close(): Unit = ()

  var attempted = 0
  var failed = 0

  protected def timed[T](op: String, samples: mutable.ArrayBuffer[Double])(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tr.op(op)(body)
      samples += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $op failed: $e")
        None
    }
  }

  /** Every regular file under `dir` with its size. */
  protected def dirFiles(dir: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val out = mutable.HashMap.empty[String, Long]
    val walk = java.nio.file.Files.walk(base)
    try walk.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) out(p.toString) = java.nio.file.Files.size(p)
    } finally walk.close()
    out.toMap
  }

  /** (bytes, files) present in `after` but not in `before`. */
  protected def added(before: Map[String, Long], after: Map[String, Long]): (Double, Double) = {
    val n = after.filter { case (p, _) => !before.contains(p) }
    (n.values.sum.toDouble, n.size.toDouble)
  }

  protected def rm(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

object Workloads {
  /** Every end-to-end metric a run prints, with its unit. */
  val e2eNames: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "error_rate" -> "ratio", "live_heap_mb" -> "MiB",
    "corpus_docs_per_s" -> "docs/s",
    "backfill_s" -> "s", "refresh_s" -> "s", "memo_hit_s" -> "s",
    "serve_p50_ms" -> "ms", "serve_p90_ms" -> "ms",
    "lookup_p50_ms" -> "ms", "lookup_p90_ms" -> "ms",
    "ingest_rows_per_s" -> "rows/s", "ingest_batch_p90_ms" -> "ms",
    "drift_read_p50_ms" -> "ms", "drift_read_p90_ms" -> "ms")

  /** The result-object metrics: the same names for every workload, each
    * bound to that workload's own end-to-end metric (see perfbench/README.md):
    *
    *  - `rate_per_s`: docs/s of a pass; input rows/s through all
    *    runBucketed calls (backfill, refreshes, memo hits); rows/s ingested;
    *  - `write_ms`: pass p50, fastlane serve p50, ingest batch;
    *  - `read_ms`: lookup p50, one dashboard read of the four drift routes
    *    (none for the corpus pass). The four routes differ in cost, so the
    *    dashboard's whole time is steadier than a median over them. */
  def contract(workload: String, e2e: Map[String, (Double, String)]): Seq[(String, Double, String)] = {
    def v(n: String) = e2e(n)._1
    val (rate, write, read) = workload match {
      case "corpus_pipeline" => (v("corpus_docs_per_s"), v("pass_p50_ms"), None)
      case "feature_lane" =>
        (v("batch_lane_rows_per_s"), v("serve_p50_ms"), Some(v("lookup_p50_ms")))
      case "profile_stream" =>
        (v("ingest_rows_per_s"), v("ingest_batch_p50_ms"), Some(v("dashboard_ms")))
    }
    Seq(("setup_s", v("setup_s"), "s"), ("live_heap_mb", v("live_heap_mb"), "MiB"),
      ("rate_per_s", rate, "1/s"), ("write_ms", write, "ms")) ++
      read.map(r => ("read_ms", r, "ms")).toSeq
  }
}
