package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, computed from the span tree, the job
  * and task records and the query and streaming listeners. Every metric is
  * a mean per operation of its kind (`task_skew`: the median); a metric
  * whose operation does not occur in the workload reads 0. */
final class Layers(tr: Tracer, cores: Int, extras: Map[String, Double]) {
  import Layers._

  private val spans = tr.spans.toSeq
  private val jobs = tr.jobs.values().toArray(Array.empty[JobRec]).toSeq.filter(!_.end.isNaN)
  private val plans = tr.plans.toArray(Array.empty[PlanRec]).toSeq
  private val roots = spans.filter(s => s.parent < 0 && !s.end.isNaN)
  private val byRoot = spans.groupBy(_.root)
  private val jobsBySpan = jobs.groupBy(_.span)

  private def dur(s: Span) = s.end - s.start
  private def jobDur(j: JobRec) = j.end - j.start
  private def subtree(r: Span) = byRoot.getOrElse(r.id, Seq(r))
  private def jobsOf(ids: Iterable[Long]) = ids.toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
  private def jobsUnder(r: Span) = jobsOf(subtree(r).map(_.id))
  private def plansIn(s: Span) = plans.filter(p => p.start >= s.start && p.start <= s.end)

  /** Part of a job's wall time during which none of its tasks ran. */
  private def schedMs(j: JobRec): Double =
    jobDur(j) - Intervals.length(Intervals.clip(j.synchronized(j.taskIntervals.toSeq), j.start, j.end))

  /** max / median task time of the worst stage with two or more tasks. */
  private def skew(js: Seq[JobRec]): Double = {
    val ratios = js.flatMap(j => j.synchronized(j.stageTaskMs.values.map(_.toSeq).toSeq))
      .filter(_.size >= 2).map(ts => ts.max / math.max(1.0, Stats.median(ts)))
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Splits one operation's wall time into disjoint parts, so the parts add
    * up to the root span even when streaming loops run side by side. Every
    * instant of the root goes to the first that holds:
    *
    *  - `task`: a task of one of the operation's jobs runs;
    *  - `sched`: one of its jobs runs, but none of the job's tasks;
    *  - `plan`: a planning phase (analysis, optimization, planning) runs;
    *  - `call:<layer>`: the layer of the innermost open call span, i.e.
    *    driver time in that layer outside Spark jobs and planning;
    *  - `bench`: no call span is open, the benchmark's own code. */
  private def timeline(r: Span): Map[String, Double] = {
    val clip = (xs: Iterable[(Double, Double)]) => Intervals.union(Intervals.clip(xs, r.start, r.end))
    val js = jobsUnder(r)
    val tasks = clip(js.flatMap(j => Intervals.clip(j.synchronized(j.taskIntervals.toSeq), j.start, j.end)))
    val jobIv = clip(js.map(j => (j.start, j.end)))
    val planIv = clip(plansIn(r).map(p => (p.start, p.end)))
    val calls = subtree(r).filter(s => s.id != r.id && !s.end.isNaN)
    val cuts = (Seq(r.start, r.end) ++ Seq(tasks, jobIv, planIv).flatten.flatMap(x => Seq(x._1, x._2)) ++
      calls.flatMap(c => Seq(c.start, c.end))).filter(t => t >= r.start && t <= r.end)
      .distinct.sorted
    def in(iv: Seq[(Double, Double)], m: Double) = iv.exists(x => x._1 <= m && m < x._2)
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val m = (a + b) / 2
        val part =
          if (in(tasks, m)) "task"
          else if (in(jobIv, m)) "sched"
          else if (in(planIv, m)) "plan"
          else calls.filter(c => c.start <= m && m < c.end).sortBy(-_.start)
            .headOption.map("call:" + _.layer).getOrElse("bench")
        out(part) += b - a
      case _ => ()
    }
    out.toMap
  }

  private lazy val timelines: Map[Long, Map[String, Double]] =
    roots.map(r => r.id -> timeline(r)).toMap
  private def part(r: Span, names: String*): Double =
    names.map(n => timelines(r.id).getOrElse(n, 0.0)).sum

  /** Self time of each layer in one operation: Spark for tasks, the
    * scheduling floor, planning and driver time inside the benchmark's own
    * Spark calls (collect, the noop write); otherwise the innermost call's
    * layer, else the benchmark. */
  private def selfByLayer(r: Span): Map[String, Double] =
    timelines(r.id).toSeq.map { case (k, v) =>
      (k match {
        case "task" | "sched" | "plan" => "spark"
        case c if c.startsWith("call:") => c.stripPrefix("call:")
        case other => other
      }) -> v
    }.groupMapReduce(_._1)(_._2)(_ + _)

  private def perOp(op: String)(f: Span => Double): Double =
    Stats.mean(roots.filter(_.op == op).map(f))

  private def callsNamed(prefix: String) =
    spans.filter(s => s.name.startsWith(prefix) && !s.end.isNaN)

  lazy val metrics: Seq[(String, Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Ops.foreach { op =>
      val rs = roots.filter(_.op == op)
      def mean(f: Span => Double) = Stats.mean(rs.map(f))
      m(s"spark.plan_ms.$op") = mean(r => part(r, "plan"))
      m(s"spark.jobs.$op") = mean(r => jobsUnder(r).size.toDouble)
      m(s"spark.sched_ms.$op") = mean(r => part(r, "sched"))
      m(s"spark.cpu_util.$op") = mean(r => jobsUnder(r).map(_.cpuNs).sum / 1e6 / (dur(r) * cores))
      m(s"spark.scan_bytes.$op") = mean(r => jobsUnder(r).map(_.bytesRead).sum.toDouble)
      m(s"spark.shuffle_bytes.$op") = mean(r => jobsUnder(r).map(_.shuffleWrite).sum.toDouble)
      m(s"spark.spill_bytes.$op") = mean(r => jobsUnder(r).map(_.spill).sum.toDouble)
      m(s"spark.task_skew.$op") = if (rs.isEmpty) 0.0 else Stats.median(rs.map(r => skew(jobsUnder(r))))
    }
    StoreOps.foreach(op => m(s"core.store.meta_ms.$op") = perOp(op)(r => part(r, MetaParts: _*)))
    Seq("commits", "bytes_written", "files_written").foreach { k =>
      StoreWriteOps.foreach(op => m(s"core.store.$k.$op") = extras.getOrElse(s"core.store.$k.$op", 0.0))
    }
    Seq("core.store.write_amp.refresh", "core.store.rewrite_frac.refresh",
      "core.store.versions_end", "core.runner.novel_ratio.refresh")
      .foreach(k => m(k) = extras.getOrElse(k, 0.0))
    Seq("backfill", "refresh", "memo_hit").foreach { op =>
      m(s"core.runner.job_ms.$op") = perOp(op)(r => Intervals.length(
        jobsUnder(r).filter(j => layerOf(j.callSite) == "core.runner").map(j => (j.start, j.end))))
    }
    Stages.foreach { st =>
      val ss = callsNamed(s"stage:$st")
      m(s"ops.stage_ms.$st") = Stats.mean(ss.map(dur))
      m(s"ops.keep_ratio.$st") = extras.getOrElse(s"ops.keep_ratio.$st", 0.0)
      m(s"ops.shuffle_bytes.$st") = Stats.mean(ss.map(s => jobsOf(Seq(s.id)).map(_.shuffleWrite).sum.toDouble))
    }
    Routes.foreach(rt => m(s"ops.route_ms.$rt") = Stats.mean(callsNamed(s"route:$rt").map(dur)))
    // every job of a micro-batch carries the call site of the query's
    // start(), so a loop's jobs cannot be split by file: the metric is the
    // wall time the loop's jobs cover, profile build and merge together
    LoopNames.foreach { lp =>
      m(s"ops.profile_ms.$lp") = Stats.mean(callsNamed(s"Fastlane.ingest:$lp").map(s =>
        Intervals.length(jobsOf(Seq(s.id)).map(j => (j.start, j.end)))))
    }
    val progress = tr.progress.toArray(Array.empty[ProgressRec]).toSeq
    Phases.foreach(ph => m(s"streaming.phase_ms.$ph") =
      Stats.mean(progress.map(_.durations.getOrElse(ph, 0L).toDouble)))
    m("streaming.start_ms") = extras.getOrElse("streaming.start_ms", 0.0)
    // driver time of the ingest loops outside jobs and planning: query
    // start and stop, offset and commit logs, and the store's fence read
    // and commit inside foreachBatch, which no span can reach
    m("streaming.driver_ms.batch") = perOp("batch")(r => part(r, "call:streaming"))
    m("jvm.gc_ms") = extras.getOrElse("jvm.gc_ms", 0.0)
    val wall = roots.map(dur).sum
    val self = roots.map(selfByLayer)
    SelfLayers.foreach(l => m(s"self_share.$l") =
      if (wall <= 0) 0.0 else self.map(_.getOrElse(l, 0.0)).sum / wall)
    m.toSeq.map { case (k, v) => (k, if (v.isNaN) 0.0 else v, unitOf(k)) }
  }

  /** Each operation's wall time split into the parts of [[timeline]]
    * (pooled over the operation's runs), then the layer claims:
    * scheduling floor + planning + store metadata are most of a serve and
    * a lookup and a minority of a corpus pass, and in every operation the
    * call spans, jobs and planning phases leave at most [[MaxBenchShare]]
    * of the root span to the benchmark's own code. */
  def summary: Seq[String] = {
    Ops.filter(op => roots.exists(_.op == op)).flatMap { op =>
      val rs = roots.filter(_.op == op)
      val wall = rs.map(dur).sum
      def share(names: String*) = rs.map(r => part(r, names: _*)).sum / wall
      val parts = (Seq("task", "sched", "plan") ++ SelfLayers.filter(_ != "bench").map("call:" + _) :+
        "bench").map(n => f"$n=${share(n)}%.3f").mkString(" ")
      val floor = share(("sched" +: "plan" +: MetaParts): _*)
      val bench = rs.map(r => part(r, "bench") / dur(r)).max
      def verdict(ok: Boolean) = if (ok) "met" else "NOT met"
      Seq(f"op $op n=${rs.size} wall_ms=${wall / rs.size}%.1f parts[$parts]") ++
        FloorMajority.get(op).map { most =>
          f"claim $op sched+plan+meta_share=$floor%.3f ${if (most) ">" else "<"} 0.5: " +
            verdict(if (most) floor > 0.5 else floor < 0.5)
        } :+ f"claim $op max_bench_share=$bench%.4f <= $MaxBenchShare: ${verdict(bench <= MaxBenchShare)}"
    } :+ {
      val outside = jobs.count(_.span < 0)
      s"jobs=${jobs.size} jobs_outside_operations=$outside spans=${spans.size} plans=${plans.size}"
    }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach(s => w.println(Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "root" -> s.root.toString, "op" -> Json.str(s.op), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> Main.fmt(s.start), "end_ms" -> Main.fmt(s.end))))
      jobs.foreach(j => w.println(Json.obj("job" -> j.jobId.toString, "parent" -> j.span.toString,
        "name" -> Json.str(j.callSite), "layer" -> Json.str(layerOf(j.callSite)),
        "start_ms" -> Main.fmt(j.start), "end_ms" -> Main.fmt(j.end),
        "sched_ms" -> Main.fmt(schedMs(j)), "cpu_ms" -> Main.fmt(j.cpuNs / 1e6))))
    } finally w.close()
  }
}

object Layers {
  val Ops = Seq("pass", "backfill", "refresh", "memo_hit", "serve", "lookup", "batch", "drift_read")
  val StoreOps = Seq("backfill", "refresh", "memo_hit", "serve", "lookup", "drift_read")
  val StoreWriteOps = Seq("backfill", "refresh", "serve", "batch")
  /** Timeline parts that make up `core.store.meta_ms`: driver time in the
    * store and in the runner's store calls, outside Spark jobs and planning. */
  val MetaParts = Seq("call:core.store", "call:core.runner")
  /** Operations whose floor (sched + plan + meta) should be most (true) or a
    * minority (false) of the wall time. */
  val FloorMajority = Map("serve" -> true, "lookup" -> true, "pass" -> false)
  val MaxBenchShare = 0.05
  val Stages = Seq("filter", "paragraph_dedup", "near_dedup", "decontaminate", "mixture", "shards")
  val Routes = Seq("token_served", "embedding_served", "numeric_by_group_served", "token_by_group_direct")
  val LoopNames = Seq("token", "embedding", "numeric_by_group")
  val Phases = Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")
  val SelfLayers = Seq("spark", "core.store", "core.runner", "ops", "streaming", "bench")

  private val layerFiles: Seq[(String, Set[String])] = Seq(
    "core.store" -> Set("BucketedStore", "FeatureStore"),
    "core.runner" -> Set("PipelineRunner", "Versioning", "Registry", "Checks"),
    "streaming" -> Set("Fastlane", "StreamOps"),
    "bench" -> Set("CorpusPipeline", "FeatureLane", "ProfileStream", "Main", "Layers", "Trace"))

  /** Layer of a job from its `callSite.short` ("count at File.scala:12"):
    * the file of the first frame outside Spark. */
  def layerOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").split("\\.scala").head
    layerFiles.collectFirst { case (l, fs) if fs(file) => l }
      .getOrElse(if (OpsFiles(file)) "ops" else "spark")
  }
  private val OpsFiles = Set("TextOps", "Dedup", "Shards", "Similarity", "Stats", "Events",
    "AsOfJoin", "Multimodal", "RangeJoin", "SafeMap", "SkewJoin", "TimeCols", "TopK", "TypedAggs")

  def unitOf(name: String): String = name.split('.').toSeq match {
    case Seq("spark", "jobs", _*) => "count"
    case Seq("spark", k, _*) if k.endsWith("_bytes") => "bytes"
    case Seq("spark", "cpu_util" | "task_skew", _*) => "ratio"
    case Seq("core", "store", "commits" | "files_written" | "versions_end", _*) => "count"
    case Seq("core", "store", "bytes_written", _*) => "bytes"
    case Seq("core", "store", "write_amp" | "rewrite_frac", _*) => "ratio"
    case Seq("core", "runner", "novel_ratio", _*) => "ratio"
    case Seq("ops", "keep_ratio", _*) => "ratio"
    case Seq("ops", "shuffle_bytes", _*) => "bytes"
    case Seq("self_share", _*) => "ratio"
    case _ => "ms"
  }

  /** Per-layer metrics where a larger value is better. */
  def higherIsBetter(name: String): Boolean =
    name.startsWith("spark.cpu_util.") || name.startsWith("ops.keep_ratio.") ||
      name.startsWith("core.runner.novel_ratio.")

  /** Metrics only `corpus_pipeline` produces: the result object of another
    * workload leaves them out. */
  def corpusOnly(name: String): Boolean =
    name.endsWith(".pass") || name.startsWith("ops.stage_ms.") ||
      name.startsWith("ops.keep_ratio.") || name.startsWith("ops.shuffle_bytes.")

  /** Print the per-layer metric list of the listed workloads in
    * BENCHMARK.json's form. */
  def main(args: Array[String]): Unit = {
    val names = new Layers(new Tracer(false), 1, Map.empty).metrics.map(_._1)
      .filterNot(corpusOnly)
    println(names.map(n => Json.obj("name" -> Json.str(n), "unit" -> Json.str(unitOf(n)),
      "better" -> Json.str(if (higherIsBetter(n)) "higher" else "lower"))).mkString("[\n", ",\n", "\n]"))
  }
}
