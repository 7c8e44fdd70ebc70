package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * startup is ~5 s, per-suite sessions would dominate test time). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy implicit val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
  /** Fresh temp dir per call. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs. Listener delivery is async, so
    * two marker jobs bound the window: events arrive in order, so once the
    * closing marker is seen every job started between them was counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, names) = jobNamesDuring(body)
    (r, names.size)
  }

  /** `body`'s result and the names of the Spark jobs it ran, each the
    * names of its stages ("parquet at BucketedStore.scala:…" for a
    * Spark-written store file). */
  def jobNamesDuring[T](body: => T): (T, Seq[String]) =
    eventsDuring(body) { case js: SparkListenerJobStart => js.stageInfos.map(_.name).mkString("; ") }

  /** Spark stages submitted while `body` runs, bounded as [[jobsDuring]]. */
  def stagesDuring[T](body: => T): (T, Int) = {
    val (r, stages) = eventsDuring(body) { case ss: SparkListenerStageSubmitted => ss.stageInfo.stageId }
    (r, stages.size)
  }

  /** Broadcasts created while `body` runs (a stage's task binary, a
    * parquet reader's Hadoop conf, ...): the id gap between two dummy
    * broadcasts, since every broadcast takes the next id. */
  def broadcastsDuring[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    def mark(): Long = { val b = sc.broadcast(0); b.destroy(); b.id }
    val before = mark()
    val r = body
    (r, mark() - before - 1)
  }

  private def eventsDuring[T, E](body: => T)(pick: PartialFunction[SparkListenerEvent, E]): (T, Seq[E]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[E]()
    val open = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closed = scala.concurrent.Promise[Unit]()
    def description(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.job.description")).orNull
    val listener = new SparkListener {
      private def see(e: SparkListenerEvent): Unit =
        if (open.get && !closed.isCompleted) pick.lift(e).foreach(seen.add)
      override def onJobStart(js: SparkListenerJobStart): Unit = description(js.properties) match {
        case "jobsDuring:open" => open.set(true)
        case "jobsDuring:close" => closed.trySuccess(())
        case _ => see(js)
      }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (!Option(description(ss.properties)).exists(_.startsWith("jobsDuring:"))) see(ss)
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsDuring:open")
      val r = body
      marker("jobsDuring:close")
      scala.concurrent.Await.result(closed.future, scala.concurrent.duration.Duration(60, "s"))
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
