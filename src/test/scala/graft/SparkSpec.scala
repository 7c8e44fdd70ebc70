package graft

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
  def jobNamesDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val open = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closed = scala.concurrent.Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description")).orNull match {
          case "jobsDuring:open" => open.set(true)
          case "jobsDuring:close" => closed.trySuccess(())
          case _ => if (open.get && !closed.isCompleted)
            started.add(js.stageInfos.map(_.name).mkString("; "))
        }
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
      (r, started.toArray(Array.empty[String]).toSeq)
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
