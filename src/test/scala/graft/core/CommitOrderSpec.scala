package graft.core

import graft.SparkSpec
import java.io.IOException
import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `failfs` scheme, whose `create` fails
  * for every file name ending with one of [[FailingFs.suffixes]] — a crash
  * at that point of a commit. */
class FailingFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: URI = URI.create("failfs:///")
    }) {
  override def getScheme: String = "failfs"
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (FailingFs.suffixes.exists(f.getName.endsWith))
      throw new IOException(s"injected failure creating $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingFs {
  @volatile var suffixes: Set[String] = Set.empty
}

/** A version's manifest `N.json` is the commit point: its sidecars (stats,
  * Z-order layout) are written first, so a crash between them never leaves
  * a committed version without them, and a commit removes any sidecar of
  * its version that an earlier crashed attempt left behind. */
class CommitOrderSpec extends SparkSpec {
  import spark.implicits._

  test("a commit whose sidecar write fails commits nothing; the retry commits the version with its sidecars") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailingFs].getName)
    conf.setBoolean("fs.failfs.impl.disable.cache", true)
    val local = tmpDir("commit_order")
    val store = new BucketedStore(s"failfs://$local", numBuckets = 4)
    def sidecar(name: String) = new java.io.File(s"$local/f/_graft_log/$name").exists
    def failing[T](suffix: String)(body: => T): Unit =
      try {
        FailingFs.suffixes = Set(suffix)
        intercept[IOException](body)
      } finally FailingFs.suffixes = Set.empty
    def ids = store.read("f", Seq("id")).select("id", "x").as[(Int, Double)]
      .collect().sortBy(_._1).toSeq

    val df = (1 to 100).map(i => (i, i * 1.0, i % 7)).toDF("id", "x", "y")
    store.write(df, "f", Seq("id"))

    // a clustered version without its layout would be hash-routed
    failing(".zorder")(store.writeClustered(df, "f", Seq("id"), Seq("x", "y")))
    assert(store.latestVersion("f").contains(0L), "v1 committed without its .zorder")
    // a version without stats would leave every later commit tracking none
    failing(".stats.tsv")(store.write(df, "f", Seq("id"), statsCols = Seq("x")))
    assert(store.latestVersion("f").contains(0L), "v1 committed without its stats")

    // the retried write commits v1 with its stats
    assert(store.write(df, "f", Seq("id"), statsCols = Seq("x")) == 1L)
    assert(sidecar("1.stats.tsv") && !sidecar("1.zorder"))
    assert(store.scanPruned("f", Seq("id"), "x", 1.0, 3.0).inputFiles.nonEmpty)

    // a crash at the manifest leaves v2's sidecars behind; the hash write
    // that then commits v2 must not adopt them
    failing("2.json")(store.writeClustered(df, "f", Seq("id"), Seq("x", "y")))
    assert(store.latestVersion("f").contains(1L))
    assert(sidecar("2.zorder") && sidecar("2.stats.tsv"))
    assert(store.write(df, "f", Seq("id")) == 2L)
    assert(!sidecar("2.zorder") && !sidecar("2.stats.tsv"))
    assert(store.clusteredBy("f", 2L).isEmpty)
    // hash-routed, so a merge is accepted and lands on its key
    store.merge("f", Seq((5, 50.0, 5)).toDF("id", "x", "y"), Seq("id"))
    assert(ids == df.select("id", "x").as[(Int, Double)].collect().toSeq
      .map { case (i, x) => (i, if (i == 5) 50.0 else x) })

    // and a clustered write commits with its layout and stats
    val vz = store.writeClustered(df, "f", Seq("id"), Seq("x", "y"))
    assert(store.clusteredBy("f", vz) == Seq("x", "y"))
    assert(sidecar(s"$vz.stats.tsv"))
  }
}
