package graft

import java.io.{File, RandomAccessFile}

class BenchConfSpec extends SparkSpec {
  private def file(dir: File, name: String, bytes: Long): Unit = {
    dir.mkdirs()
    val f = new RandomAccessFile(new File(dir, name), "rw")
    try f.setLength(bytes) finally f.close()
  }

  test("advisoryFor counts the files of table subdirectories, and flat layouts as before") {
    val mb = 1L << 20
    // directory-per-table layout: every byte sits one level down
    val nested = new File(tmpDir("adv_nested"))
    file(new File(nested, "orders"), "part-0.parquet", 6 * mb)
    file(new File(nested, "orders"), "part-1.parquet", 2 * mb)
    file(new File(nested, "lineitem/day=1"), "part-0.parquet", 4 * mb)
    assert(BenchConf.advisoryFor(nested.toString, 2) == 6 * mb)

    // flat layout: the same sum the top-level listing gave
    val flat = new File(tmpDir("adv_flat"))
    file(flat, "customer.parquet", 3 * mb)
    file(flat, "orders.parquet", 9 * mb)
    assert(BenchConf.advisoryFor(flat.toString, 4) == 3 * mb)
    // floor, cap and the fallback for an unreadable or empty input
    assert(BenchConf.advisoryFor(flat.toString, 64) == mb)
    val big = new File(tmpDir("adv_big"))
    file(big, "huge.parquet", 600 * mb)
    assert(BenchConf.advisoryFor(big.toString, 2) == 256 * mb)
    assert(BenchConf.advisoryFor(new File(flat, "missing").toString, 4) == 64 * mb)
    assert(BenchConf.advisoryFor(tmpDir("adv_empty"), 4) == 64 * mb)

    // a Spark-written flat dir (part files next to _SUCCESS and checksum
    // files) resolves to what the top-level listing of its data gave
    val written = new File(tmpDir("adv_spark"), "events").toString
    spark.range(200000).selectExpr("hash(id) as h", "xxhash64(id) as v").repartition(2).write.parquet(written)
    val p = new org.apache.hadoop.fs.Path(written)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val topLevel = fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    assert(topLevel > mb, topLevel)
    assert(BenchConf.advisoryFor(written, 1) == topLevel)
  }
}
