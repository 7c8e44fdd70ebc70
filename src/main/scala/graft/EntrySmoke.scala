package graft

/** t1 smoke: run SparkEntry.entry exactly as the driver does. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("WARN", cpus = "4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5)
    println(s"[smoke] entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    assert(n > 0)
    spark.stop()
  }
}
