package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** sf1 fixture generator: replicate the sf0.1 tables `factor`x with
  * SHAPE-PRESERVING transforms, so the full 110-query protocol (engine bench
  * AND the DuckDB oracle harness) runs at 10x the usual bench scale on
  * identical data for both engines.
  *
  * Replication rules (per replica i > 0):
  *  - region/nation: NOT replicated — fixed-size dims, exactly as TPC-H
  *    holds them constant across scale factors;
  *  - customer/supplier/part/orders/lineitem/events: every primary AND
  *    foreign key shifts by i·OFFSET(table), so each replica family joins
  *    only within itself — join fan-out and per-key group sizes stay
  *    constant while global row counts and group COUNTS scale linearly
  *    (dates/timestamps keep the original range, as TPC-H does: more rows
  *    per window, not more windows);
  *  - documents: replica i prefixes every token with "xi" (the
  *    ScaleRehearsal transform): all shingles differ across families, so
  *    the true near-dup pair count scales linearly, never quadratically;
  *    n_chars is recomputed for the transformed text;
  *  - embeddings: replica i rotates the 64 dims by i — norms and
  *    intra-family cosines are preserved (same near-dup structure per
  *    family), cross-family cosines decorrelate.
  *
  * Each table lands as ONE parquet file `outDir/<name>.parquet` (same
  * layout the driver fixtures use, readable by both Spark and DuckDB).
  * events.ts is written as TIMESTAMP(MICROS); Tables.load handles both the
  * driver's TIMESTAMP(NANOS)-as-long layout and this one.
  *
  * Usage: runMain graft.Sf1Gen [baseDir] [outDir] [factor]
  */
object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession("WARN")

    // key offsets: comfortably above each table's key range at sf0.1 so
    // replica families can never collide
    val CUST = 1000000L
    val SUPP = 100000L
    val PART = 1000000L
    val ORD = 10000000L
    val EVT = 10000000L
    val DOC = 100000L
    val VEC = 100000L

    def replicate(base: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => if (i == 0) base else shift(base, i))
        .reduce(_ unionByName _)

    def writeOne(df: DataFrame, name: String): Unit = {
      val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(s"$outDir/__tmp_$name")
      // repartition(1), NOT coalesce(1): coalesce would propagate the
      // single-partition constraint upstream and run the whole 10x
      // replicate/transform in one task; repartition keeps it parallel and
      // serializes only the write.
      // SMALL row groups (1 MB vs the 128 MB default): a single-file table
      // with ONE row group cannot be split, so every explode-heavy scan
      // serializes onto one core however the split configs are set (r10:
      // q140 span dedup read 13.8 s on the one-row-group layout vs 2.3 s
      // on an 11-file copy of the same rows). Production tables have many
      // files/row groups; the fixture must too, while keeping the
      // single-FILE `<name>.parquet` contract DuckDB shares.
      df.repartition(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (1024 * 1024).toString)
        .parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $name"))
      val dest = new Path(s"$outDir/$name.parquet")
      if (fs.exists(dest)) fs.delete(dest, false)
      fs.rename(part, dest)
      fs.delete(tmp, true)
      println(s"""{"table":"$name","rows":${spark.read.parquet(dest.toString).count()}}""")
    }

    def T(name: String) = Tables.load(spark, baseDir, name)

    writeOne(T("region"), "region")
    writeOne(T("nation"), "nation")
    writeOne(replicate(T("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * CUST))
    }, "customer")
    writeOne(replicate(T("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * SUPP))
    }, "supplier")
    writeOne(replicate(T("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * PART))
    }, "part")
    writeOne(replicate(T("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * ORD))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CUST))
    }, "orders")
    writeOne(replicate(T("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ORD))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PART))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * SUPP))
    }, "lineitem")
    writeOne(replicate(T("events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * EVT))
        .withColumn("user_id", col("user_id") + lit(i * CUST))
    }, "events")
    writeOne(replicate(T("documents")) { (d, i) =>
      // "_" delimiter: unambiguous across replica families at any factor
      // (bare "x$i" collides for factor > 10 — x1+"1t" == x11+"t")
      d.withColumn("doc_id", col("doc_id") + lit(i * DOC))
        .withColumn("text",
          concat(lit(s"x${i}_"), regexp_replace(col("text"), " ", s" x${i}_")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    writeOne(replicate(T("embeddings")) { (d, i) =>
      d.withColumn("vec_id", col("vec_id") + lit(i * VEC))
        .withColumn("embedding",
          concat(slice(col("embedding"), i % 64 + 1, 64 - i % 64),
            slice(col("embedding"), 1, i % 64)))
    }, "embeddings")

    println(s"""{"metric":"sf1gen_done","out":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
